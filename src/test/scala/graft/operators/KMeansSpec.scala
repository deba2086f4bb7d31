package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.Tables

/** KMeans (d27): determinism, Lloyd's WCSS descent, assignment
  * self-consistency, and coverage — the properties that stand in for the
  * SQL oracle an iterative fixpoint can't have.
  */
class KMeansSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def vectors = Tables(spark, sf, "embeddings")
    .select("vec_id", "embedding")

  test("WCSS is non-increasing across Lloyd iterations") {
    val m = KMeans.fit(vectors, k = 8, iters = 4)
    assert(m.wcss.length == 4)
    m.wcss.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-9, s"WCSS increased: ${m.wcss}")
    }
  }

  test("every vector is assigned exactly one in-range cluster") {
    val m = KMeans.fit(vectors, k = 8, iters = 2)
    val n = vectors.count()
    assert(m.assignments.count() == n)
    assert(m.assignments.select("vec_id").distinct().count() == n)
    assert(m.assignments
      .filter(col("cluster") < 0 || col("cluster") >= 8).isEmpty)
    assert(m.centroids.length == 8 && m.centroids.forall(_.length == 64))
  }

  test("fit accepts array<double> embeddings; float corpora train identically (r18)") {
    // the seeding collects read Seq[Float] and ClassCastException'd on a
    // double column that assignWith itself accepts
    val dv = vectors.withColumn("embedding",
      col("embedding").cast("array<double>"))
    val md = KMeans.fit(dv, k = 5, iters = 2)
    val mf = KMeans.fit(vectors, k = 5, iters = 2)
    assert(md.centroids.map(_.toSeq).toSeq == mf.centroids.map(_.toSeq).toSeq,
      "float->double upcast is exact, so the trained model must match")
  }

  test("rerun is bit-identical (deterministic seeding, means, tie-break)") {
    val a = KMeans.fit(vectors, k = 5, iters = 3)
    val b = KMeans.fit(vectors, k = 5, iters = 3)
    assert(a.wcss == b.wcss)
    assert(a.centroids.map(_.toSeq).toSeq == b.centroids.map(_.toSeq).toSeq)
    assert(a.assignments.orderBy("vec_id").collect().toSeq ==
      b.assignments.orderBy("vec_id").collect().toSeq)
  }

  test("final assignment is the argmin over the returned centroids") {
    val m = KMeans.fit(vectors, k = 4, iters = 2)
    val rows = m.assignments.join(vectors, "vec_id").collect()
    rows.foreach { r =>
      val cluster = r.getInt(1)
      val e = r.getSeq[Float](2).map(_.toDouble)
      val dists = m.centroids.map(c =>
        e.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum)
      val best = dists.zipWithIndex.min._2
      assert(cluster == best,
        s"vec ${r.getLong(0)} assigned $cluster but argmin is $best")
    }
  }

  test("model assignments equal assignWith over the returned centroids") {
    val m = KMeans.fit(vectors, k = 8, iters = 2)
    val trained = m.assignments.collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val served = KMeans.assignWith(vectors, m.centroids)
      .select("vec_id", "cluster").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(trained.nonEmpty && served == trained,
      "the model's lazy assignments must be assignWith over its centroids")
  }

  test("memoized fit serves the cached model; a cleared retrain is identical") {
    KMeans.clearMemo()
    val a = KMeans.fitMemoized("kmeans|spec-memo", vectors, k = 4, iters = 2)
    val b = KMeans.fitMemoized("kmeans|spec-memo", vectors, k = 4, iters = 2)
    assert(a eq b, "second call must hit the memo (no retraining jobs)")
    KMeans.clearMemo()
    val c = KMeans.fitMemoized("kmeans|spec-memo", vectors, k = 4, iters = 2)
    assert(!(a eq c) &&
      a.centroids.map(_.toSeq).toSeq == c.centroids.map(_.toSeq).toSeq,
      "a genuine retrain must reproduce the identical model")
  }

  test("k larger than the corpus degrades to one cluster per vector") {
    val tiny = vectors.filter(col("vec_id") < 3)
    val m = KMeans.fit(tiny, k = 8, iters = 1)
    assert(m.centroids.length == 3)
    assert(m.assignments.select("cluster").distinct().count() == 3)
  }

  test("NULL embeddings are skipped in training and get a NULL cluster") {
    import spark.implicits._
    val df = Seq((0L, None), (1L, Some(Array(0.0, 0.0))), (2L, Some(Array(1.0, 1.0))),
      (3L, Some(Array(5.0, 5.0))), (4L, Some(Array(6.0, 6.0))))
      .toDF("vec_id", "embedding")
    val m = KMeans.fit(df, k = 2, iters = 2)
    assert(m.centroids.map(_.toSeq).toSeq == Seq(Seq(0.5, 0.5), Seq(5.5, 5.5)))
    val got = m.assignments.collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got == Map(0L -> None, 1L -> Some(0), 2L -> Some(0), 3L -> Some(1), 4L -> Some(1)))
  }

  test("a dimension mismatch fails naming the vec_id and both sizes") {
    import spark.implicits._
    val df = Seq((1L, Array(0.0, 0.0)), (2L, Array(1.0, 1.0)), (3L, Array(5.0, 5.0)),
      (4L, Array(6.0))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](KMeans.fit(df, k = 2, iters = 1))
    // the first row in training order sets the expected size: vec 4 is
    // named either as the offender or as that first row
    val msg = e.getMessage
    assert(msg.contains("fixed-dimension") && msg.contains("vec_id 4 has") &&
      msg.contains("has 1") && msg.contains("has 2"), msg)
  }
}
