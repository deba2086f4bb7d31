package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark

/** Native nearest-centroid expression: bit-identical to the batch
  * KMeans.assignWith argmin, earliest-centroid tie-break, loud NULLs on
  * malformed models, codegen/eval/driver-argmin agreement.
  */
class NearestCentroidSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def callWith(cents: Seq[Seq[Double]]) =
    GraftFunctions.nearestCentroid(col("v"), typedLit(cents))

  private def vecs(n: Int, dim: Int, seed: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian())))
      .toDF("vec_id", "v")
  }

  test("bit-identical to KMeans.assignWith on random vectors and centroids") {
    val rnd = new scala.util.Random(11)
    val dim = 32
    val cents = Array.fill(13)(Array.fill(dim)(rnd.nextGaussian()))
    val df = vecs(300, dim, 12).withColumn("embedding", col("v"))
    val viaAgg = graft.operators.KMeans.assignWith(df.select("vec_id", "embedding"), cents)
      .select("vec_id", "cluster", "d2").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    val viaExpr = df.select(col("vec_id"), callWith(cents.map(_.toSeq).toSeq).as("nc"))
      .select(col("vec_id"), col("nc.cluster"), col("nc.d2")).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    assert(viaExpr == viaAgg, "expression must match the broadcast-argmin plan bit-for-bit")
  }

  test("interpreted eval agrees with codegen") {
    val rnd = new scala.util.Random(21)
    val dim = 8
    val cents = Array.fill(5)(Array.fill(dim)(rnd.nextGaussian())).map(_.toSeq).toSeq
    val df = vecs(100, dim, 22)
    val viaCodegen = df.select(callWith(cents).as("nc")).collect().map(_.toString)
    // interpreted path: evaluate per row via the expression's eval
    val lit = org.apache.spark.sql.catalyst.expressions.Literal
      .create(cents, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)))
    val rows = df.collect()
    val viaEval = rows.map { r =>
      val v = r.getSeq[Double](1)
      val e = NearestCentroid(org.apache.spark.sql.catalyst.expressions.Literal
        .create(v, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)), lit)
      val out = e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      s"[[${out.getInt(0)},${out.getDouble(1)}]]"
    }
    // the driver trainer's argmin over plain arrays
    val viaDriver = rows.map { r =>
      val (c, d2) = NearestCentroid.nearest(r.getSeq[Double](1).toArray,
        cents.map(_.toArray).toArray)
      s"[[$c,$d2]]"
    }
    assert(viaCodegen.sameElements(viaEval))
    assert(viaCodegen.sameElements(viaDriver))
  }

  test("equidistant centroids tie-break to the EARLIEST (assignWith's rule)") {
    import spark.implicits._
    val df = Seq((1L, Array(0.0, 0.0))).toDF("vec_id", "v")
    // centroids 1 and 2 are both at distance 1 — index 1 must win
    val cents = Seq(Seq(5.0, 5.0), Seq(1.0, 0.0), Seq(0.0, 1.0))
    val r = df.select(callWith(cents).as("nc")).head()
    assert(r.getStruct(0).getInt(0) == 1)
    assert(r.getStruct(0).getDouble(1) == 1.0)
  }

  test("empty model and dimension mismatch yield NULL, never a partial argmin") {
    import spark.implicits._
    val df = Seq((1L, Array(1.0, 2.0))).toDF("vec_id", "v")
    assert(df.select(callWith(Seq.empty).as("nc")).head().isNullAt(0))
    assert(df.select(callWith(Seq(Seq(1.0, 2.0), Seq(1.0))).as("nc"))
      .head().isNullAt(0), "one malformed centroid poisons the assignment")
    val nullV = Seq((1L, Option.empty[Array[Double]])).toDF("vec_id", "v")
    assert(nullV.select(callWith(Seq(Seq(0.0))).as("nc")).head().isNullAt(0))
  }
}
