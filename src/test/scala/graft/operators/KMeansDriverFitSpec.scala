package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.Tables

/** The driver-side trainer against the formulation it replaced: on the
  * same training rows, [[KMeans.fit]] must give bit-identical centroids,
  * identical (vec_id, cluster) assignments and the same WCSS (up to
  * double summation order) as [[KMeansReference.fit]], the retired
  * distributed Lloyd loop. Configurations cover both seeding regimes
  * (n ≥ 16k and the rank stride), k > n/16, float, double and sliced
  * inputs, and the 256·k training-sample bound.
  */
class KMeansDriverFitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def corpus(sf: String) = Tables(spark, s"/root/testdata/$sf", "embeddings")
    .select("vec_id", "embedding")

  private val inputs: Seq[(String, DataFrame => DataFrame)] = Seq(
    "float" -> identity,
    "double" -> (_.withColumn("embedding", col("embedding").cast("array<double>"))),
    "sliced" -> (_.withColumn("embedding", expr("slice(embedding, 9, 16)"))))

  private def bits(cents: Array[Array[Double]]) =
    cents.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq).toSeq

  private def pairs(assignments: DataFrame) =
    assignments.select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

  /** The rows the driver trainer reads: the 256·k lowest
    * (xxhash64(vec_id), vec_id), selected here on the driver.
    */
  private def sampleIds(v: DataFrame, k: Int): Set[Long] =
    v.select(col("vec_id"), xxhash64(col("vec_id"))).collect()
      .map(r => (r.getLong(1), r.getLong(0))).sorted.take(256 * k).map(_._2).toSet

  private def sameAsReference(v: DataFrame, k: Int, iters: Int, what: String): Unit = {
    val n = v.count()
    val train = if (n <= 256L * k) v else v.where(col("vec_id").isin(sampleIds(v, k).toSeq: _*))
    val driver = KMeans.fit(v, k, iters)
    val ref = KMeansReference.fit(train, k, iters)
    assert(bits(driver.centroids) == bits(ref.centroids), s"$what: centroids")
    assert(driver.wcss.length == ref.wcss.length, what)
    driver.wcss.zip(ref.wcss).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 1e-12 * math.abs(b), s"$what: wcss ${driver.wcss} vs ${ref.wcss}")
    }
    val got = pairs(driver.assignments)
    val want = pairs(ref.assignments)
    assert(got.size == n, s"$what: assignments cover the input")
    assert(want.forall { case (id, c) => got(id) == c }, s"$what: assignments")
  }

  private val ks = Seq(1, 3, 8, 31, 40, 125, 200)

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); (name, shape) <- inputs)
    test(s"$sf $name: driver fit is bit-identical to the distributed reference") {
      val v = shape(corpus(sf))
      // every k at both iteration counts on the raw input; the converted
      // inputs take the 3-iteration runs
      for (k <- ks; iters <- if (name == "float") Seq(1, 3) else Seq(3))
        sameAsReference(v, k, iters, s"$sf $name k=$k iters=$iters")
    }

  test("decimalUnits equals Spark's cast(x as decimal(25,10)) path, half-unit ties included") {
    def viaString(x: Double) = new java.math.BigDecimal(java.lang.Double.toString(x))
      .setScale(10, java.math.RoundingMode.HALF_UP).unscaledValue.longValueExact
    val rnd = new scala.util.Random(2718)
    val random = Seq.fill(20000)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(17) - 8))
      .filter(x => math.abs(x) < 9e8)
    // doubles nearest to a half-unit at scale 10, and their neighbours
    val ties = Seq.fill(5000) {
      val m = (rnd.nextInt(2000000) - 1000000).toLong * math.pow(10, rnd.nextInt(8)).toLong
      (m + 0.5) * 1e-10
    }.flatMap(x => Seq(math.nextDown(x), x, math.nextUp(x)))
    val floats = Seq.fill(5000)(rnd.nextGaussian().toFloat.toDouble)
    for (x <- random ++ ties ++ floats ++ Seq(0.0, -0.0, 5e-11, -5e-11, 1.5e-10, 1e-300))
      assert(KMeans.decimalUnits(x) == viaString(x), s"x = $x")
  }

  test("the 256·k bound trains on the lowest (xxhash64(vec_id), vec_id) rows") {
    val v = corpus("sf0.001") // 500 rows, so k = 1 reads 256 of them
    val ids = sampleIds(v, 1)
    assert(ids.size == 256 && v.count() == 500)
    val driver = KMeans.fit(v, k = 1, iters = 3)
    val ref = KMeansReference.fit(v.where(col("vec_id").isin(ids.toSeq: _*)), k = 1, iters = 3)
    assert(bits(driver.centroids) == bits(ref.centroids))
    val full = KMeansReference.fit(v, k = 1, iters = 3)
    assert(bits(driver.centroids) != bits(full.centroids), "the sample must not be the whole input")
    val again = KMeans.fit(v, k = 1, iters = 3)
    assert(bits(again.centroids) == bits(driver.centroids) && again.wcss == driver.wcss)
    assert(pairs(driver.assignments).keySet == v.collect().map(_.getLong(0)).toSet,
      "assignments cover all 500 rows, not just the sample")
  }

  test("PqIndex codebooks equal the reference fit on each subspace slice") {
    val nv = corpus("sf0.01").select(col("vec_id"), col("embedding").as("nvec"))
    PqIndex.clearMemo()
    val model = PqIndex.train("driver-fit-pq", nv, m = 4, k = 16, iters = 2)
    assert(model.dim == 64 && model.sub == 16)
    model.codebooks.zipWithIndex.foreach { case (book, i) =>
      val ref = KMeansReference.fit(
        nv.select(col("vec_id"), expr(s"slice(nvec, ${i * 16 + 1}, 16)").as("embedding")),
        k = 16, iters = 2)
      assert(bits(book) == bits(ref.centroids), s"subspace $i")
    }
  }
}
