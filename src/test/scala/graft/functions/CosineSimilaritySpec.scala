package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark

/** Native cosine expression: numerics bit-equal with the higher-order-fold
  * formulation (the DuckDB-verified reference semantics), null-safe, and
  * codegen-compatible.
  */
class CosineSimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def hofCosine(a: String, b: String) = {
    val dot = s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    val na = s"aggregate($a, 0D, (acc, x) -> acc + x * x)"
    val nb = s"aggregate($b, 0D, (acc, x) -> acc + x * x)"
    expr(s"greatest(-1D, least(1D, $dot / (sqrt($na) * sqrt($nb))))")
  }

  private def vecs() = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (1 to 200).map(i => (i.toLong, Array.fill(64)(rnd.nextDouble() * 2 - 1)))
      .toDF("id", "v")
      .withColumn("q", expr("transform(v, x -> x * 0.5 + 0.1)"))
  }

  test("bit-equal with the higher-order-fold formulation on random vectors") {
    val df = vecs().select(
      GraftFunctions.cosine(col("v"), col("q")).as("native"),
      hofCosine("v", "q").as("hof"))
    assert(df.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("self-similarity is ~1 and the clamp never lets it exceed 1.0") {
    import spark.implicits._
    val sims = vecs().select(GraftFunctions.cosine(col("v"), col("v")).as("s"))
      .collect().map(_.getDouble(0))
    assert(sims.forall(s => s <= 1.0 && s > 1.0 - 1e-12))
    assert(sims.contains(1.0)) // at least one raw value >= 1 got clamped
  }

  test("null input yields null, not a crash") {
    import spark.implicits._
    val r = Seq((Some(Array(1.0, 2.0)), Option.empty[Array[Double]]))
      .toDF("a", "b")
      .select(GraftFunctions.cosine(col("a"), col("b")).as("s"))
      .collect().head
    assert(r.isNullAt(0))
  }

  test("mismatched array lengths yield null (no silent min-length truncation)") {
    import spark.implicits._
    val r = Seq((Array(1.0, 2.0, 3.0), Array(1.0, 2.0)))
      .toDF("a", "b")
      .select(GraftFunctions.cosine(col("a"), col("b")).as("s"))
      .collect().head
    assert(r.isNullAt(0))
  }

  test("a zero-norm vector yields null (cosine undefined; NaN must not pass the clamp)") {
    import spark.implicits._
    val r = Seq((Array(0.0, 0.0, 0.0), Array(1.0, 2.0, 3.0)))
      .toDF("a", "b")
      .select(GraftFunctions.cosine(col("a"), col("b")).as("s"))
      .collect().head
    assert(r.isNullAt(0))
  }

  test("opposite vectors clamp to exactly -1.0") {
    import spark.implicits._
    val v = Seq((Array(1.0, 2.0, -3.0), Array(-1.0, -2.0, 3.0)))
      .toDF("a", "b")
      .select(GraftFunctions.cosine(col("a"), col("b")).as("s"))
      .collect().head.getDouble(0)
    assert(v == -1.0)
  }

  test("sig_matches counts agreeing positions; length mismatch is NULL, not a short-prefix count") {
    import spark.implicits._
    val rows = Seq(
      (1L, Array(1L, 2L, 3L, 4L), Array(1L, 9L, 3L, 8L)), // 2 agree
      (2L, Array(5L, 5L), Array(5L, 5L)),                 // all agree
      (3L, Array(1L, 2L, 3L), Array(1L, 2L)),             // mismatched perms
      (4L, Array.empty[Long], Array.empty[Long]))         // empty = 0, not NULL
      .toDF("id", "a", "b")
      .select(col("id"), GraftFunctions.sigMatches(col("a"), col("b")).as("m"))
      .orderBy("id").collect()
    assert(rows(0).getLong(1) == 2L && rows(1).getLong(1) == 2L)
    assert(rows(2).isNullAt(1))
    assert(rows(3).getLong(1) == 0L)
    // interpreted eval agrees with the codegen path above
    val e = SigMatchCount(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(1L, 2L, 3L), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(1L, 2L), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)))
    assert(e.eval(null) == null)
  }
  test("non-finite accumulators yield NULL, never NaN (r18)") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1e200, 1e200), Array(1e200, 1e200)), // Inf/Inf -> NaN pre-fix
      (2L, Array(Double.NaN, 1.0), Array(1.0, 1.0)),  // NaN lane
      (3L, Array(1e200, 0.0), Array(1.0, 0.0))        // Inf/finite clamps
    ).toDF("id", "a", "b")
      .select($"id", GraftFunctions.cosine(col("a"), col("b")).as("c"))
      .orderBy("id").collect()
    assert(df(0).isNullAt(1), "Inf/Inf must be NULL")
    assert(df(1).isNullAt(1), "NaN lane must be NULL")
    assert(!df(2).isNullAt(1) && df(2).getDouble(1) <= 1.0)
  }

  test("simhash skips a null struct element instead of NPE-ing (r18)") {
    import spark.implicits._
    val out = Seq(1).toDF("x").select(GraftFunctions.simHash32(expr(
      "array(named_struct('h', 3L, 'cnt', 2L), " +
        "CAST(NULL AS struct<h:bigint,cnt:bigint>))")).as("s")).collect()
    // only the live element votes: bits 0 and 1 of h=3 win -> sig = 3
    assert(out(0).getLong(0) == 3L)
  }
}
