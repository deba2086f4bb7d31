package graft.plans

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TopKPerGroup
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.Tables

/** The custom top-k-per-group operator (logical node + strategy +
  * partial/final heap execs): result-transparency against the window-rank
  * formulation, the two-phase physical shape and the spill fallback.
  */
class TopKPerGroupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def native() = {
    val orders = Tables(spark, sf, "orders")
      .select("o_custkey", "o_orderkey", "o_totalprice")
    TopKPerGroup(orders, Seq("o_custkey"),
      Seq(("o_totalprice", true), ("o_orderkey", false)), k = 3)
  }

  test("heap top-k equals the window-rank formulation exactly") {
    val win = {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables(spark, sf, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .drop("rn")
    }
    val got = native()
    assert(got.exceptAll(win).isEmpty && win.exceptAll(got).isEmpty)
    // deterministic: a second evaluation returns the identical multiset
    val again = native()
    assert(got.exceptAll(again).isEmpty && again.exceptAll(got).isEmpty)
  }

  test("plans as partial+final heaps around one exchange, no sort or window") {
    val plan = native().queryExecution.executedPlan.toString
    // the exec node renders without its Exec suffix; partial=true/false
    // show as the trailing boolean
    assert("TopKPerGroup \\[".r.findAllIn(plan).size == 2,
      s"expected partial+final operator pair, got:\n$plan")
    assert(plan.contains("Exchange hashpartitioning(o_custkey"),
      s"final heap must cluster on the group key:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Sort"),
      s"the heap plan must not sort or window:\n$plan")
  }

  test("groups smaller than k keep all rows; k=1 keeps the per-group max") {
    import spark.implicits._
    val tiny = Seq((1L, 10L, 5.0), (1L, 11L, 7.0), (2L, 12L, 1.0))
      .toDF("g", "id", "v")
    val top1 = TopKPerGroup(tiny, Seq("g"), Seq(("v", true), ("id", false)), k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(top1 == Set((1L, 11L), (2L, 12L)))
    val top5 = TopKPerGroup(tiny, Seq("g"), Seq(("v", true), ("id", false)), k = 5)
    assert(top5.count() == 3, "k larger than any group keeps everything")
  }

  test("null group keys and null order values are ordinary values") {
    import spark.implicits._
    val rows = Seq[(java.lang.Long, java.lang.Long, java.lang.Double)](
      (null, 1L, 5.0), (null, 2L, 7.0), (null, 3L, 6.0),
      (1L, 4L, null), (1L, 5L, 2.0))
      .toDF("g", "id", "v")
    val got = TopKPerGroup(rows, Seq("g"), Seq(("v", true), ("id", false)), k = 2)
      .collect().map(r => (Option(r.get(0)), r.getLong(1))).toSet
    // null group: top-2 of {5.0, 7.0, 6.0} by v desc = ids 2, 3.
    // group 1: NULLS LAST under desc (Spark default), so 2.0 beats null.
    assert(got == Set((None, 2L), (None, 3L), (Some(1L), 5L), (Some(1L), 4L)))
  }

  test("tiny buffer budget (partial flush + final sort fallback) is result-transparent") {
    // budget of 4 rows (≥ k=3) forces every partial partition to flush
    // repeatedly AND every final partition into the external-sort path;
    // the result must still equal the window formulation exactly
    spark.conf.set(TopKPerGroup.MaxBufferedRowsKey, "4")
    try {
      val got = native()
      val win = windowTopK()
      assert(got.exceptAll(win).isEmpty && win.exceptAll(got).isEmpty,
        "spill-path result must match the window plan")
      assert(got.count() == win.count())
    } finally spark.conf.unset(TopKPerGroup.MaxBufferedRowsKey)
  }

  test("duplicate column names are an error, not a silent first-match bind") {
    import spark.implicits._
    val dup = Seq((1L, 2L, 3.0)).toDF("g", "id", "v").select(col("g"), col("g"), col("v"))
    val e = intercept[IllegalArgumentException] {
      TopKPerGroup(dup, Seq("g"), Seq(("v", true)), k = 1)
    }
    assert(e.getMessage.contains("ambiguous"))
  }

  private def windowTopK() = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables(spark, sf, "orders")
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .drop("rn")
  }
}
