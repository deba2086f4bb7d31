package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.{GroupD, Tables}

/** BloomContains expression + the d23 bloom-pruned decontamination query.
  * The load-bearing property is NO FALSE NEGATIVES: a key that was put
  * into the filter must always probe true, across both the interpreted
  * (`nullSafeEval`) and codegen paths, and across the
  * `DataFrameStatFunctions.bloomFilter` build ↔ `mightContainLong` probe
  * pair (they must hash identically or the pruned join silently loses
  * rows).
  */
class BloomContainsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("every inserted key probes true (no false negatives)") {
    import spark.implicits._
    val keys = (1L to 5000L).map(i => i * 2654435761L).toDF("k")
    val bytes = BloomContains.serialized(keys, "k")
    val hits = keys
      .filter(GraftFunctions.bloomContains(lit(bytes), col("k")))
      .count()
    assert(hits == 5000L, "bloom filter dropped an inserted key")
  }

  test("false-positive rate on disjoint keys stays near the configured 1%") {
    import spark.implicits._
    val inserted = (1L to 5000L).map(i => i * 2654435761L).toDF("k")
    val bytes = BloomContains.serialized(inserted, "k")
    val probes = (1L to 20000L).map(i => i * 1099511628211L + 7L).toDF("k")
    val fp = probes
      .filter(GraftFunctions.bloomContains(lit(bytes), col("k")))
      .count()
    assert(fp < 20000L * 0.05, s"false-positive rate too high: $fp / 20000")
  }

  test("interpreted eval matches the codegen path") {
    import spark.implicits._
    val keys = (1L to 200L).toDF("k")
    val bytes = BloomContains.serialized(keys, "k")
    val probe = (1L to 400L).toDF("k")
    def run(codegen: String): Seq[Long] = {
      spark.conf.set("spark.sql.codegen.factoryMode", codegen)
      try probe
        .filter(GraftFunctions.bloomContains(lit(bytes), col("k")))
        .collect().map(_.getLong(0)).toSeq.sorted
      finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    assert(run("NO_CODEGEN") == run("CODEGEN_ONLY"))
  }

  test("a NULL literal sketch plans and yields NULL rows, no planning NPE (r18)") {
    import spark.implicits._
    val df = Seq(1L, 2L).toDF("k")
    val out = df.select(
      GraftFunctions.bloomContains(lit(null).cast("binary"), col("k")).as("m"))
    assert(out.collect().forall(_.isNullAt(0)))
    val cms = df.select(
      GraftFunctions.cmsCount(lit(null).cast("binary"), col("k")).as("c"))
    assert(cms.collect().forall(_.isNullAt(0)))
  }

  test("d23 bloom-pruned decontamination equals d19's exact result") {
    val exact = GroupD.d19Decontaminate(spark, sf).collect().toSeq
    val bloom = GroupD.d23BloomDecon(spark, sf).collect().toSeq
    assert(bloom == exact)
    assert(exact.nonEmpty)
  }

  test("d24 fuzzy join matches brute-force levenshtein pairs") {
    val cust = Tables(spark, sf, "customer")
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
    val a = cust.toDF("ida", "na")
    val b = cust.toDF("idb", "nb")
    val brute = a.crossJoin(b)
      .filter(col("ida") < col("idb") &&
        levenshtein(col("na"), col("nb")) <= 1)
      .select(col("ida"), col("idb"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fast = GroupD.d24FuzzyJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast == brute)
    assert(fast.nonEmpty, "sf0.001 should contain distance-1 name pairs")
  }
}
