package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The fused shingle kernel must be BIT-IDENTICAL (as a set) to the
  * declarative tokenize → 3-gram → xxhash64 pipeline it replaces, on real
  * documents and on the edge shapes the regex form defines.
  */
class ShingleHashesSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  test("kernel set equals GroupC.shingles per doc on real sf0.001 documents") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.queries.Tables(spark, sf, "documents")
    val native = docs.select(col("doc_id"),
        explode(GraftFunctions.shingleHashes(col("text")))
          .as("shingle"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sql = graft.queries.GroupC.shingles(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(native.nonEmpty && native == sql)
  }

  test("edge shapes: punctuation runs, case, short docs, no-alnum, empty") {
    import spark.implicits._
    val texts = Seq(
      "The  QUICK--brown,fox;jumps!over the.lazy dog",
      "  leading and trailing   ",
      "a b",             // 2 tokens -> no shingles
      "a b c",           // exactly one shingle
      "a b c a b c a b", // repeated shingles -> distinct set
      "!!! ... ???",     // no alphanumerics
      "",                // empty
      "123 456 789 abc")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val native = df.select(col("doc_id"),
        GraftFunctions.shingleHashes(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // the declarative pipeline (GroupC.shinglesOf's exact expressions)
    val sql = graft.queries.GroupC.shinglesOf(df)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for (i <- texts.indices.map(_.toLong)) {
      assert(native(i) == sql.getOrElse(i, Set.empty[Long]),
        s"doc $i: native ${native(i)} vs sql ${sql.getOrElse(i, Set.empty)}")
    }
    assert(native(3L).size == 1 && native(2L).isEmpty && native(6L).isEmpty)
    assert(native(4L).size == 3) // 6 positions, 3 distinct trigrams
  }

  test("interpreted eval and codegen agree (the expression contract)") {
    import spark.implicits._
    val rows = Seq((1L, "alpha beta gamma delta"), (2L, "x"))
      .toDF("id", "text")
      .select($"id", GraftFunctions.shingleHashes($"text").as("sh"))
      .orderBy("id").collect()
    assert(rows(0).getSeq[Long](1).length == 2)
    assert(rows(1).getSeq[Long](1).isEmpty)
  }
}
