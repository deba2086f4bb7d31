package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.TestSpark.{csvFile, tempDir}
import graft.queries.Tables
import graft.sources.CsvDialect

/** Streaming filtered vector search: each micro-batch of queries is
  * answered against the static corpus with the proven batch plan; results
  * match the batch answer exactly and respect the predicate.
  */
class StreamSearchSpec extends AnyFunSuite {

  test("each micro-batch is answered exactly like the batch plan") {
    val spark = TestSpark.spark
    val sf = "/root/testdata/sf0.001"
    val corpus = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), (col("label") === 1).as("matches"),
        col("embedding").cast("array<double>").as("v"))
    val vecs = corpus.select(col("vec_id").as("qid"), col("v").as("qv"))
    val dir = tempDir("ssearch")
    csvFile(dir, "q1.csv", "qid\n0\n1\n")
    // the query stream carries ids; a stream-static join attaches vectors
    val qStream = CsvStream.readStream(spark, dir, CsvDialect(),
        maxFilesPerTrigger = 1)
      .select(col("qid").cast("long").as("qid"))
      .join(vecs, "qid")
    val got = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    val q = StreamSearch.serve(qStream, corpus, k = 3, "ssearch_spec",
      (df, _) => got ++= df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(3))))
    try {
      q.processAllAvailable()
      def batchAnswer(pred: org.apache.spark.sql.Column): Set[(Long, Long, Long)] =
        StreamSearch.topKBatch(vecs.filter(pred), corpus, 3).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
      assert(got.toSet == batchAnswer(col("qid") < 2),
        "first micro-batch must equal the batch plan's answer")
      // a later batch of queries is served independently (stateless)
      csvFile(dir, "q2.csv", "qid\n2\n")
      q.processAllAvailable()
      assert(got.toSet == batchAnswer(col("qid") < 3))
      assert(got.groupBy(_._1).keySet == Set(0L, 1L, 2L))
      assert(got.groupBy(_._1).values.forall(_.size == 3))
      // every served neighbor satisfies the predicate
      val matching = corpus.filter(col("matches")).collect()
        .map(_.getLong(0)).toSet
      assert(got.forall { case (_, nn, _) => matching(nn) })
    } finally q.stop()
  }

  test("duplicate qids in one micro-batch (at-least-once redelivery) still get k neighbors") {
    val spark = TestSpark.spark
    val sf = "/root/testdata/sf0.001"
    val corpus = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), (col("label") === 1).as("matches"),
        col("embedding").cast("array<double>").as("v"))
    val vecs = corpus.select(col("vec_id").as("qid"), col("v").as("qv"))
    val dup = vecs.filter(col("qid") < 2).unionAll(vecs.filter(col("qid") < 2))
    val rows = StreamSearch.topKBatch(dup, corpus, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    // without the qid dedup, duplicated sims rows interleave under the
    // row_number window and each query surfaces only ~k/2 distinct neighbors
    val byQ = rows.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L))
    assert(byQ.values.forall(g => g.map(_._2).distinct.size == 3))
    val clean = StreamSearch.topKBatch(vecs.filter(col("qid") < 2), corpus, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(rows.toSet == clean)
  }

  test("policy-routed serving answers micro-batches through the d36 machinery") {
    val spark = TestSpark.spark
    val sf = "/root/testdata/sf0.001"
    val corpus = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), (col("label") === 1).as("matches"),
        col("embedding").cast("array<double>").as("v"))
    val vecs = corpus.select(col("vec_id").as("qid"), col("v").as("qv"))
    val dir = tempDir("ssearch_pol")
    csvFile(dir, "q1.csv", "qid\n0\n1\n2\n")
    val qStream = CsvStream.readStream(spark, dir, CsvDialect(),
        maxFilesPerTrigger = 1)
      .select(col("qid").cast("long").as("qid"))
      .join(vecs, "qid")
    val got = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val q = StreamSearch.servePolicy(qStream, corpus, k = 3,
      key = "fann|stream-spec", queryName = "ssearch_policy_spec",
      (df, _) => got ++= df.collect().map(r => (r.getLong(0), r.getLong(1))))
    try {
      q.processAllAvailable()
      assert(got.nonEmpty && got.map(_._1).toSet == Set(0L, 1L, 2L))
      // the routed batch plan gives the identical answer
      val batch = graft.queries.GroupD.filteredAnnCore(
        vecs.filter(col("qid") < 3), corpus, "fann|stream-spec",
        k = 3, graft.queries.GroupD.selectivity(corpus)).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.toSet == batch)
      val matching = corpus.filter(col("matches")).collect()
        .map(_.getLong(0)).toSet
      assert(got.forall { case (_, nn) => matching(nn) })
    } finally q.stop()
  }
}
