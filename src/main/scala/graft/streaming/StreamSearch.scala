package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of the filtered vector search (d35/d36): an unbounded
  * stream of query vectors served against a STATIC indexed corpus — the
  * online half of a retrieval API, where the corpus updates on a slow
  * batch cadence and queries arrive continuously.
  *
  * A rank-limited window (top-k) is not expressible on an append-mode
  * stream, so each micro-batch runs the PROVEN batch plan via
  * `foreachBatch` — the standard Structured Streaming escape hatch for
  * per-batch relational logic (public Spark docs). The serving math stays
  * exactly d35's: the micro-batch's queries broadcast (bounded by the
  * trigger), the filtered corpus streams once per batch, and a
  * WindowGroupLimit keeps k rows per query. Per-batch state is zero —
  * retrieval is stateless, so there is no watermark to manage; corpus-side
  * tuning/models (AnnTuning, PqIndex, KMeans memos) are driver-memoized
  * and amortize across every batch.
  */
object StreamSearch {

  /** d35's exact filtered top-k for one (micro-)batch of queries:
    * `queries` = (qid, qv: array<double>), `corpus` = (vec_id, matches:
    * boolean, v: array<double>). Queries need not satisfy the predicate.
    */
  def topKBatch(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    // file replay / at-least-once sources can redeliver a qid within one
    // micro-batch; duplicate qid rows would duplicate sims rows and the
    // row_number window would then interleave them, returning ~k/2 distinct
    // neighbors per query — dedup the (tiny, broadcast-bound) query side
    val uniq = queries.dropDuplicates("qid")
    val sims = corpus.filter(col("matches"))
      .join(broadcast(uniq), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nn_id"),
        graft.functions.GraftFunctions.cosine(col("v"), col("qv")).as("s"))
    val w = Window.partitionBy("qid").orderBy(col("s").desc, col("nn_id"))
    sims.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("qid"), col("nn_id"), round(col("s"), 6).as("sim"),
        col("rn").cast("long").as("rn"))
  }

  /** Start serving: every micro-batch of `queries` (a streaming frame with
    * qid + qv columns) is answered against the static `corpus` and handed
    * to `sink` (e.g. a table append). Append-mode, stateless.
    */
  def serve(queries: DataFrame, corpus: DataFrame, k: Int,
            queryName: String, sink: (DataFrame, Long) => Unit): StreamingQuery =
    queries.writeStream
      .queryName(queryName)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        sink(topKBatch(batch.toDF(), corpus, k), batchId)
      }
      .start()

  /** Policy-routed serving (d36's brute/pre/post decision on a stream):
    * the static side never changes mid-stream, so predicate SELECTIVITY is
    * measured ONCE at start — every micro-batch then runs the routed plan
    * (`GroupD.filteredAnnCore`), with the pre/post branch's banding tuned
    * and memoized on the first batch and served as plan literals after.
    * `corpus` = (vec_id, matches: boolean, v: array<double>).
    */
  def servePolicy(queries: DataFrame, corpus: DataFrame, k: Int,
      key: String, queryName: String,
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val sel = graft.queries.GroupD.selectivity(corpus)
    queries.writeStream
      .queryName(queryName)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        sink(graft.queries.GroupD.filteredAnnCore(
          batch.toDF(), corpus, key, k, sel), batchId)
      }
      .start()
  }
}
