package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming twin of d51's embedding-drift monitor: tag an unbounded
  * vector stream with its nearest standing-model centroid per row, then
  * watermark-windowed per-cluster counts + out-of-distribution counts —
  * the live dashboard behind the batch retrain trigger
  * (graft.queries.GroupD.d51EmbeddingDrift).
  *
  * Scale shape: the ASSIGNMENT stage is a stateless map-only projection —
  * the k×dim centroid model rides inside the plan as a literal consumed
  * by the native codegen'd [[graft.functions.NearestCentroid]] expression
  * (constant plan size in k; the literal-expression-tree alternative
  * costs O(k·dim) driver codegen, the round-8 perf-dead-end, and the
  * batch broadcast+argmin-aggregate alternative is a shuffle — state, on
  * a stream). The only stateful stage is the windowed count aggregate,
  * whose state is (windows × clusters) rows — model-sized, bounded by the
  * watermark, at any ingest rate.
  *
  * The OOD bar (reference p95 squared distance) and the centroids are
  * STANDING artifacts computed on the reference corpus by the batch side
  * (d51 / KMeans.fitMemoized, durable via ModelStore) — the stream never
  * trains or re-derives them, the d33/AnnTuning serving discipline.
  */
object StreamDrift {

  /** Per-row nearest-centroid tag: adds `cluster` (int) and `d2`
    * (squared distance, double) — bit-identical to the batch
    * `KMeans.assignWith` (pinned in StreamDriftSpec). Pure projection:
    * no shuffle, no streaming state; safe under append mode.
    */
  def assignTag(vectors: DataFrame, cents: Array[Array[Double]],
      vecCol: String = "embedding"): DataFrame = {
    require(!vectors.columns.contains("cluster") &&
      !vectors.columns.contains("d2") && !vectors.columns.contains("__nc"),
      "assignTag writes cluster/d2/__nc — rename colliding caller columns first")
    val centsLit: Column = typedLit(cents.map(_.toSeq).toSeq)
    vectors
      .withColumn("__nc", graft.functions.GraftFunctions.nearestCentroid(
        col(vecCol).cast("array<double>"), centsLit))
      .withColumn("cluster", col("__nc.cluster"))
      .withColumn("d2", col("__nc.d2"))
      .drop("__nc")
  }

  /** Watermarked per-(window, cluster) monitoring counts over a tagged
    * stream: arrivals and how many exceeded the standing OOD bar. State
    * is bounded at windows × clusters rows; emit in update/append per the
    * sink's needs.
    */
  def driftCounts(tagged: DataFrame, tsCol: String, oodD2Bar: Double,
      windowDuration: String, watermarkDelay: String): DataFrame =
    tagged
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDuration), col("cluster"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("d2") > oodD2Bar, 1L).otherwise(0L)).as("n_ood"))
}
