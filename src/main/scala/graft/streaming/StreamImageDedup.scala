package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of d78's image near-dup dedup — the ingest gate for a
  * crawled-image feed: each micro-batch of arriving assets is
  * PERCEPTUALLY deduped (dHash-64 via the native pixel decode, Hamming ≤
  * `maxDist`, banded candidate generation) against the standing accepted
  * set plus smaller-id batch peers, and only survivors pass to the sink.
  * Banding stays EXACT (pigeonhole: `maxDist` < 4 bands ⇒ every
  * qualifying pair shares an intact 16-bit band), so the gate's recall
  * is 1 by construction — same contract as the batch query.
  *
  * Like [[StreamIngestDedup]], the per-batch relational body is not an
  * append-mode streaming plan, so it runs per micro-batch via
  * `foreachBatch`; the only streaming state is the standing hash set.
  * Intra-batch semantics mirror d34's rule verbatim: an asset drops if
  * it near-duplicates the standing set OR a batch peer with a SMALLER
  * id, whether or not that peer itself survives.
  *
  * UNPARSEABLE assets (NULL dHash — truncated files, non-BMP bytes) pass
  * the gate (a dup cannot be proven) but never enter the standing side;
  * the caller's downstream quality gate owns them. That choice keeps the
  * gate monotone: accepting junk never suppresses a future real image.
  *
  * Scale shape: the standing side carries (asset_id, 8-byte dhash) —
  * never pixels — so the standing band index is tiny relative to the
  * corpus; the probe side is trigger-bounded; survivors checkpoint
  * before the standing union so lineage stays shallow, and every
  * `compactEvery` batches the accumulated union re-checkpoints back to
  * a SINGLE leaf (each batch's union adds one plan leaf; on a
  * long-running gate analysis cost would otherwise grow linearly with
  * batch count). Survivor hashes come from the batch's already-decoded
  * frame by a semi-join — the perceptual decode runs exactly once per
  * arriving asset.
  *
  * `standingStore` makes the accepted hash set durable: parquet append
  * AFTER the sink call (a crash between them re-emits on replay,
  * at-least-once, rather than silently swallowing a batch), compacted
  * every `compactEvery` batches — the per-batch appends are many tiny
  * files a restart would otherwise re-list and re-read forever. The
  * compaction swap is crash-safe: the compacted store lands in
  * `<dir>.tmp` first, the live dir is only deleted once the tmp write
  * committed, and every crash window is adjudicated by the `_SUCCESS`
  * commit marker at restore time — a committed tmp outranks a
  * mid-delete live dir, a committed live outranks a stale tmp, and a
  * store with NO committed side fails loudly instead of restarting the
  * gate with a partial hash history (see [[readStore]]).
  */
object StreamImageDedup {

  /** See [[StandingStore.requireMarkers]] — kept as a delegate so the
    * spec's pins on this gate's surface survive the r18 extraction. */
  private[streaming] def requireMarkers(
      conf: org.apache.hadoop.conf.Configuration): Unit =
    StandingStore.requireMarkers(conf)

  /** Read the durable store, restoring a half-finished compaction swap
    * first: None = empty store.
    *
    * Only "directory absent" maps to None. IO/rename failures PROPAGATE:
    * compaction deletes the live dir, so a transient FS error here can
    * no longer be told apart from a never-written store — swallowing it
    * would silently discard the entire accepted-hash history and
    * re-admit every previously rejected near-dup (review finding r15).
    * A loud restart failure is recoverable; a silently emptied gate is
    * not.
    *
    * Crash-window adjudication is by the `_SUCCESS` commit marker
    * (review finding r16 — `fs.delete(live)` is not atomic, so "live
    * exists" alone does not mean "live is complete"):
    *   - live present WITH marker → authoritative; a stale tmp (crash
    *     between tmp write and delete) is discarded, not preferred —
    *     live still holds every appended batch the snapshot holds.
    *   - live present WITHOUT marker → a partial delete. The committed
    *     tmp snapshot, if present, replaces it; with no committed tmp
    *     the history is genuinely damaged and the gate fails loudly
    *     rather than silently re-admitting past rejects.
    *   - live absent → a committed tmp is renamed into place; an
    *     UNcommitted tmp with no live dir is likewise damage, not an
    *     empty store.
    */
  private[streaming] def readStore(spark: SparkSession,
                                   dir: String): Option[DataFrame] =
    StandingStore.readStore(spark, dir, Seq("asset_id", "dhash"))

  /** Rewrite the store as one deduped snapshot (tmp-write → unmark →
    * delete → rename; [[readStore]] adjudicates every crash window by
    * the `_SUCCESS` marker).
    *
    * The live MARKER is deleted first, as its own single-file (atomic)
    * delete, before the non-atomic recursive dir delete: that ordering
    * is what makes "live has a marker" equivalent to "the delete never
    * started, live is complete" in [[readStore]] — without it a crash
    * mid-recursive-delete could leave a gutted live dir still wearing
    * its marker (review finding r16).
    */
  private[streaming] def compactStore(spark: SparkSession,
                                      dir: String): Unit =
    StandingStore.compactStore(spark, dir, Seq("asset_id", "dhash"),
      dedupKey = "asset_id")

  /** `hash` selects the perceptual 64-bit hash — the image decode by
    * default; pass [[graft.functions.GraftFunctions.wavEnergyHash]]
    * and the SAME gate (same rule, same state shape, same durability)
    * serves an audio-ingest feed, because everything past the decode
    * operates on (id, 64-bit hash) only.
    */
  def start(delta: DataFrame, base: DataFrame, queryName: String,
            sink: (DataFrame, Long) => Unit,
            maxDist: Int = 3,
            standingStore: Option[String] = None,
            compactEvery: Int = 8,
            hash: Column => Column =
              graft.functions.GraftFunctions.bmpDhash): StreamingQuery = {
    require(maxDist >= 0 && maxDist < 4,
      s"banded exactness needs maxDist < 4 (bands), got $maxDist")

    def hashed(df: DataFrame): DataFrame =
      df.select(col("asset_id"), hash(col("content")).as("dhash"))
        .filter(col("dhash").isNotNull)

    // the order-sensitive store protocol (restore adjudication, union
    // re-checkpoint cadence, sink-before-append, compaction) lives in
    // the shared skeleton (r19) — this gate supplies only its rule;
    // the restored standing side is eagerly checkpointed because it is
    // decode-derived (hashing the base lazily would re-run the decode
    // on every batch's band join)
    StandingGate.start(delta, hashed(base), queryName, sink,
        standingStore, compactEvery,
        storeCols = Seq("asset_id", "dhash"), dedupKey = "asset_id",
        checkpointRestore = true) {
      (batch, standing, _) =>
        // deterministic within-batch survivor per asset_id (at-least-once
        // redelivery may vary passthrough columns; content-first tiebreak
        // via the shared definition so the gates cannot drift), then drop
        // ids the standing side already accepted — a redelivery, not a
        // new asset
        val b0 = DeterministicSurvivor
          .keepFirstBy(batch, "asset_id", "content")
          .join(standing.select("asset_id"), Seq("asset_id"), "left_anti")
          .localCheckpoint(true)
        val bh = hashed(b0).localCheckpoint(true)
        // the SHARED dup rule (graft.operators.PerceptualDedup — one
        // definition with the declared d83 batch query, so gate and
        // query cannot drift): dup vs standing, or vs a smaller-id peer
        val dups = graft.operators.PerceptualDedup.dupIds(
            bh.toDF("doc_id", "hash"), standing.toDF("doc_id", "hash"),
            maxDist)
          .withColumnRenamed("doc_id", "asset_id")
        val kept = b0.join(dups, Seq("asset_id"), "left_anti")
          .localCheckpoint(true)
        // survivors' hashes come from bh by a semi-join — kept ⊆ b0 and
        // bh = hashed(b0), so re-hashing kept.content would run the
        // perceptual decode a second time per accepted asset (review
        // finding r15); junk survivors (NULL hash) are already absent
        // from bh, preserving the never-enter-standing contract
        val keptHashes = bh
          .join(kept.select("asset_id"), Seq("asset_id"), "left_semi")
          .localCheckpoint(true)
        (kept, keptHashes)
    }
  }
}
