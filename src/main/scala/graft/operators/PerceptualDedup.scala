package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The shared banded perceptual-dup rules for 64-bit difference hashes
  * (images: [[graft.functions.BmpDhash]]; audio:
  * [[graft.functions.WavEnergyHash]]; video, PNG and GIF alike). Two
  * rules over one banding:
  *   - [[selfPairs]]: every pair of rows within `maxDist` Hamming — the
  *     verified pair list of the six media dedup hubs (d78, d82, d84–d87);
  *   - [[dupIds]]: a probe row is a duplicate when its hash is within
  *     `maxDist` Hamming of ANY standing row, or of a probe peer with a
  *     SMALLER id (d34's first-arrival rule) — consumed by both the
  *     declared incremental batch query (d83) and the streaming ingest
  *     gate ([[graft.streaming.StreamImageDedup]]), so the two cannot
  *     drift.
  *
  * Candidate generation is 4×16-bit banding, EXACT by pigeonhole for
  * `maxDist` < 4: every qualifying pair shares an intact band, so the
  * bit_count verify loses nothing. NULL hashes (unparseable assets)
  * produce NULL band keys and never match — callers decide what
  * pass-through means for them. The hamming operands ride null-tolerant
  * coalesce so constraint inference cannot derive an isnotnull(hash)
  * filter and push it below the callers' materialization barriers,
  * where the inlined construct+decode would run again per reference
  * (measured 25 of 27 s at sf0.1 for d78; PlanShapeSpec pins it).
  *
  * Input frames carry (doc_id: bigint, hash: bigint nullable); only
  * those two columns shuffle — 16 bytes a row at any corpus size.
  */
object PerceptualDedup {

  private def requireBanded(maxDist: Int): Unit =
    require(maxDist >= 0 && maxDist < 4,
      s"banded exactness needs maxDist < 4 (bands), got $maxDist")

  private def bandsOf(h: DataFrame): DataFrame =
    h.select(col("doc_id"), col("hash"),
      posexplode(expr(
        "transform(sequence(0, 3), t -> shiftright(hash, t * 16) & 65535L)"))
        .as(Seq("band", "key")))

  /** Every (doc_a < doc_b) pair of `hashed` rows within `maxDist`
    * Hamming, with its distance: (doc_a, doc_b, hamming). A pair sharing
    * several intact bands is reported once. The merge hint lets both
    * join sides reuse one band exchange.
    */
  def selfPairs(hashed: DataFrame, maxDist: Int): DataFrame = {
    requireBanded(maxDist)
    val bands = bandsOf(hashed)
    bands.as("x").hint("merge")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("cast(bit_count(coalesce(x.hash, 0L) ^ coalesce(y.hash, 0L))" +
          " as bigint)").as("hamming"))
      .filter(col("hamming") <= maxDist.toLong)
      .distinct()
  }

  /** Distinct doc_ids of `probe` rows the rule marks duplicate. */
  def dupIds(probe: DataFrame, standing: DataFrame, maxDist: Int): DataFrame = {
    requireBanded(maxDist)
    val pb = bandsOf(probe)
    val sb = bandsOf(standing)
    val ok = s"bit_count(coalesce(d.hash, 0L) ^ coalesce(s.hash, 0L))" +
      s" <= $maxDist"
    val vsStanding = pb.as("d")
      .join(sb.as("s"),
        col("d.band") === col("s.band") && col("d.key") === col("s.key"))
      .filter(expr(ok))
      .select(col("d.doc_id"))
    val inProbe = pb.as("d")
      .join(pb.as("s"),
        col("d.band") === col("s.band") && col("d.key") === col("s.key") &&
          col("s.doc_id") < col("d.doc_id"))
      .filter(expr(ok))
      .select(col("d.doc_id"))
    vsStanding.unionByName(inProbe).distinct()
  }
}
