package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Candidate-volume discipline for the approximate-NN operators (round-3
  * verdict #1): on a weakly-correlated corpus, a fixed coarse banding (d4's
  * 20×4) reaches its recall target by letting ~72% of all pairs collide —
  * quasi-quadratic candidate volume that cannot survive a 100× scale-up.
  * The fix is to make the parameter choice OBSERVED rather than declared:
  *
  *   1. [[lshStats]]/[[ivfStats]] measure, on a deterministic hash
  *      sample, each candidate config's (a) candidate-pair fraction (the
  *      cost driver) and (b) estimated top-1 recall (whether the true
  *      nearest neighbor would survive candidate generation — with exact
  *      re-ranking downstream this equals the operator's top-1 recall).
  *   2. [[choose]] picks the CHEAPEST config meeting the recall target
  *      within the candidate budget; if recall and budget cannot both be
  *      met on this corpus (the measured reality at τ-low/weak-correlation
  *      regimes — SCALE.md), recall wins and the budget miss is the
  *      corpus's honest price, now measured instead of implicit.
  *   3. [[capBuckets]] bounds per-bucket fan-out regardless of config: the
  *      standard LSH big-bucket guard. Applied to the INDEX side only, so
  *      every query keeps all its probes and each probe contributes at
  *      most `cap` candidates — per-query candidate volume is bounded by
  *      tables × cap BY CONSTRUCTION even on adversarial key skew.
  *
  * The tuner runs bounded Spark jobs over ≤ `maxSample` vectors and
  * collects only O(configs) scalar aggregates — statistics gathering in
  * the AQE sense, not a driver-side data path; the tuned query itself
  * stays collect-free. Results are memoized per (corpus key, ladder) so
  * repeated bench passes pay the sampling once per process.
  */
object AnnTuning {

  /** `probes > 0` = query-side multiprobe (Lv et al., VLDB 2007): each
    * query additionally probes its `probes` cheapest 1-/2-bit
    * perturbation buckets per table
    * ([[graft.functions.HyperplaneLshProbeKeys]]), so fewer tables reach
    * the same recall — the candidate-volume lever the tuner measures
    * against the plain-banding rungs on every corpus.
    */
  final case class LshConfig(tables: Int, bits: Int, probes: Int = 0)
  final case class IvfConfig(stride: Int, probes: Int)
  final case class ConfigStats[C](config: C, candidateFraction: Double,
    estRecall: Double, maxBucketFraction: Double = 0.0)

  /** A memoized tuning decision: the chosen config's stats plus the corpus
    * row count (for scaling the sampled max-bucket fraction to an absolute
    * bucket size when deciding whether the big-bucket cap is needed).
    */
  final case class Tuned[C](stats: ConfigStats[C], corpusN: Long) {
    def config: C = stats.config
  }

  /** Default config ladders, coarse → fine. Coarser banding (fewer bits,
    * more tables) collides more pairs: higher recall, higher cost.
    */
  val LshLadder: Seq[LshConfig] = Seq(
    LshConfig(24, 3), LshConfig(20, 4), LshConfig(16, 5),
    LshConfig(12, 6), LshConfig(8, 8), LshConfig(4, 10),
    // multiprobe rungs: fewer tables, probes making up the per-table
    // recall — work ∝ tables·(1+probes)/2^bits. Shallow probes (1–2) on
    // mid-width keys pay best: a probe targets the bit a true neighbor
    // most likely flipped, so it beats adding a random table as long as
    // neighbors flip FEW bits (measured on the weak corpus: deep probing
    // of wide keys loses that property; the deep rungs below are there
    // for clustered corpora, where per-bit agreement is high)
    LshConfig(16, 5, 1), LshConfig(12, 5, 1), LshConfig(10, 5, 1),
    LshConfig(8, 5, 1), LshConfig(8, 5, 2), LshConfig(10, 6, 2),
    LshConfig(8, 6, 3), LshConfig(6, 6, 4), LshConfig(4, 8, 6))
  val IvfLadder: Seq[IvfConfig] = Seq(
    IvfConfig(31, 8), IvfConfig(31, 4), IvfConfig(31, 2),
    IvfConfig(16, 8), IvfConfig(16, 4), IvfConfig(16, 2),
    IvfConfig(8, 8), IvfConfig(8, 4))

  /** Per-bucket candidate cap for top-k ANN search. Only for SEARCH:
    * capping drops index rows from hot buckets, which top-k tolerates
    * (any good neighbor suffices, and the true neighbor rarely lives
    * deep inside a giant bucket of mutually-similar rows) but an
    * oracle-exact DEDUP contract (d9/d10) does not — a capped-away
    * qualifying partner would be a missed drop.
    */
  val DefaultBucketCap = 2048

  /** Deterministic hash sample of ~maxSample vectors: keep rows whose
    * xxhash64(vec_id) falls in a 1/k residue class — reproducible
    * run-to-run (no RNG — the same property all the graft sketches rely
    * on), and unlike a raw `vec_id % k` stride it does not assume a dense
    * 0..n-1 id space (round-4 ADVICE: a sparse or offset id space could
    * yield far fewer rows than maxSample, or even an empty sample).
    * Scan-only — no shuffle, no global window.
    */
  def sampleVectors(e: DataFrame, maxSample: Int): DataFrame = {
    val n = e.count()
    val k = math.max(1L, n / math.max(1, maxSample))
    e.filter(pmod(xxhash64(col("vec_id")), lit(k)) === 0)
  }

  /** Exact top-1 neighbor pairs WITHIN the sample (qid, qv, nnid, nv) via
    * broadcast cross + window — the ground truth the recall estimate is
    * scored against.
    */
  private def exactTop1(sample: DataFrame): DataFrame = {
    val q = sample.select(col("vec_id").as("qid"), col("v").as("qv"))
    val c = sample.select(col("vec_id").as("nnid"), col("v").as("nv"))
    val sims = q.join(broadcast(c), col("qid") =!= col("nnid"))
      .select(col("qid"), col("qv"), col("nnid"), col("nv"),
        GraftFunctions.cosine(col("qv"), col("nv")).as("s"))
    val w = Window.partitionBy("qid").orderBy(col("s").desc, col("nnid"))
    sims.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("qid", "qv", "nnid", "nv")
  }

  /** Measure each LSH config on the sample. Candidate fraction is a WORK
    * metric: directed bucket-join incidences (with multiplicity — what
    * the candidate join actually emits and the distinct actually eats)
    * per ordered pair, ≈ tables·(1+probes)/2^bits. For probes = 0 this
    * equals the old unordered colliding-pair count in expectation, and it
    * prices multiprobe honestly (a probe collides in ONE direction —
    * counting unordered coverage would overstate its cost ~2×); it is
    * also directly comparable to [[ivfStats]]'s probed-mass-per-query
    * fraction, which d52's family router relies on. Est recall is the
    * DIRECTED relation's (probe keys of q ∩ exact keys of nn — the only
    * orientation that puts nn under qid = q downstream). Keys are the
    * table-qualified longs of
    * [[graft.functions.HyperplaneLshProbeKeys]] — the same native keys
    * as the query path.
    */
  def lshStats(sampleIn: DataFrame,
               configs: Seq[LshConfig] = LshLadder): Seq[ConfigStats[LshConfig]] = {
    // the sample is read ~3× per ladder rung (qKeyed, iKeyed, maxBucket)
    // — uncached, its upstream plan (hash filter over the full corpus)
    // re-scanned ~45× per tuning pass at the 15-rung default (r18
    // review); one materialization serves the whole ladder
    val sample = sampleIn.cache()
    val m = sample.count()
    val orderedPairs = m.toDouble * (m - 1)
    val truth = exactTop1(sample).cache()
    try {
      val nTruth = truth.count().toDouble
      configs.map { cfg =>
        def keysOf(name: String, probes: Int) = GraftFunctions.lshProbeKeys(
          col(name), cfg.tables, cfg.bits, probes)
        val qKeyed = sample.select(col("vec_id"),
          explode(keysOf("v", cfg.probes)).as("bkey"))
        val iKeyed = sample.select(col("vec_id"),
          explode(keysOf("v", 0)).as("bkey"))
        val nCand = qKeyed.as("x").join(iKeyed.as("y"),
            col("x.bkey") === col("y.bkey") &&
              col("x.vec_id") =!= col("y.vec_id"))
          .count()
        // coalesce: an empty sample has no buckets — that's a 0-fraction
        // stat, not an NPE (round-4 ADVICE)
        val maxBucket = iKeyed.groupBy("bkey").agg(count(lit(1)).as("c"))
          .agg(coalesce(max("c"), lit(0L))).collect()(0).getLong(0)
        val hits = truth.select(
            keysOf("qv", cfg.probes).as("ka"),
            keysOf("nv", 0).as("kb"))
          .filter(arrays_overlap(col("ka"), col("kb")))
          .count()
        ConfigStats(cfg, nCand / math.max(orderedPairs, 1.0),
          hits / math.max(nTruth, 1.0), maxBucket.toDouble / math.max(m, 1L))
      }
    } finally { truth.unpersist(); sample.unpersist() }
  }

  /** Measure each IVF config on the sample. Centroids come from the FULL
    * corpus (vec_id ≡ 0 mod stride — identical to the query path, so K
    * scales with n); queries and cell sizes come from the sample.
    * Candidate fraction = mean probed-cell mass per query; est recall =
    * P(true top-1's assigned cell ∈ query's probed cells).
    */
  def ivfStats(corpus: DataFrame, sampleIn: DataFrame,
               configs: Seq[IvfConfig] = IvfLadder): Seq[ConfigStats[IvfConfig]] = {
    val sample = sampleIn.cache() // lshStats' r18 rule: one materialization
    val m = sample.count().toDouble
    val truth = exactTop1(sample)
      .select(col("qid"), col("nnid")).cache()
    try {
      val nTruth = truth.count().toDouble
      configs.map { cfg =>
        val cent = corpus.filter(pmod(col("vec_id"), lit(cfg.stride)) === 0)
          .select(col("vec_id").as("cid"), col("v").as("cv"))
        val scored = sample.crossJoin(broadcast(cent))
          .select(col("vec_id"), col("cid"),
            GraftFunctions.cosine(col("v"), col("cv")).as("cs"))
        val wCell = Window.partitionBy("vec_id").orderBy(col("cs").desc, col("cid"))
        val ranked = scored.withColumn("crn", row_number().over(wCell)).cache()
        try {
          val assign = ranked.filter(col("crn") === 1)
            .select(col("vec_id").as("aid"), col("cid").as("acell"))
          val probe = ranked.filter(col("crn") <= cfg.probes)
            .select(col("vec_id").as("qid"), col("cid").as("cell"))
          val cellSizes = assign.groupBy("acell").agg(count(lit(1)).as("sz"))
          // mean probed mass per query, as a fraction of the sample;
          // coalesce: a corpus with NO stride centroid (no vec_id ≡ 0 mod
          // stride) probes nothing — that's a 0-recall config, not an NPE
          val probedMass = probe.join(cellSizes, col("cell") === col("acell"))
            .agg(coalesce(sum("sz"), lit(0L))).collect()(0).getLong(0).toDouble
          val frac = probedMass / (m * m)
          val hits = truth
            .join(probe, Seq("qid"))
            .join(assign, col("nnid") === col("aid") && col("cell") === col("acell"))
            .select("qid").distinct().count()
          ConfigStats(cfg, frac, hits / math.max(nTruth, 1.0))
        } finally ranked.unpersist()
      }
    } finally { truth.unpersist(); sample.unpersist() }
  }

  /** Deterministic selection: cheapest config meeting BOTH the recall
    * target and the candidate budget; else cheapest meeting recall (the
    * budget is unreachable on this corpus at this target — recall is the
    * declared contract, the measured fraction the honest price); else the
    * best-recall config (nothing meets the target — return the least-bad).
    */
  def choose[C](stats: Seq[ConfigStats[C]], recallTarget: Double,
                budgetFraction: Double): ConfigStats[C] = {
    require(stats.nonEmpty, "no configs to choose from")
    val both = stats.filter(s =>
      s.estRecall >= recallTarget && s.candidateFraction <= budgetFraction)
    if (both.nonEmpty) both.minBy(_.candidateFraction)
    else {
      val recallOk = stats.filter(_.estRecall >= recallTarget)
      if (recallOk.nonEmpty) recallOk.minBy(_.candidateFraction)
      else stats.maxBy(s => (s.estRecall, -s.candidateFraction))
    }
  }

  /** Big-bucket guard: bound each (tbl, bucket)'s INDEX membership at
    * `cap` rows, keeping a deterministic hash-ranked subset. Applied to
    * the index side of the candidate join only — queries keep all their
    * probes, so per-query candidates ≤ tables × cap by construction.
    * The window partitions exactly on the join key, so the rank's shuffle
    * IS the join's shuffle (one exchange, reused).
    */
  def capBuckets(keyed: DataFrame, cap: Int): DataFrame =
    capBucketsBy(keyed, cap, Seq("tbl", "bucket"))

  /** [[capBuckets]] for table-QUALIFIED single-column keys (`bkey` =
    * `(tbl << bits) | bucket` — the multiprobe join layout): same
    * deterministic hash-ranked subset, window partitioned exactly on the
    * join key so the rank's shuffle IS the join's shuffle.
    */
  def capBucketsQualified(keyed: DataFrame, cap: Int): DataFrame =
    capBucketsBy(keyed, cap, Seq("bkey"))

  /** One cap implementation for both key layouts — the semantics
    * (window partitioned exactly on the join key, xxhash64(vec_id, key)
    * + vec_id tiebreak) must not drift between them.
    */
  private def capBucketsBy(keyed: DataFrame, cap: Int,
      keyCols: Seq[String]): DataFrame =
    if (cap == Int.MaxValue) keyed // guard disabled: keep the single
    // shared exchange both candidate-join sides reuse (the rank window
    // would split the subplans and cost a measured ~1 s at sf0.1)
    else {
      val w = Window.partitionBy(keyCols.map(col): _*)
        .orderBy(xxhash64(col("vec_id"), col(keyCols.head)), col("vec_id"))
      keyed.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= cap).drop("__rk")
    }

  /** Decide the effective cap from measured bucket stats: engage the guard
    * only when the corpus actually HAS a bucket that would exceed it
    * (sampled max-bucket fraction × corpus size, with 2× headroom for
    * sampling error). A capped plan pays an extra window + a second
    * exchange; a corpus whose largest bucket is far under the cap gets the
    * uncapped single-exchange plan and identical results.
    */
  def effectiveCap(tuned: Tuned[LshConfig], cap: Int = DefaultBucketCap): Int =
    if (tuned.stats.maxBucketFraction * tuned.corpusN * 2 > cap) cap
    else Int.MaxValue

  // --- memoized tuning (per corpus key + params + ladder) -----------------
  // Round-4 ADVICE: a multi-second Spark tuning job must not run inside a
  // ConcurrentHashMap bin lock (concurrent tuning of DIFFERENT corpora
  // would serialize), and the memo key must carry everything the decision
  // depends on (maxSample and the ladder, not just targets). putIfAbsent
  // publishes a lazy holder; the tuning job runs under the holder's own
  // initialization lock, so same-key callers still compute exactly once.
  private val lshMemo = new java.util.concurrent.ConcurrentHashMap[String, LazyMemo[Tuned[LshConfig]]]()
  private val ivfMemo = new java.util.concurrent.ConcurrentHashMap[String, LazyMemo[Tuned[IvfConfig]]]()

  /** Tuned LSH config for a corpus, memoized on `key` (e.g. the sf dir):
    * deterministic sample → per-config stats → choose. maxSample=500
    * bounds tuning to ~125k sampled pairs per config regardless of corpus
    * size.
    */
  def tunedLsh(e: DataFrame, key: String,
               recallTarget: Double = 0.9, budgetFraction: Double = 0.25,
               maxSample: Int = 500,
               ladder: Seq[LshConfig] = LshLadder): Tuned[LshConfig] =
    LazyMemo.memoized(lshMemo, s"$key|$recallTarget|$budgetFraction|$maxSample|${ladder.mkString(",")}") {
      val n = e.count()
      val stats = lshStats(sampleVectors(e, maxSample), ladder)
      val picked = choose(stats, recallTarget, budgetFraction)
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"[graft] tuned LSH for $key (n=$n): $picked from " +
          stats.map(s => f"${s.config}->(frac=${s.candidateFraction}%.3f,rec=${s.estRecall}%.2f)")
            .mkString(", "))
      Tuned(picked, n)
    }

  /** Tuned IVF config for a corpus, memoized on `key`. */
  def tunedIvf(e: DataFrame, key: String,
               recallTarget: Double = 0.65, budgetFraction: Double = 0.25,
               maxSample: Int = 500,
               ladder: Seq[IvfConfig] = IvfLadder): Tuned[IvfConfig] =
    LazyMemo.memoized(ivfMemo, s"$key|$recallTarget|$budgetFraction|$maxSample|${ladder.mkString(",")}") {
      val n = e.count()
      val stats = ivfStats(e, sampleVectors(e, maxSample), ladder)
      val picked = choose(stats, recallTarget, budgetFraction)
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"[graft] tuned IVF for $key (n=$n): $picked from " +
          stats.map(s => f"${s.config}->(frac=${s.candidateFraction}%.3f,rec=${s.estRecall}%.2f)")
            .mkString(", "))
      Tuned(picked, n)
    }

  /** Seed the LSH memo with a persisted decision ([[ModelStore.loadLsh]])
    * so a later [[tunedLsh]] with the same key and targets serves it with
    * zero sampling/tuning jobs — [[KMeans.install]]'s twin. The parameter
    * list mirrors [[tunedLsh]] because the memo key carries everything the
    * decision depends on (round-4 ADVICE).
    */
  def installLsh(key: String, tuned: Tuned[LshConfig],
      recallTarget: Double = 0.9, budgetFraction: Double = 0.25,
      maxSample: Int = 500, ladder: Seq[LshConfig] = LshLadder): Unit =
    lshMemo.put(
      s"$key|$recallTarget|$budgetFraction|$maxSample|${ladder.mkString(",")}",
      new LazyMemo(() => tuned))

  /** [[installLsh]] for IVF decisions. */
  def installIvf(key: String, tuned: Tuned[IvfConfig],
      recallTarget: Double = 0.65, budgetFraction: Double = 0.25,
      maxSample: Int = 500, ladder: Seq[IvfConfig] = IvfLadder): Unit =
    ivfMemo.put(
      s"$key|$recallTarget|$budgetFraction|$maxSample|${ladder.mkString(",")}",
      new LazyMemo(() => tuned))

  /** Test seam: clear the memo (specs tune the same key with different
    * corpora). */
  private[graft] def clearMemo(): Unit = { lshMemo.clear(); ivfMemo.clear() }
}
