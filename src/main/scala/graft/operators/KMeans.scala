package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Lloyd k-means over an embedding column — the semantic
  * clustering / domain-discovery step of a training-data pipeline (cluster
  * then inspect/filter/rebalance by cluster). Deterministic end to end,
  * unlike textbook k-means:
  *
  *  - **Seeding**: per-hash-bucket min (k buckets over
  *    `xxhash64(vec_id)`, min-vec_id vector each — a plain partial
  *    aggregate, NO global sort at any corpus size) once the input can
  *    occupy the buckets w.h.p. (n ≥ 16k); tiny inputs keep the
  *    k evenly-rank-spaced `row_number` fallback. No RNG, no dense-id
  *    assumption in either regime.
  *  - **Centroid update**: per-dimension means are aggregated in
  *    `decimal(25,10)`, so they are EXACT and summation-order independent;
  *    double-sum means differ in ulps across partitionings, which flips
  *    boundary assignments between runs.
  *  - **Assignment**: argmin over (distance², cluster id) struct ordering —
  *    exact ties break toward the lower cluster id instead of
  *    partition order.
  *
  * Scale mechanics: each iteration is one assignment scan (k fused
  * distance folds per row, no shuffle) plus one posexplode + partial-agg
  * shuffle of (cluster, dim) cells — shuffle rows ∝ k·dim·partitions,
  * independent of corpus size. The ONLY driver materialization is the
  * k×dim centroid model (same contract as AnnTuning's sampled stats);
  * assignments never leave the executors.
  */
object KMeans {

  final case class Model(
      centroids: Array[Array[Double]],
      /** Sum of squared distances to the assigned centroid, one entry per
        * iteration (computed on the assignment that PRODUCED the next
        * centroids) — Lloyd guarantees this sequence non-increasing.
        */
      wcss: Seq[Double],
      assignments: DataFrame)

  /** Nearest-centroid id and its squared distance for every row —
    * public so a memoized model can re-derive assignments for any frame
    * with ONE scan and no training actions (the d33/AnnTuning serving
    * discipline). Output: (vec_id, embedding, cluster, d2).
    *
    * Mechanism history (both prior forms measured and retired): the
    * literal-centroid expression TREE costs O(k·dim) driver
    * codegen/compile (~2 s of plan time at k=31 — the round-8
    * dead-end), and the broadcast-rows + min-struct argmin AGGREGATE
    * (rounds 8–9) pays a full ~n-row exchange per assignment. Since
    * round 9 assignment is one stateless projection through the native
    * codegen'd [[graft.functions.NearestCentroid]] expression — the
    * k×dim model rides as a plan literal (constant PLAN size), the scan
    * is exchange-free, and the same plan serves batch and streaming
    * (StreamDrift). Arithmetic is bit-identical to both retired forms:
    * left-to-right squared-diff fold after float→double widening, strict
    * `<` keeping the earliest centroid = the (d2 asc, cluster asc)
    * tie-break (pinned in NearestCentroidSpec and KMeansSpec).
    */
  def assignWith(vectors: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    vectors
      .withColumn("__nc", call_function(
        graft.functions.GraftFunctions.NearestCentroidName,
        col("embedding").cast("array<double>"),
        typedLit(cents.map(_.toSeq).toSeq)))
      .select(col("vec_id"), col("embedding"),
        col("__nc.cluster").as("cluster"), col("__nc.d2").as("d2"))
  }

  /** Fit once per `key`, then serve the model from the memo — training is
    * `iters` driver-coordinated aggregate actions, so a bench/serving pass
    * after the first should pay ZERO training jobs (PqIndex's contract;
    * same putIfAbsent-lazy-holder lock discipline).
    */
  def fitMemoized(key: String, vectors: DataFrame, k: Int, iters: Int): Model =
    LazyMemo.memoized(memo, s"$key|$k|$iters")(fit(vectors, k, iters))

  /** Test seam: force retrains (a memo hit would make determinism pins
    * vacuous) — PqIndex.clearMemo's twin.
    */
  def clearMemo(): Unit = memo.clear()

  /** Seed the memo with a persisted model ([[ModelStore.loadKMeans]]): a
    * later [[fitMemoized]] with the same (key, k, iters) serves it with
    * ZERO training actions — the serving half of the reference's
    * persisted-config round-trip (CSVProvider.cs:363-454) applied to
    * learned state. Deterministic fit ⇒ installed == retrained (pinned in
    * ModelStoreSpec via a job-count listener).
    */
  def install(key: String, k: Int, iters: Int, model: Model): Unit =
    memo.put(s"$key|$k|$iters", new LazyMemo(() => model))

  private val memo = new java.util.concurrent.ConcurrentHashMap[String, LazyMemo[Model]]()

  /** Nearest-centroid id and its squared distance for every row —
    * training's per-iteration assignment, same native-expression
    * projection as [[assignWith]] (bit-identical by construction; the
    * retired literal-tree form is documented there).
    */
  private def assign(vectors: DataFrame, cents: Array[Array[Double]]): DataFrame =
    assignWith(vectors, cents)

  /** Run `iters` Lloyd iterations with deterministic rank-spaced seeding;
    * k may be reduced if the input has fewer vectors than clusters.
    */
  def fit(vectors: DataFrame, k: Int, iters: Int): Model = {
    require(k >= 1 && iters >= 1, "k and iters must be positive")
    // accept array<float> AND array<double> embeddings (r18 review):
    // assignWith already casts to array<double>, but the seeding
    // collects read Seq[Float] and ClassCastException'd on a double
    // column — the cast is scoped to the collects (float→double is
    // exact, so float corpora train identically; Model.assignments
    // keeps the caller's embedding type)
    val seedVec = col("embedding").cast("array<double>")
    val n = vectors.count()
    require(n > 0, "cannot cluster an empty relation")
    val kEff = math.min(k.toLong, n).toInt
    // Seeding (deterministic, two regimes):
    //  - production (n ≥ 16·kEff): per-hash-bucket min — each vector
    //    hashes to one of kEff buckets, the min-vec_id vector per bucket
    //    seeds it. ONE partial aggregate whose exchange is kEff cells; no
    //    global sort at any corpus size (the round-10 candidate #1 swap).
    //    Empty buckets at 16× occupancy are ~e⁻¹⁶ per bucket; a shortfall
    //    just yields fewer seeds, which every downstream step tolerates.
    //  - tiny inputs (n < 16·kEff — spec corpora, k ≈ n edges): the
    //    rank-stride window, where bucket occupancy is not w.h.p. and a
    //    global sort over n rows is free anyway.
    var cents: Array[Array[Double]] =
      if (n >= 16L * kEff) {
        vectors
          .withColumn("__b",
            pmod(xxhash64(col("vec_id")), lit(kEff.toLong)).cast("int"))
          .groupBy("__b")
          .agg(min(struct(col("vec_id"), seedVec.as("embedding"))).as("s"))
          .orderBy("__b")
          .select(col("s.embedding"))
          .collect()
          .map(_.getSeq[Double](0).toArray)
      } else {
        val w = org.apache.spark.sql.expressions.Window.orderBy("vec_id")
        val stride = math.max(1L, n / kEff)
        vectors
          .withColumn("__rn", row_number().over(w))
          .filter((col("__rn") - 1) % stride === 0)
          .orderBy("vec_id").limit(kEff)
          .select(seedVec.as("embedding"))
          .collect()
          .map(_.getSeq[Double](0).toArray)
      }
    val wcss = Seq.newBuilder[Double]
    for (_ <- 1 to iters) {
      val assigned = assign(vectors, cents)
      // ONE aggregate per iteration: the k×dim centroid cells carry the
      // per-cluster WCSS along (sum_d2 repeats per pos — redundant but
      // k×dim rows are model-sized, so a second pass would cost more).
      val cells = assigned
        .select(col("cluster"), col("d2"), posexplode(col("embedding")))
        .groupBy("cluster", "pos")
        .agg(avg(col("col").cast("decimal(25,10)")).as("mean"),
          sum("d2").as("sum_d2"), count(lit(1)).as("n"))
        .collect()
      // row layout: (cluster, pos, mean, sum_d2, n)
      wcss += cells.groupBy(_.getInt(0)).map { case (_, rows) =>
        rows.head.getDouble(3) // sum_d2 repeats per pos within a cluster
      }.sum
      val byCluster = cells.groupBy(_.getInt(0)).map { case (cid, rows) =>
        cid -> rows.sortBy(_.getInt(1))
          .map(_.getDecimal(2).doubleValue()).toArray
      }
      // empty clusters keep their previous centroid
      cents = cents.zipWithIndex.map { case (c, i) => byCluster.getOrElse(i, c) }
    }
    Model(cents, wcss.result(),
      assign(vectors, cents).select("vec_id", "cluster"))
  }
}
