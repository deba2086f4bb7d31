package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The retired distributed Lloyd trainer, kept verbatim as the test
  * reference for [[KMeans.fit]]'s driver-side trainer: one `count`, one
  * seeding collect, then per iteration one assignment projection plus one
  * posexplode + `avg(decimal(25,10))` aggregate over (cluster, dim) cells.
  * The driver trainer must reproduce its centroids bit for bit on the same
  * training rows (KMeansDriverFitSpec).
  */
object KMeansReference {

  private def assign(vectors: DataFrame, cents: Array[Array[Double]]): DataFrame =
    KMeans.assignWith(vectors, cents)

  def fit(vectors: DataFrame, k: Int, iters: Int): KMeans.Model = {
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
    KMeans.Model(cents, wcss.result(),
      assign(vectors, cents).select("vec_id", "cluster"))
  }
}
