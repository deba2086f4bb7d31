package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Cell maintenance for the standing centroid index (the k-means model
  * that serves d39's SemDeDup blocking, d48/d52's vote space and d51's
  * drift monitor — a centroid model IS an IVF coarse quantizer): split
  * the cells d51's drift report flags, touching NOTHING else. The FAISS
  * operational loop ("retrain when the distribution moves") without the
  * full retrain: a 100 TB corpus whose ingest drifts in one region
  * re-fits only that region's members.
  *
  * Mechanism: one full-corpus assignment scan (the native
  * [[graft.functions.NearestCentroid]] projection) isolates the flagged
  * cells' members, which persist for the loop — every later job reads
  * ONLY them, so maintenance cost tracks the flagged share of the corpus,
  * not n. Each flagged cell then runs a deterministic grouped 2-means:
  * child A seeds at the cell's min-vec_id member, child B at the member
  * FARTHEST from the old centroid (the drifted mass's side — drift is why
  * the cell flagged), and `iters` Lloyd rounds run for ALL flagged cells
  * in the same jobs (one aggregate per round, shuffle cells ∝
  * flagged × 2 × dim — model-sized). Decimal(25,10) means keep the
  * update summation-order independent, KMeans.fit's discipline.
  *
  * Index compatibility: child A replaces the parent IN PLACE, child B
  * appends — unflagged cell ids never move, so persisted assignments and
  * routing tables for unflagged cells stay valid verbatim; only flagged
  * members need re-assignment (they are exactly the persisted frame).
  */
object CellMaintenance {

  /** `centroids`: the maintained model — unflagged indices unchanged
    * (bit-identical), flagged cell c replaced by its first child at
    * index c with the second child appended. `children`: flagged cell →
    * (childA index = itself, childB index); cells flagged but empty or
    * single-member stay unsplit and carry no entry.
    */
  final case class SplitResult(
      centroids: Array[Array[Double]],
      children: Map[Int, (Int, Int)])

  /** Split each flagged cell of `cents` into two over `corpus`
    * (vec_id, embedding). Deterministic; see object doc for the shape.
    */
  def splitCells(corpus: DataFrame, cents: Array[Array[Double]],
      flagged: Seq[Int], iters: Int = 3): SplitResult = {
    require(iters >= 1, "iters must be positive")
    val flaggedSorted =
      flagged.distinct.sorted.filter(c => c >= 0 && c < cents.length)
    if (flaggedSorted.isEmpty)
      return SplitResult(cents.map(_.clone()), Map.empty)
    val spark = corpus.sparkSession
    val members = KMeans.assignWith(corpus, cents)
      .filter(col("cluster").isin(flaggedSorted.map(Int.box): _*))
      .select(col("vec_id"), col("cluster"),
        col("embedding").cast("array<double>").as("v"), col("d2"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // per-cell deterministic 2-seeding (one model-sized collect): the
      // max-struct on (d2, vec_id) breaks farthest ties toward the larger
      // id; cells with fewer than two members cannot split (both seeds
      // would be the same vector, appending a permanently-empty duplicate
      // centroid) and stay unsplit — the SplitResult contract.
      // degenerate-seed guard (r18 review): when the min-vec_id member
      // was ALSO strictly farthest, sa and sb were the IDENTICAL vector,
      // the strict-< tie-break sent every member to child A, and the
      // "split" silently appended a dead duplicate centroid. The max-id
      // member rides along in the SAME aggregate (sc — no extra job, the
      // spec pins the bounded job count) and seeds child B whenever
      // sb's id collides with sa's; sc.vec_id ≠ sa.vec_id for nm ≥ 2.
      val seedRows = members.groupBy("cluster").agg(
        min(struct(col("vec_id"), col("v"))).as("sa"),
        max(struct(col("d2"), col("vec_id"), col("v"))).as("sb"),
        max(struct(col("vec_id"), col("v"))).as("sc"),
        count(lit(1)).as("nm"))
        .collect()
      var seeds: Map[Int, (Array[Double], Array[Double])] = seedRows
        .filter(_.getLong(4) >= 2L)
        .map { r =>
          val saS = r.getStruct(1)
          val sa = saS.getSeq[Double](1).toArray
          val sbS = r.getStruct(2)
          val sb =
            if (sbS.getLong(1) == saS.getLong(0))
              r.getStruct(3).getSeq[Double](1).toArray
            else sbS.getSeq[Double](2).toArray
          r.getInt(0) -> (sa, sb)
        }.toMap
      if (seeds.isEmpty)
        return SplitResult(cents.map(_.clone()), Map.empty)
      for (_ <- 1 to iters) {
        val sdf = spark.createDataFrame(
          seeds.toSeq.sortBy(_._1).map { case (c, (a, b)) => (c, a, b) })
          .toDF("cluster", "ca", "cb")
        val cells = members.join(broadcast(sdf), "cluster")
          .withColumn("__nc", graft.functions.GraftFunctions.nearestCentroid(
            col("v"), array(col("ca"), col("cb"))))
          .select(col("cluster"), col("__nc.cluster").as("sub"),
            posexplode(col("v")))
          .groupBy("cluster", "sub", "pos")
          .agg(avg(col("col").cast("decimal(25,10)")).as("mean"))
          .collect()
        val next = cells.groupBy(r => (r.getInt(0), r.getInt(1))).map {
          case (k, rows) => k -> rows.sortBy(_.getInt(2))
            .map(_.getDecimal(3).doubleValue()).toArray
        }
        // an empty child keeps its seed (KMeans.fit's empty-cluster rule)
        seeds = seeds.map { case (c, (a, b)) =>
          c -> (next.getOrElse((c, 0), a), next.getOrElse((c, 1), b))
        }
      }
      val out = cents.map(_.clone())
      val appended = Array.newBuilder[Array[Double]]
      val children = Map.newBuilder[Int, (Int, Int)]
      var nextIdx = cents.length
      // only cells that actually have members split
      flaggedSorted.filter(seeds.contains).foreach { c =>
        val (a, b) = seeds(c)
        out(c) = a
        appended += b
        children += c -> (c, nextIdx)
        nextIdx += 1
      }
      SplitResult(out ++ appended.result(), children.result())
    } finally { members.unpersist(); () }
  }

  /** Package a maintained model as a [[KMeans.Model]] so the standard
    * serving paths apply unchanged: [[ModelStore.saveKMeans]] persists it,
    * [[KMeans.install]] serves it memo-hot with zero training actions.
    * WCSS restarts empty — the maintained model is a new lineage, not an
    * iteration of the old one.
    */
  def toModel(corpus: DataFrame, result: SplitResult): KMeans.Model =
    KMeans.Model(result.centroids, Seq.empty,
      KMeans.assignWith(corpus, result.centroids).select("vec_id", "cluster"))
}
