package graft.queries

import graft.GraftSession

/** d10 LSH parameter sweep (r21 verdict task 6): for each (tables, bits)
  * config, check DROP-SET EQUALITY against d9's exact plan at the given
  * SF and time the config (min-of-3) — "fewer tables × wider bands at
  * equal recall" is only shippable where equality holds at BOTH
  * correctness SFs and sf0.1.
  *
  * Usage: tools/run_main.sh graft.queries.TuneD10 [sfDir]
  */
object TuneD10 {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local()
    import org.apache.spark.sql.functions._
    val exact = GroupD.d9DedupEmbedding(spark, sfDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    println(s"d9 exact survivors: ${exact.size}")
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    for ((t, b) <- Seq((24, 3), (16, 3), (12, 3), (8, 3), (6, 3), (4, 3),
                       (12, 4), (8, 4), (6, 4), (4, 4), (2, 3), (2, 4))) {
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        GroupD.dedupEmbeddingLsh(e, spark, t, b, 0.3).count()
        (System.nanoTime() - t0) / 1e9
      }
      val got = GroupD.dedupEmbeddingLsh(e, spark, t, b, 0.3)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val equal = got == exact
      println(f"tables=$t%2d bits=$b  min=${times.min}%5.2f s  " +
        f"survivors=${got.size}%5d  equalsExact=$equal")
    }
    spark.stop()
  }
}
