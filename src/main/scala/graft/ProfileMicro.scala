package graft

/** Micro-attribution for the per-query fixed floor: times the shared
  * building blocks (parquet relation creation / schema inference,
  * function registration, a trivial scan job, a trivial shuffle job)
  * that every declared query pays, independent of its own logic.
  *
  * Usage: tools/run_main.sh graft.ProfileMicro [sfDir]
  */
object ProfileMicro {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption
      .getOrElse(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = GraftSession.local()
    spark.range(1000000L).selectExpr("sum(id)").collect()
    def time(tag: String)(f: => Unit): Unit = {
      val ts = (1 to 5).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      println(f"$tag%-40s min ${ts.min}%6.3f  runs ${ts.map(t => f"$t%.3f").mkString(" ")}")
    }
    time("read.parquet(documents)") {
      spark.read.parquet(s"$sfDir/documents.parquet")
    }
    time("read.parquet(lineitem)") {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
    }
    time("GraftFunctions.register") {
      graft.functions.GraftFunctions.register(spark)
    }
    time("scan count documents") {
      spark.read.parquet(s"$sfDir/documents.parquet").count()
    }
    time("scan+groupBy(lang) count") {
      spark.read.parquet(s"$sfDir/documents.parquet")
        .groupBy("lang").count().count()
    }
    time("range shuffle job") {
      spark.range(1000).groupBy((org.apache.spark.sql.functions.col("id") % 7)
        .as("k")).count().count()
    }
    spark.stop()
  }
}
