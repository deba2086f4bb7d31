package graft

/** Plan inspector: runs each named declared query (or all of them) once,
  * then prints its `.explain("formatted")`. Running first makes the print
  * the final adaptive plan (`isFinalPlan=true`), with the query stages,
  * coalesced shuffle reads and join strategies AQE chose at run time — the
  * review loop for shuffle counts, exchange reuse, pushdown, and codegen
  * coverage.
  *
  * Usage: tools/run_main.sh graft.Explain <sfDir> [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.collect()
      df.explain("formatted")
    }
    spark.stop()
  }
}
