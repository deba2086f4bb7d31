package graft

/** Phase profiler for the per-query fixed floor (r21 verdict task 5):
  * splits one query invocation into (build, plan, execute) wall times —
  * build = the query function call (DataFrame construction incl. any
  * eager driver-side stat actions), plan = analysis+optimization+physical
  * planning (`queryExecution.executedPlan` forced), execute = the
  * `count()` action (incl. AQE replanning + jobs).
  *
  * Usage: tools/run_main.sh graft.ProfileOne <q1,q2,...> [passes] [sfDir]
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val passes = if (args.length > 1) args(1).toInt else 3
    val sfDir = if (args.length > 2) args(2)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // per-job timing (set SPARK_GRAFT_PROFILE_JOBS=1): job id, duration,
    // #tasks, callsite — attributes a query's wall time to its jobs
    if (sys.env.get("SPARK_GRAFT_PROFILE_JOBS").contains("1")) {
      import org.apache.spark.scheduler._
      import scala.collection.concurrent.TrieMap
      val t0 = new TrieMap[Int, (Long, String)]()
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = {
          val site = j.stageInfos.map(s => s"${s.name}[${s.numTasks}]")
            .mkString(" | ")
          t0.put(j.jobId, (System.nanoTime(), site))
        }
        override def onJobEnd(j: SparkListenerJobEnd): Unit =
          t0.remove(j.jobId).foreach { case (s, site) =>
            println(f"    job ${j.jobId}%4d ${(System.nanoTime() - s) / 1e9}%7.3f s  $site")
          }
        override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
          val i = s.stageInfo
          println(f"      stage ${i.stageId}%4d tasks ${i.numTasks}%3d " +
            f"cpu ${i.taskMetrics.executorCpuTime / 1e9}%7.2f s " +
            f"run ${i.taskMetrics.executorRunTime / 1e3}%7.2f s " +
            f"rows ${i.taskMetrics.inputMetrics.recordsRead + i.taskMetrics.shuffleReadMetrics.recordsRead}")
        }
      })
    }
    spark.range(1000000L).selectExpr("sum(id)").collect()
    try SparkEntry.queries("b5_hash_agg")(spark, sfDir).count()
    catch { case _: Throwable => () }
    for (pass <- 1 to passes; n <- names) {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      df.count()
      val t3 = System.nanoTime()
      println(f"$n%-28s pass $pass build ${(t1 - t0) / 1e9}%6.3f  " +
        f"plan ${(t2 - t1) / 1e9}%6.3f  exec ${(t3 - t2) / 1e9}%6.3f  " +
        f"total ${(t3 - t0) / 1e9}%6.3f")
    }
    spark.stop()
  }
}
