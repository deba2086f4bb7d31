package graft.operators

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.types.DoubleType
import org.scalatest.concurrent.Eventually.{eventually, interval, timeout}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Milliseconds, Seconds, Span}

import graft.TestSpark
import graft.TestSpark.tempDir
import graft.sources.{CsvCatalog, CsvDialect, DecimalMode}

/** The shape a CSV mapping runs in: one Spark job per `Job.run` mapping,
  * whose one stage has a task per source split — at least one per core for
  * a single file far below Spark's 4 MB open cost — and a source frame that
  * belongs to the caller's session, read without writing any of its confs.
  */
class CsvJobShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val OpenCost = "spark.sql.files.openCostInBytes"

  /** Task counts of each stage of every Spark job `body` submits, tagged by
    * a dedicated job group; a sentinel action flushes the listener bus. */
  private def jobsDuring(body: => Unit): Seq[Seq[Int]] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[(String, Seq[Int])]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        seen.add(js.properties.getProperty("spark.jobGroup.id", "") ->
          js.stageInfos.map(_.numTasks))
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup("__csvjob_body", "cold csv job")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("__csvjob_post", "sentinel")
      spark.range(1).count()
      sc.clearJobGroup()
      eventually(timeout(Span(30, Seconds)), interval(Span(50, Milliseconds))) {
        assert(seen.toArray.exists(_.asInstanceOf[(String, Seq[Int])]._1 == "__csvjob_post"))
      }
      seen.toArray.map(_.asInstanceOf[(String, Seq[Int])])
        .collect { case ("__csvjob_body", tasks) => tasks }.toSeq
    } finally sc.removeSparkListener(l)
  }

  /** A fresh `orders.csv` of `rows` data lines (about 30 bytes each). */
  private def ordersFile(rows: Int): Path = {
    val sb = new StringBuilder("id;amount;region\n")
    for (i <- 0 until rows) sb ++= s"\"$i\";\"${i % 997},${i % 10}\";\"r${i % 7}\"\n"
    Files.writeString(tempDir("shape").resolve("orders.csv"), sb.result())
  }

  test("a cold Job.run of a 40k-row single-file mapping runs one job with one task per core") {
    val file = ordersFile(40000)
    val cfg = JobConfig(tempDir("shape-out"), sourceFile = Some(file))
    val mapping = Mapping("orders", "orders_out", Seq(
      ColumnMapping(Some("id"), "id"),
      ColumnMapping(Some("amount"), "amount", castTo = Some(DoubleType),
        decimalMode = DecimalMode.Comma)),
      conditionals = Seq(Conditional("region", CondOp.EqualTo, "r3")))
    var result: JobResult = null
    val jobs = jobsDuring { result = Job.run(spark, cfg, Seq(mapping), sleep = _ => ()) }
    assert(result.ok, result.errors)
    assert(jobs.size == 1, s"Job.run ran ${jobs.size} jobs: $jobs")
    assert(jobs.head.size == 1, s"stages: ${jobs.head}")
    assert(jobs.head.head == spark.sparkContext.defaultParallelism, s"tasks: ${jobs.head}")
  }

  test("the single-file write runs one job over the formatted rows: no object round trip, no CollectMetrics") {
    val file = ordersFile(40000)
    val cfg = JobConfig(tempDir("shape-out"), sourceFile = Some(file))
    val mapping = Mapping("orders", "orders_out", Seq(
      ColumnMapping(Some("id"), "id"), ColumnMapping(Some("region"), "region")),
      conditionals = Seq(Conditional("region", CondOp.NotEqualTo, "r3")))
    val plans = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(funcName -> qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      var result: JobResult = null
      val jobs = jobsDuring { result = Job.run(spark, cfg, Seq(mapping), sleep = _ => ()) }
      assert(result.ok, result.errors)
      assert(jobs == Seq(Seq(spark.sparkContext.defaultParallelism)), s"jobs and their stages' tasks: $jobs")
      // the listener bus keeps order: once the sentinel's count is seen,
      // every execution of the job has been reported
      eventually(timeout(Span(30, Seconds)), interval(Span(50, Milliseconds))) {
        assert(plans.toArray.exists(_.asInstanceOf[(String, String)]._1 == "count"))
      }
      val writes = plans.toArray.map(_.asInstanceOf[(String, String)]).filter(_._1 != "count")
      assert(writes.length == 1, writes.map(_._1).mkString(", "))
      val plan = writes.head._2
      assert(plan.contains("FileScan csv"), plan)
      for (node <- Seq("DeserializeToObject", "MapPartitions", "SerializeFromObject", "CollectMetrics"))
        assert(!plan.contains(node), s"$node in the write's plan:\n$plan")
    } finally spark.listenerManager.unregister(listener)
  }

  test("readTable returns a frame of the caller's session and writes none of its confs") {
    val caller = spark.newSession()
    val file = ordersFile(1000)
    val before = caller.conf.getOption(OpenCost)
    val all = caller.conf.getAll
    val df = CsvCatalog.readTable(caller, file, CsvDialect())
    assert(df.sparkSession eq caller)
    assert(df.count() == 1000)
    // the same file-source scan as a plain read, filters pushed into it
    val scan = df.filter(col("region") === "r3").queryExecution.executedPlan.toString
    assert(scan.contains("FileScan csv") && scan.contains("EqualTo(region,r3)"), scan)
    assert(caller.conf.getOption(OpenCost) == before)
    assert(caller.conf.getAll == all)
  }

  test("readTable follows the caller's confs at each read, set or unset") {
    val caller = spark.newSession()
    val file = ordersFile(1000)
    def splits = CsvCatalog.readTable(caller, file, CsvDialect()).rdd.getNumPartitions
    val cores = spark.sparkContext.defaultParallelism
    assert(splits == cores)
    caller.conf.set("spark.sql.files.minPartitionNum", (cores * 3).toString)
    assert(splits == cores * 3)
    caller.conf.unset("spark.sql.files.minPartitionNum")
    assert(splits == cores)
  }
}
