import java.nio.file.Paths
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.FilePartition

import graft.sources.{CsvCatalog, CsvDialect}

/** Per split of each csv_jobs source: split length vs bytes the task read,
  * for `CsvCatalog.readTable` (one split per core) and for a plain one-split
  * read of the same data file. One argument: a directory holding the `csv/`
  * inputs of `perfbench/gen.py`. Compile with scalac against the perfbench
  * classes and the Spark jars; prints a TSV table on stdout. */
object InputBytesProbe {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0))
    val spark = SparkSession.builder().master("local[4]").config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tasks = new ConcurrentLinkedQueue[(Int, Int, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        tasks.add((e.stageId, e.taskInfo.index, e.taskMetrics.inputMetrics.bytesRead))
    })
    val files = Seq("ingest/orders_a.csv", "ingest/orders_b.csv").map(f => (f, CsvDialect())) ++
      (0 until 6).map(t => (f"export/t$t%02d.csv", CsvDialect(encoding = "windows-1252")))
    println("file\tmode\tsplit\tstart\tlength\tbytes_read\textra")
    for ((f, d) <- files; mode <- Seq("split", "plain")) {
      val split = CsvCatalog.readTable(spark, work.resolve("csv").resolve(f), d)
      // the file the split relation reads: the source, or its UTF-8 copy
      val data = split.inputFiles.head
      val df = if (mode == "split") split
        else spark.read.options(d.readOptions + ("encoding" -> "UTF-8")).schema(split.schema).csv(data)
      val scan = df.queryExecution.executedPlan.collectFirst { case s: FileSourceScanExec => s }.get
      val splits = scan.inputRDD.partitions.map(_.asInstanceOf[FilePartition])
      tasks.clear()
      spark.sparkContext.setJobDescription(s"$f $mode")
      df.write.format("noop").mode("overwrite").save()
      Thread.sleep(500)
      val read = tasks.asScala.map(t => t._2 -> t._3).toMap
      for (s <- splits; pf <- s.files) {
        val b = read.getOrElse(s.index, -1L)
        println(s"$f\t$mode\t${s.index}\t${pf.start}\t${pf.length}\t$b\t${b - pf.length}")
      }
    }
    spark.stop()
  }
}
