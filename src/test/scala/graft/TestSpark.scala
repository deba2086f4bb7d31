package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.concurrent.Eventually.{eventually, interval, timeout}
import org.scalatest.time.{Milliseconds, Seconds, Span}

/** One shared local session for the whole forked test JVM (suites run
  * sequentially in sbt's single forked process). Mirrors Verify/Bench
  * session config, including the nanosAsLong flag events reads require.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Write `content` as `<dir>/<name>` (UTF-8 unless bytes given). */
  def csvFile(dir: Path, name: String, content: String,
              charset: String = "UTF-8"): Path =
    Files.write(dir.resolve(name), content.getBytes(charset))

  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }

  /** Descriptions of the Spark jobs `body` submits, tagged by a dedicated
    * job group (ModelStoreSpec's discipline: immune to async jobs from
    * other sources; a sentinel action flushes the listener bus).
    */
  def jobsDuring(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        seen.add(js.properties.getProperty("spark.jobGroup.id", "") + "|" +
          js.properties.getProperty("spark.job.description", ""))
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup("__jobs_body", "counted window")
      try body finally sc.clearJobGroup()
      sc.setJobDescription("__jobs_post")
      spark.range(1).count()
      sc.setJobDescription(null)
      eventually(timeout(Span(30, Seconds)), interval(Span(50, Milliseconds))) {
        assert(seen.toArray.exists(_.toString.endsWith("|__jobs_post")))
      }
      seen.toArray.map(_.toString).filter(_.startsWith("__jobs_body|")).toSeq
    } finally sc.removeSparkListener(l)
  }
}
