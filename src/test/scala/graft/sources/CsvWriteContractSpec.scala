package graft.sources

import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types._
import org.scalatest.concurrent.Eventually.{eventually, interval, timeout}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Milliseconds, Seconds, Span}

import graft.TestSpark
import graft.TestSpark.tempDir

/** The single-file write's contract: one Spark job per call, one file left
  * in the destination directory (no staging residue after success or
  * failure), header-only output for an empty frame, replacement of an
  * existing destination, observed metrics delivered, and the byte shape of
  * the legacy encodings pinned against golden files written by the former
  * write-a-part-file-then-transcode implementation.
  */
class CsvWriteContractSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("id", StringType), StructField("say \"hi\"", StringType),
    StructField("amount", DoubleType), StructField("ts", TimestampNTZType)))

  /** The golden files' input: quotes in a header name and a value, NULLs,
    * CR/LF inside a value, text outside windows-1252 (including a
    * surrogate pair), a negative zero and an empty string. */
  private def goldenFrame: DataFrame = {
    val rows = Seq(
      Row("1", "plain", java.lang.Double.valueOf(1.5), LocalDateTime.of(2024, 3, 5, 7, 8, 9, 123000000)),
      Row("2", "quote \" inside", null, null),
      Row(null, "line1\nline2\r\nend\r", java.lang.Double.valueOf(1.234e8),
        LocalDateTime.of(1999, 12, 31, 23, 59, 59, 0)),
      Row("4", "æøå € кириллица 😀", java.lang.Double.valueOf(-0.0),
        LocalDateTime.of(2000, 1, 1, 0, 0, 0, 7000000)),
      Row("5", "", java.lang.Double.valueOf(0.1), null))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  private def strings(rows: Seq[Row], parts: Int = 2): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts),
      StructType(Seq(StructField("a", StringType), StructField("b", StringType))))

  private def listing(dir: Path): Set[String] = {
    val s = Files.list(dir)
    try s.map[String](_.getFileName.toString).toArray.map(_.toString).toSet finally s.close()
  }

  private def golden(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/graft/sources/golden/$name")
    try in.readAllBytes() finally in.close()
  }

  /** Job group and description of every job started while `body` runs on
    * this thread; a sentinel action flushes the async listener bus. */
  private def jobsDuring(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        seen.add(js.properties.getProperty("spark.jobGroup.id", "") + "|" +
          js.properties.getProperty("spark.job.description", ""))
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup("__csvwrite_body", "single-file write")
      try body finally sc.clearJobGroup()
      sc.setJobDescription("__csvwrite_post")
      spark.range(1).count()
      sc.setJobDescription(null)
      eventually(timeout(Span(30, Seconds)), interval(Span(50, Milliseconds))) {
        assert(seen.toArray.exists(_.toString.endsWith("|__csvwrite_post")))
      }
      seen.toArray.map(_.toString).filter(_.startsWith("__csvwrite_body|")).toSeq
    } finally sc.removeSparkListener(l)
  }

  test("one Spark job per call; the directory then holds only the destination") {
    val dir = tempDir("contract")
    val df = strings((1 to 100).map(i => Row(i.toString, s"v$i")), parts = 3)
    val jobs = jobsDuring {
      CsvWrite.writeSingleFile(df, dir.toString, "t", CsvDialect(), Some("20240305-0708091234567"))
    }
    assert(jobs.size == 1, jobs)
    assert(listing(dir) == Set("t[20240305-0708091234567].csv"))
    assert(Files.readAllLines(dir.resolve("t[20240305-0708091234567].csv")).size == 101)
  }

  test("an empty frame gives a header-only file, or 0 bytes without a header") {
    val dir = tempDir("contract")
    val empties = Seq(
      "rdd" -> strings(Nil),
      "local" -> spark.createDataFrame(java.util.List.of[Row](), strings(Nil).schema),
      "pruned" -> strings(Seq(Row("1", "2"))).filter(lit(false)))
    for ((name, df) <- empties) {
      val f = CsvWrite.writeSingleFile(df, dir.toString, name)
      assert(Files.readString(f) == "\"a\";\"b\"\n", name)
      val bare = CsvWrite.writeSingleFile(df, dir.toString, s"$name-bare",
        CsvDialect(hasHeader = false))
      assert(Files.size(bare) == 0, name)
    }
    assert(listing(dir) == empties.flatMap { case (n, _) => Seq(s"$n.csv", s"$n-bare.csv") }.toSet)
    val obs = Observation("csvwrite.empty")
    val observed = CsvWrite.writeSingleFile(
      empties(1)._2.observe(obs, count(lit(1)).as("rows")), dir.toString, "observed")
    assert(Files.readString(observed) == "\"a\";\"b\"\n")
    assert(obs.get("rows") == 0L)
  }

  test("an existing destination is replaced") {
    val dir = tempDir("contract")
    Files.writeString(dir.resolve("t.csv"), "stale content that is longer than the new file\n" * 10)
    val f = CsvWrite.writeSingleFile(strings(Seq(Row("x", null))), dir.toString, "t")
    assert(Files.readString(f) == "\"a\";\"b\"\n\"x\";NULL\n")
    assert(listing(dir) == Set("t.csv"))
  }

  test("a failing upstream expression leaves no destination and no staged file") {
    val dir = tempDir("contract")
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val bad = strings((1 to 50).map(i => Row(if (i == 40) "x" else i.toString, "v")))
        .select(col("a").cast("int").as("a"))
      val e = intercept[Exception](CsvWrite.writeSingleFile(bad, dir.toString, "t"))
      assert(e.getMessage.contains("CAST_INVALID_INPUT"), e.getMessage)
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert(listing(dir).isEmpty)
  }

  test("a failing last partition leaves no staged file, even from parts that end late (20 runs)") {
    val dir = tempDir("contract")
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      for (run <- 1 to 20) {
        // partitions 0-2 complete; partition 1 writes its part only after
        // the job has failed on the last row of partition 3, and misses the
        // kill: it waits without sleeping, then clears its interrupt
        val rows = spark.sparkContext.parallelize(1 to 400, 4)
          .map(i => Row(if (i == 400) "x" else i.toString, "v"))
          .mapPartitionsWithIndex { (p, it) =>
            val all = it.toVector
            if (p == 1) {
              val until = System.nanoTime() + 300L * 1000 * 1000
              while (System.nanoTime() < until) Thread.onSpinWait()
              Thread.interrupted()
            }
            all.iterator
          }
        val bad = spark.createDataFrame(rows, strings(Nil).schema)
          .select(col("a").cast("int").as("a"))
        val e = intercept[Exception](CsvWrite.writeSingleFile(bad, dir.toString, "t"))
        assert(e.getMessage.contains("CAST_INVALID_INPUT"), e.getMessage)
        Thread.sleep(500) // the late part's task has ended
        assert(listing(dir).isEmpty, s"run $run")
      }
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("an observation placed on the input delivers its metric") {
    val dir = tempDir("contract")
    val obs = Observation("csvwrite.rows")
    CsvWrite.writeSingleFile(
      strings((1 to 7).map(i => Row(i.toString, null))).observe(obs, count(lit(1)).as("rows")),
      dir.toString, "t")
    assert(obs.get("rows") == 7L)
  }

  test("UTF-16 and windows-1252 bytes equal the golden files") {
    val dir = tempDir("contract")
    val utf16 = CsvWrite.writeSingleFile(goldenFrame, dir.toString, "utf16",
      CsvDialect(encoding = "UTF-16"))
    assert(Files.readAllBytes(utf16).sameElements(golden("utf16.csv")))
    val cp1252 = CsvWrite.writeSingleFile(goldenFrame, dir.toString, "cp1252",
      CsvDialect(encoding = "windows-1252"), None, "da-DK")
    assert(Files.readAllBytes(cp1252).sameElements(golden("cp1252.csv")))
    assert(listing(dir) == Set("utf16.csv", "cp1252.csv"))
  }
}
