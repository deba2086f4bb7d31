package graft.queries

import scala.util.{Success, Try}

import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class TablesSpec extends AnyFunSuite {
  test("fanned names the Tables.fanKey registry for an unregistered table") {
    val e = intercept[IllegalArgumentException] {
      Tables.fanned(TestSpark.spark, "unused-sf-dir", "no_such_table")
    }
    assert(e.getMessage.contains("no_such_table"))
    assert(e.getMessage.contains("Tables.fanKey"))
  }

  test("the schema memo is not shared by sessions whose nanosAsLong flags differ") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = TestSpark.tempDir("nanos")
    val path = dir.resolve("events.parquet").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path)).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1700000000123456789L))
    finally w.close()
    val flag = "spark.sql.legacy.parquet.nanosAsLong"
    val asLong = TestSpark.spark.newSession()
    asLong.conf.set(flag, "true")
    val strict = TestSpark.spark.newSession()
    strict.conf.set(flag, "false")
    assert(Tables(asLong, dir.toString, "events").schema("ts").dataType == LongType)
    // the strict session must see what bare inference under ITS flag gives,
    // not the LongType schema the first session memoized
    val bare = Try(strict.read.parquet(path).schema)
    val served = Try(Tables(strict, dir.toString, "events").schema)
    assert(bare.map(_("ts").dataType) != Success(LongType))
    assert(served.toOption == bare.toOption, s"bare $bare, served $served")
  }

  private val fixtureDirs = Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"/root/testdata/$sf")

  /** A fresh session over the shared context, `nanosAsLong` set as given. */
  private def session(nanosAsLong: Boolean) = {
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", nanosAsLong.toString)
    s
  }

  test("the footer schema equals Spark's inferred schema for every fixture table, both nanos flags") {
    // plus a directory of part files, as specs write tables
    val written = TestSpark.tempDir("written").toString
    TestSpark.spark.range(10).selectExpr("id AS doc_id", "cast(id AS string) AS text")
      .repartition(2).write.parquet(s"$written/documents.parquet")
    for (flag <- Seq(true, false); dir <- fixtureDirs :+ written) {
      val s = session(flag)
      val tables = new java.io.File(dir).list().filter(_.endsWith(".parquet")).sorted
      assert(tables.nonEmpty, dir)
      for (t <- tables) {
        val path = s"$dir/$t"
        val bare = Try(s.read.parquet(path).schema)
        val served = Try(Tables(s, dir, t.stripSuffix(".parquet")).schema)
        assert(served.toOption == bare.toOption, s"$path (nanosAsLong=$flag): bare $bare, served $served")
        assert(served.isSuccess == bare.isSuccess, s"$path (nanosAsLong=$flag)")
      }
    }
  }

  test("the footer row count equals count() for every fixture table; a directory of part files counts") {
    val written = TestSpark.tempDir("written-count").toString
    TestSpark.spark.range(10).selectExpr("id AS doc_id").repartition(2)
      .write.parquet(s"$written/documents.parquet")
    val s = session(true)
    for (dir <- fixtureDirs :+ written;
         t <- new java.io.File(dir).list().filter(_.endsWith(".parquet")).sorted) {
      val path = s"$dir/$t"
      assert(Tables.rowCount(s, dir, t.stripSuffix(".parquet")) == s.read.parquet(path).count(), path)
    }
  }

  test("events without nanosAsLong keeps the actionable TIMESTAMP(NANOS) message") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = TestSpark.tempDir("nanos-message")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(
      new org.apache.hadoop.fs.Path(dir.resolve("events.parquet").toString)).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1700000000123456789L))
    finally w.close()
    val e = intercept[IllegalStateException](Tables.events(session(false), dir.toString))
    assert(e.getMessage.contains("spark.sql.legacy.parquet.nanosAsLong=true"), e.getMessage)
    assert(Tables.events(session(true), dir.toString).collect().length == 1)
  }

  test("a cold Tables.apply launches no Spark job") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val s = session(true)
    val sc = s.sparkContext
    // a fresh copy of a fixture: a path no earlier read memoized
    val dir = TestSpark.tempDir("cold-read")
    java.nio.file.Files.copy(java.nio.file.Paths.get("/root/testdata/sf0.01/documents.parquet"),
      dir.resolve("documents.parquet"))
    val jobs = new AtomicInteger()
    val sentinel = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        js.properties.getProperty("spark.jobGroup.id", "") match {
          case "__cold_read" => jobs.incrementAndGet()
          case "__cold_sentinel" => sentinel.incrementAndGet()
          case _ =>
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup("__cold_read", "cold Tables.apply")
      try Tables(s, dir.toString, "documents").schema finally sc.clearJobGroup()
      // the listener bus delivers in order: once the sentinel's job shows,
      // every job of the cold read has been counted
      sc.setJobGroup("__cold_sentinel", "listener-bus flush")
      try s.range(1).collect() finally sc.clearJobGroup()
      org.scalatest.concurrent.Eventually.eventually(
        org.scalatest.concurrent.Eventually.timeout(org.scalatest.time.Span(30,
          org.scalatest.time.Seconds))) { assert(sentinel.get() >= 1) }
      assert(jobs.get() == 0, s"${jobs.get()} job(s) during a cold Tables.apply")
    } finally sc.removeSparkListener(l)
  }
}
