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
}
