package graft.operators

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types.{DoubleType, LongType, TimestampType}

import graft.TestSpark.tempDir
import graft.sources.{CsvDialect, DecimalMode, MalformedMode}

/** R19/R20: the full job configuration round-trips through XML unchanged
  * (reference XML ctor + SaveAsXml, src/CSVProvider.cs:363-454).
  */
class ConfigXmlSpec extends AnyFunSuite {

  private val cfg = JobConfig(
    destFolder = Paths.get("/data/out"),
    sourceFolder = Some(Paths.get("/data/in")),
    sourceDialect = CsvDialect(delimiter = "|", quote = "'",
      hasHeader = false, nullSentinel = "NIL", encoding = "windows-1252",
      malformed = MalformedMode.Drop, decimalMode = DecimalMode.Detect),
    destDialect = CsvDialect(),
    deleteSourceFiles = true,
    sourceStabilityCheck = false,
    stabilitySleepMs = 1234,
    timestampSuffix = Some("20240305-0708091234567"),
    singleFileOutput = false,
  )

  private val mappings = Seq(
    Mapping("customers", "customers_out", Seq(
      ColumnMapping(Some("id"), "key", castTo = Some(LongType)),
      ColumnMapping(Some("bal"), "bal", castTo = Some(DoubleType),
        decimalMode = DecimalMode.Comma),
      ColumnMapping(Some("ts"), "ts", castTo = Some(TimestampType),
        timestampFormat = Some("dd/MM/yyyy")),
      ColumnMapping(None, "src", constant = Some("import")),
      ColumnMapping(Some("unused"), "unused", active = false),
    ), conditionals = Seq(
      Conditional("seg", CondOp.EqualTo, "BUILDING"),
      Conditional("id", CondOp.In, Seq("1", "2", "3")),
    )),
    Mapping("orders", "orders_out",
      Seq(ColumnMapping(Some("oid"), "oid")), active = false),
  )

  test("save → load returns an identical config and mapping set") {
    val f = tempDir("cfg").resolve("job.xml")
    ConfigXml.save(cfg, mappings, f)
    val (cfg2, mappings2) = ConfigXml.load(f)
    assert(cfg2 == cfg)
    assert(mappings2 == mappings)
  }

  test("schema overrides and the auto-suffix flag round-trip (R19 schema block)") {
    val withSchema = cfg.copy(
      timestampSuffix = None,
      autoTimestampSuffix = true,
      culture = "da-DK",
      maxParallelMappings = 4,
      schemaOverrides = Seq(
        TableSchemaOverride("customers", Seq(
          ColumnOverride("customer_key", Some(LongType)),
          ColumnOverride("customer_name"),
          ColumnOverride("balance", Some(DoubleType)))),
        TableSchemaOverride("orders", Seq(
          ColumnOverride("order_id")))))
    val f = tempDir("cfg").resolve("job3.xml")
    ConfigXml.save(withSchema, mappings, f)
    val (back, _) = ConfigXml.load(f)
    assert(back == withSchema)
    assert(back.schemaOverrides.head.columns.head.castTo.contains(LongType))
  }

  test("a file-source config with defaults round-trips too") {
    val simple = JobConfig(destFolder = Paths.get("/out"),
      sourceFile = Some(Paths.get("/in/data.csv")))
    val f = tempDir("cfg").resolve("job2.xml")
    ConfigXml.save(simple, Seq.empty, f)
    val (back, ms) = ConfigXml.load(f)
    assert(back == simple)
    assert(ms.isEmpty)
  }

  /** Saves `cfg`, applies `edit` to the written text, loads it back and
    * returns the load's error message.
    */
  private def loadError(edit: String => String): String = {
    val f = tempDir("cfg").resolve("broken.xml")
    ConfigXml.save(cfg, mappings, f)
    val saved = Files.readString(f)
    val broken = edit(saved)
    assert(broken != saved, "the edit must remove something")
    Files.writeString(f, broken)
    intercept[IllegalArgumentException](ConfigXml.load(f)).getMessage
  }

  test("a missing singleFileOutput attribute names the attribute and its element") {
    val msg = loadError(_.replaceFirst(""" singleFileOutput="[^"]*"""", ""))
    assert(msg.contains("singleFileOutput") && msg.contains("<options>"), msg)
  }

  test("a missing stabilitySleepMs attribute names the attribute and its element") {
    val msg = loadError(_.replaceFirst(""" stabilitySleepMs="[^"]*"""", ""))
    assert(msg.contains("stabilitySleepMs") && msg.contains("<options>"), msg)
  }

  test("a missing options element names the element") {
    val msg = loadError(_.replaceFirst("""(?s)<options[^>]*/>""", ""))
    assert(msg.contains("<options>"), msg)
  }
}
