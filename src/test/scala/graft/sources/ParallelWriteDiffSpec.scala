package graft.sources

import java.nio.file.{Files, Path}
import java.time.LocalDateTime

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.TestSpark.tempDir
import graft.operators.{ColumnMapping, CondOp, Conditional, Mapping}

/** The parallel single-file path against the retired one
  * ([[SingleTaskWriteReference]]): one part per partition joined on the
  * driver must give the bytes of one `coalesce(1)` task, and a file read as
  * one split per core must give the rows of one split — for every
  * encoding (one BOM in UTF-16), header on and off, both cultures, sources
  * of zero, one and fewer rows than cores, empty leading and middle
  * partitions, and adversarial strings next to typed columns.
  */
class ParallelWriteDiffSpec extends AnyFunSuite {
  import ParallelWriteDiffSpec._

  private lazy val spark = TestSpark.spark
  private def cores = spark.sparkContext.defaultParallelism

  private val dialects = for {
    encoding <- Seq("UTF-8", "UTF-16", "windows-1252")
    header <- Seq(true, false)
  } yield CsvDialect(encoding = encoding, hasHeader = header)
  private val cultures = Seq("", "da-DK")

  /** A frame whose partition p holds `sizes(p)` rows, numbered in order. */
  private def frame(sizes: Seq[Int]): DataFrame = {
    val starts = sizes.scanLeft(0)(_ + _)
    val rows = spark.sparkContext.parallelize(sizes.indices, sizes.size)
      .flatMap(p => (starts(p) until starts(p + 1)).map(row))
    spark.createDataFrame(rows, schema)
  }

  private def listing(dir: Path): Set[String] = {
    val s = Files.list(dir)
    try s.map[String](_.getFileName.toString).toArray.map(_.toString).toSet finally s.close()
  }

  /** Writes `df` both ways into fresh directories; each must hold only its
    * destination, and the two files must be equal byte for byte. */
  private def assertSameBytes(what: String, df: => DataFrame, d: CsvDialect, culture: String): Unit =
    withClue(s"$what, ${d.encoding}, header=${d.hasHeader}, culture='$culture': ") {
      val (refDir, parDir) = (tempDir("ref"), tempDir("par"))
      val ref = SingleTaskWriteReference.writeSingleFile(df, refDir.toString, "t", d, None, culture)
      val par = CsvWrite.writeSingleFile(df, parDir.toString, "t", d, None, culture)
      assert(listing(refDir) == Set("t.csv") && listing(parDir) == Set("t.csv"))
      val (expected, actual) = (Files.readAllBytes(ref), Files.readAllBytes(par))
      assert(actual.sameElements(expected),
        s"${actual.length} bytes written, ${expected.length} by the reference")
    }

  private val sources: Seq[(String, () => DataFrame)] = Seq(
    "0 rows, no partition" -> (() =>
      spark.createDataFrame(java.util.List.of[Row](), schema)),
    "0 rows in 3 partitions" -> (() => frame(Seq(0, 0, 0))),
    "1 row" -> (() => frame(Seq(1))),
    "1 row after two empty partitions" -> (() => frame(Seq(0, 0, 1))),
    "fewer rows than cores" -> (() => frame(Seq.fill(cores)(1).updated(0, 0))),
    "empty middle partitions" -> (() => frame(Seq(3, 0, 0, 2, 0, 4))),
    "adversarial strings and typed columns" -> (() => adversarial))

  /** WriteKernelDiffSpec's adversarial strings plus the literal sentinel
    * and delimiters, one per row, next to typed columns, in 5 partitions. */
  private def adversarial: DataFrame = {
    val strings = WriteKernelDiffSpec.strings ++
      Seq("NULL", "null", "\"NULL\"", ";", ";;", "a;\"b\";c", " NULL ")
    val rows = strings.zipWithIndex.map { case (v, i) =>
      def orNull[T](x: T): Any = if (i % 9 == 4) null else x
      Row(v, orNull(i), orNull(i * 1000003L - 7), orNull(specialDoubles(i % specialDoubles.size)),
        orNull((i * 0.37f - 5).toFloat), orNull(new java.math.BigDecimal(s"${i - 150}.${i % 1000}")),
        orNull(java.sql.Date.valueOf(java.time.LocalDate.of(1999 + i % 40, 1 + i % 12, 1 + i % 28))),
        orNull(LocalDateTime.of(2024, 2, 29, i % 24, i % 60, (i * 7) % 60, (i % 1000) * 1000000)),
        orNull(i % 2 == 0))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 5), adversarialSchema)
  }

  for ((what, df) <- sources)
    test(s"$what: the parallel write equals the single-task write in every dialect") {
      for (d <- dialects; culture <- cultures) assertSameBytes(what, df(), d, culture)
    }

  /** `rows` data lines under a header: bare NULLs, quoted values with `;`
    * and `""`, comma decimals, some lines ended by CRLF, the last line
    * without a newline, then `tail` verbatim. */
  private def sourceFile(rows: Int, tail: String = ""): Path = {
    val sb = new StringBuilder("id;text;amount\n")
    for (i <- 0 until rows) {
      val text = i % 4 match {
        case 0 => "NULL"
        case 1 => s"\"semi;colon $i\""
        case 2 => s"\"say \"\"hi\"\" $i\""
        case _ => s"plain $i"
      }
      val amount = if (i % 6 == 5) "NULL" else s"\"${i / 4},${i % 100}\""
      sb ++= s"\"$i\";$text;$amount"
      if (i < rows - 1 || tail.nonEmpty) sb ++= (if (i % 7 == 3) "\r\n" else "\n")
    }
    sb ++= tail
    Files.writeString(tempDir("src").resolve("orders.csv"), sb.result())
  }

  private val mapping = Mapping("orders", "out", Seq(
    ColumnMapping(Some("id"), "id"),
    ColumnMapping(Some("text"), "text"),
    ColumnMapping(Some("amount"), "amount", castTo = Some(DoubleType),
      decimalMode = DecimalMode.Comma)),
    conditionals = Seq(Conditional("id", CondOp.NotEqualTo, "17")))

  test("a 40k-row file read as one split per core writes the bytes of one split and one task") {
    val file = sourceFile(40000)
    val src = CsvDialect()
    assert(SingleTaskWriteReference.read(spark, file, src).rdd.getNumPartitions == 1)
    assert(CsvCatalog.readTable(spark, file, src).rdd.getNumPartitions >= cores)
    for (d <- dialects; culture <- cultures) {
      val (refDir, parDir) = (tempDir("ref"), tempDir("par"))
      val ref = SingleTaskWriteReference.writeSingleFile(
        mapping.compile(SingleTaskWriteReference.read(spark, file, src)),
        refDir.toString, "t", d, None, culture)
      val par = CsvWrite.writeSingleFile(
        mapping.compile(CsvCatalog.readTable(spark, file, src)),
        parDir.toString, "t", d, None, culture)
      withClue(s"${d.encoding}, header=${d.hasHeader}, culture='$culture': ") {
        assert(Files.readAllBytes(par).sameElements(Files.readAllBytes(ref)))
        assert(listing(parDir) == Set("t.csv"))
      }
    }
  }

  test("FAILFAST on a malformed row in the last split fails as the single-task path does") {
    val file = sourceFile(40000, tail = "\"40000\";\"x\";\"1,5\";\"EXTRA-FIELD\"\n")
    val src = CsvDialect(malformed = MalformedMode.Fail)
    assert(CsvCatalog.readTable(spark, file, src).rdd.getNumPartitions >= 2)
    val (refDir, parDir) = (tempDir("ref"), tempDir("par"))
    val expected = intercept[Exception](SingleTaskWriteReference.writeSingleFile(
      mapping.compile(SingleTaskWriteReference.read(spark, file, src)), refDir.toString, "t"))
    val actual = intercept[Exception](CsvWrite.writeSingleFile(
      mapping.compile(CsvCatalog.readTable(spark, file, src)), parDir.toString, "t"))
    assert(causes(actual) == causes(expected))
    assert(causes(actual).exists(_.contains("MALFORMED_RECORD_IN_PARSING")), causes(actual))
    assert(listing(parDir).isEmpty)
  }
}

object ParallelWriteDiffSpec {
  val schema: StructType = StructType(Seq(
    StructField("id", StringType), StructField("say \"hi\"", StringType),
    StructField("amount", DoubleType), StructField("ts", TimestampNTZType)))

  /** Row i: NULLs in every column, values with `;`, `"`, CR and LF, text
    * outside windows-1252 (a surrogate pair included), doubles the culture
    * formats. */
  def row(i: Int): Row = Row(
    if (i % 5 == 3) null else i.toString,
    i % 4 match {
      case 0 => s"a;b \"q\" $i"
      case 1 => s"line1\nline2\r\nend\r$i"
      case 2 => null
      case _ => s"æø € кир 😀 $i"
    },
    if (i % 3 == 0) null else java.lang.Double.valueOf(i * 1.25 - 3),
    if (i % 2 == 0) null
    else LocalDateTime.of(2024, 1, 1 + i % 28, i % 24, i % 60, i % 60, (i % 1000) * 1000000))

  val adversarialSchema: StructType = StructType(Seq(
    StructField("c;\"s\"", StringType), StructField("i", IntegerType), StructField("l", LongType),
    StructField("d", DoubleType), StructField("f", FloatType), StructField("m", DecimalType(12, 3)),
    StructField("day", DateType), StructField("ts", TimestampNTZType), StructField("b", BooleanType)))

  val specialDoubles: Seq[Double] = Seq(0.0, -0.0, 1e-7, 123456.789, -2.5e21, 1e300,
    Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, Double.MinPositiveValue)

  /** Class and Spark error condition of every cause in the chain. */
  def causes(t: Throwable): List[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map {
      case s: SparkThrowable => s"${s.getClass.getName}:${s.getCondition}"
      case c => c.getClass.getName
    }.toList
}
