package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.TestSpark.{csvFile, tempDir}

/** Catalog semantics (R1/R2/R3): one table per file, header-or-positional
  * naming, duplicate headers are a hard error (where Spark alone would
  * silently suffix-dedup — reference src/CSVSourceReader.cs:245-273).
  */
class CsvCatalogSpec extends AnyFunSuite {
  private val d = CsvDialect()

  test("header row provides column names verbatim") {
    val dir = tempDir("cat")
    val f = csvFile(dir, "t.csv", "id;name;amount\n1;x;2\n")
    assert(CsvCatalog.columnNames(f, d) == Seq("id", "name", "amount"))
  }

  test("headerless files get positional 'Column i' names, 1-based") {
    val dir = tempDir("cat")
    val f = csvFile(dir, "t.csv", "1;x;2\n4;y;5\n")
    assert(CsvCatalog.columnNames(f, d.copy(hasHeader = false)) ==
      Seq("Column 1", "Column 2", "Column 3"))
  }

  test("duplicate non-empty header names are a hard error (R3)") {
    val dir = tempDir("cat")
    val f = csvFile(dir, "t.csv", "id;name;id\n1;x;2\n")
    val e = intercept[DuplicateHeaderException](CsvCatalog.columnNames(f, d))
    assert(e.getMessage.contains("id"))
  }

  test("readTable yields all-string columns and skips the header row") {
    val spark = TestSpark.spark
    val dir = tempDir("cat")
    val f = csvFile(dir, "t.csv", "id;name\n1;alpha\n2;beta\n")
    val df = CsvCatalog.readTable(spark, f, d)
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    assert(df.count() == 2)
    assert(df.collect().map(_.getString(1)).sorted.toSeq == Seq("alpha", "beta"))
  }

  test("load maps one table per top-level csv, named by file stem") {
    val spark = TestSpark.spark
    val dir = tempDir("cat")
    csvFile(dir, "customers.csv", "id\n1\n")
    csvFile(dir, "orders.csv", "id\n2\n3\n")
    csvFile(dir, "notes.txt", "ignored")
    java.nio.file.Files.createDirectory(dir.resolve("nested"))
    csvFile(dir.resolve("nested"), "inner.csv", "id\n9\n")
    val cat = CsvCatalog.load(spark, dir.toString, d)
    assert(cat.keySet == Set("customers", "orders")) // top-level only (R1)
    assert(cat("orders").count() == 2)
  }

  test("readDir handles a headerless partitioned directory with positional names") {
    val spark = TestSpark.spark
    val dir = tempDir("cat").resolve("nohdr")
    val noHeader = d.copy(hasHeader = false)
    val src = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (1 to 40).map(i => org.apache.spark.sql.Row(i.toString, s"x$i")), 3),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("a",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("b",
          org.apache.spark.sql.types.StringType))))
    CsvWrite.writeDir(src, dir.toString, noHeader)
    val back = CsvCatalog.readDir(spark, dir, noHeader)
    assert(back.columns.toSeq == Seq("Column 1", "Column 2"))
    assert(back.count() == 40)
  }

  test("readDir reads a partitioned directory written by writeDir") {
    val spark = TestSpark.spark
    val dir = tempDir("cat").resolve("out")
    val src = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (1 to 100).map(i => org.apache.spark.sql.Row(i.toString, s"v$i")), 4),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType))))
    CsvWrite.writeDir(src, dir.toString, d)
    val back = CsvCatalog.readDir(spark, dir, d)
    assert(back.columns.toSeq == Seq("id", "v"))
    assert(back.count() == 100)
  }

  private val Bom = "\uFEFF"

  test("a UTF-8 byte-order mark is not part of the first header name") {
    val spark = TestSpark.spark
    val dir = tempDir("cat")
    val f = csvFile(dir, "t.csv", s"${Bom}id;name\n1;alpha\n2;beta\n")
    assert(CsvCatalog.columnNames(f, d) == Seq("id", "name"))
    val df = CsvCatalog.readTable(spark, f, d)
    assert(df.select(CsvCatalog.column("id")).collect().map(_.getString(0)).toSeq == Seq("1", "2"))
    // readDir probes its column names from the first part the same way
    val parts = tempDir("cat").resolve("parts")
    java.nio.file.Files.createDirectory(parts)
    csvFile(parts, "part-0.csv", s"${Bom}id;name\n1;alpha\n")
    assert(CsvCatalog.readDir(spark, parts, d).columns.toSeq == Seq("id", "name"))
  }

  test("a UTF-8 byte-order mark before a headerless file's first row is dropped") {
    val spark = TestSpark.spark
    val dir = tempDir("cat")
    val noHeader = d.copy(hasHeader = false)
    val f = csvFile(dir, "t.csv", s"${Bom}1;alpha\n2;beta\n")
    assert(CsvCatalog.columnNames(f, noHeader) == Seq("Column 1", "Column 2"))
    val rows = CsvCatalog.readTable(spark, f, noHeader).collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq == Seq("1" -> "alpha", "2" -> "beta"))
  }

  test("readTable reads file names with glob characters, in UTF-8 and windows-1252") {
    val spark = TestSpark.spark
    for (name <- Seq("t[20260101-1200000000000].csv", "u{1}.csv");
         encoding <- Seq("UTF-8", "windows-1252")) withClue(s"$name, $encoding: ") {
      val f = csvFile(tempDir("cat"), name, "id;name\n1;æble\n2;øl\n", encoding)
      val df = CsvCatalog.readTable(spark, f, d.copy(encoding = encoding))
      assert(df.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
        Seq("1" -> "æble", "2" -> "øl"))
    }
  }

  test("readTable rejects header names equal up to case, as a plain read does") {
    val spark = TestSpark.spark
    val f = csvFile(tempDir("cat"), "t.csv", "id;ID\n1;2\n")
    val e = intercept[org.apache.spark.sql.AnalysisException](CsvCatalog.readTable(spark, f, d))
    assert(e.getCondition == "COLUMN_ALREADY_EXISTS", e.getMessage)
  }
}
