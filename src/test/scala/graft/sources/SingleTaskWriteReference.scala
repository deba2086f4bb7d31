package graft.sources

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.Charset
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.{concat, concat_ws, lit, replace, when}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The single-file CSV path that [[CsvWrite.writeSingleFile]] and
  * [[CsvCatalog.readTable]] replaced, kept as the differential reference:
  * one plain file-source read (one split for a file under Spark's 4 MB open
  * cost) and one `coalesce(1)` task that streams the header and every
  * record, framed by the engine ([[referenceRecords]]), into the staged
  * file. Test-only.
  */
object SingleTaskWriteReference {

  /** The former `readTable` on a UTF-8 file: a plain read on the caller's
    * session. */
  def read(spark: SparkSession, file: Path, dialect: CsvDialect): DataFrame =
    spark.read
      .options(dialect.readOptions + ("encoding" -> "UTF-8"))
      .schema(StructType(CsvCatalog.columnNames(file, dialect)
        .map(StructField(_, StringType, nullable = true))))
      .csv(file.toString)

  /** The former `CsvWrite.referenceRecords`: one reference-format record
    * per row, as a single string column — non-null values quoted (embedded
    * quotes doubled), nulls as the bare sentinel, fields joined by the
    * delimiter — assembled by the engine. */
  def referenceRecords(df: DataFrame, dialect: CsvDialect, culture: String = ""): DataFrame = {
    val q = dialect.quote
    val formatted = CsvWrite.formatForWrite(df, culture)
    val fields: Seq[Column] = formatted.schema.fieldNames.map { n =>
      val c = CsvCatalog.column(n)
      when(c.isNull, lit(dialect.nullSentinel))
        .otherwise(concat(lit(q), replace(c, lit(q), lit(q + q)), lit(q)))
    }
    formatted.select(concat_ws(dialect.delimiter, fields: _*).as("value"))
  }

  private def headerLine(df: DataFrame, dialect: CsvDialect): String = {
    val q = dialect.quote
    df.schema.fieldNames
      .map(n => q + n.replace(q, q + q) + q)
      .mkString(dialect.delimiter)
  }

  def writeSingleFile(df: DataFrame, dir: String, table: String,
                      dialect: CsvDialect = CsvDialect(),
                      timestampSuffix: Option[String] = None,
                      culture: String = ""): Path = {
    val destDir = Paths.get(dir).toAbsolutePath
    Files.createDirectories(destDir) // reference auto-creates (:61-62)
    val dest = destDir.resolve(timestampSuffix.fold(s"$table.csv")(ts => s"$table[$ts].csv"))
    val (stageDir, prefix) = (destDir.toString, s".$table-${UUID.randomUUID()}-")
    val header = Option.when(dialect.hasHeader)(headerLine(df, dialect))
    try {
      val staged = referenceRecords(df, dialect, culture).coalesce(1).as(Encoders.STRING)
        .mapPartitions { records =>
          val f = Paths.get(stageDir, s"$prefix${TaskContext.get().taskAttemptId()}.stage")
          Iterator.single(writeLines(f, header.iterator ++ records, dialect.encoding).toString)
        }(Encoders.STRING).collect()
      // an empty local relation plans as a zero-partition scan: no task runs
      val file = if (staged.nonEmpty) Paths.get(staged(0))
        else writeLines(destDir.resolve(s"${prefix}driver.stage"), header.iterator, dialect.encoding)
      Files.move(file, dest, StandardCopyOption.ATOMIC_MOVE)
    } finally {
      val leftovers = Files.newDirectoryStream(destDir, (p: Path) => p.getFileName.toString.startsWith(prefix))
      try leftovers.forEach(p => Files.deleteIfExists(p)) finally leftovers.close()
    }
  }

  /** Writes `lines`, each ended by `\n`, to the new file `f` in `encoding`;
    * deletes `f` if anything fails, including the upstream iterator. */
  private def writeLines(f: Path, lines: Iterator[String], encoding: String): Path =
    try {
      val out = new BufferedWriter(new OutputStreamWriter(
        Files.newOutputStream(f, StandardOpenOption.CREATE_NEW), Charset.forName(encoding)))
      try lines.foreach { l => out.write(l); out.write('\n') } finally out.close()
      f
    } catch { case t: Throwable => Files.deleteIfExists(f); throw t }
}
