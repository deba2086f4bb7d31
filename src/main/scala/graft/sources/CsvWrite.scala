package graft.sources

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.Charset
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DecimalType, DoubleType, FloatType, TimestampNTZType, TimestampType}

/** CSV sink with the reference's row format (src/CSVDestinationWriter.cs:80-152;
  * SURVEY.md §2.1 R11-R15):
  *   - every non-NULL value quoted, NULL written as the BARE unquoted
  *     sentinel (:129-132);
  *   - embedded newlines stripped from values (:89);
  *   - timestamps formatted `dd-MM-yyyy HH:mm:ss:fff` (:98-102, 118-127);
  *   - header emitted per config (:82-85, 146-152);
  *   - optional timestamped file name `<table>[<suffix>].csv` (:23-28);
  *   - encodings UTF-8 / UTF-16 / windows-125x (src/CSVProvider.cs:603-616).
  *
  * Two paths with different fidelity/scale trade-offs:
  *   - [[writeSingleFile]] — the reference's one-file-per-table output,
  *     byte-faithful: records are assembled by the engine (distributed,
  *     codegen'd `concat_ws`), so the NULL sentinel stays unquoted exactly
  *     like the reference's writer, and one task writes the header and the
  *     records once, in the configured encoding, like the reference's
  *     single `TextWriter` (src/CSVDestinationWriter.cs:17-45).
  *     The only deviation is deliberate: embedded quotes are `""`-escaped
  *     where the reference emits malformed CSV (SURVEY.md §2.4.1).
  *   - [[writeDir]] — the 100 TB path: a partitioned directory written by
  *     Spark's native CSV sink (UTF-8, standard escaping, header per
  *     part, nulls as the quoted sentinel token — read back as SQL nulls
  *     by [[CsvCatalog.readDir]]).
  */
object CsvWrite {

  /** Reference timestamp format dd-MM-yyyy HH:mm:ss:fff → Spark pattern. */
  val TimestampPattern = "dd-MM-yyyy HH:mm:ss:SSS"

  /** The reference's auto-generated destination-file suffix
    * `yyyyMMdd-HHmmssFFFFFFF` (src/CSVDestinationWriter.cs:23-28): wall
    * clock with a 7-digit fractional second (.NET 100 ns ticks). One
    * deliberate deviation: .NET `F` drops trailing zeros, making the name
    * length unstable — we emit all 7 digits. `now` is injectable for tests.
    */
  def autoSuffix(now: java.time.LocalDateTime = java.time.LocalDateTime.now()): String =
    now.format(java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd-HHmmssSSSSSSS"))

  /** The job culture's decimal separator, from the JDK's own CLDR locale
    * data (`DecimalFormatSymbols`) — the engine twin of the reference's
    * `string.Format(cultureInfo, "{0}", v)` for fractional values
    * (src/CSVDestinationWriter.cs:135, culture from the job at
    * src/CSVProvider.cs:549). Empty/"invariant" pins '.' — we reproduce
    * the CONFIGURED culture, never the ambient one (SURVEY §7.2).
    */
  def cultureDecimalSeparator(culture: String): Char =
    if (culture == null || culture.isEmpty || culture.equalsIgnoreCase("invariant")) '.'
    else java.text.DecimalFormatSymbols
      .getInstance(java.util.Locale.forLanguageTag(culture)).getDecimalSeparator

  /** Format a DataFrame's columns the way the reference's writer does:
    * timestamps/dates via the fixed pattern, float/double via positional
    * shortest-round-trip digits (never scientific notation — round-3
    * verdict #6; see [[graft.functions.PlainDoubleString]]), fractional
    * numerics (including DecimalType — round-3 ADVICE) with the job
    * culture's decimal separator, everything else via plain string
    * conversion, newlines stripped. Deliberate deviation: the reference
    * also lets the culture change the TIMESTAMP separators (.NET custom
    * patterns localize ':'); we keep the pattern's literal separators —
    * the culture knob governs numerics only.
    */
  def formatForWrite(df: DataFrame, culture: String = ""): DataFrame = {
    val sep = cultureDecimalSeparator(culture)
    def cultured(c: Column): Column =
      if (sep != '.') translate(c, ".", sep.toString) else c
    val cols: Seq[Column] = df.schema.fields.map { f =>
      val quoted = "`" + f.name.replace("`", "``") + "`"
      val c = col(f.name)
      val formatted = f.dataType match {
        case TimestampType | TimestampNTZType | DateType =>
          date_format(c, TimestampPattern)
        case DoubleType | FloatType =>
          cultured(graft.functions.GraftFunctions.plainDouble(col(quoted)))
        case _: DecimalType => cultured(c.cast("string"))
        case _ => c.cast("string")
      }
      translate(formatted, "\r\n", "").as(f.name)
    }
    df.select(cols: _*)
  }

  /** Distributed write: a directory of part files. This is the 100 TB path. */
  def writeDir(df: DataFrame, dir: String, dialect: CsvDialect = CsvDialect(),
               culture: String = ""): Unit =
    formatForWrite(df, culture).write.mode("overwrite")
      .options(dialect.writeOptions).csv(dir)

  /** One reference-format record per row, as a single string column:
    * non-null values quoted (embedded quotes doubled), nulls as the bare
    * sentinel, fields joined by the delimiter. Runs distributed and
    * codegen'd; [[writeSingleFile]]'s one task only streams the records.
    */
  private[sources] def referenceRecords(df: DataFrame, dialect: CsvDialect,
      culture: String = ""): DataFrame = {
    val q = dialect.quote
    val formatted = formatForWrite(df, culture)
    val fields: Seq[Column] = formatted.schema.fieldNames.map { n =>
      when(col(n).isNull, lit(dialect.nullSentinel))
        .otherwise(concat(lit(q), replace(col(n), lit(q), lit(q + q)), lit(q)))
    }
    formatted.select(concat_ws(dialect.delimiter, fields: _*).as("value"))
  }

  private def headerLine(df: DataFrame, dialect: CsvDialect): String = {
    val q = dialect.quote
    df.schema.fieldNames
      .map(n => q + n.replace(q, q + q) + q)
      .mkString(dialect.delimiter)
  }

  /** Fidelity-mode write: exactly one `<table>[suffix].csv` file in `dir`,
    * like the reference (src/CSVDestinationWriter.cs:17-33, 61-62), in ONE
    * Dataset action: a single `coalesce(1)` task streams the header and the
    * records, in the dialect's encoding, into a hidden file in `dir` named
    * by its task attempt, and the driver renames that file atomically onto
    * the destination. No row reaches the driver; on failure no file of this
    * call remains. Executors must see `dir` at the same path.
    */
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
