package graft.sources

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.Charset
import java.nio.channels.FileChannel
import java.nio.file.{DirectoryNotEmptyException, Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
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
  *     byte-faithful: every partition's task frames its own records from
  *     the formatted rows, like the reference's writer (the NULL sentinel
  *     unquoted), and encodes them in the configured encoding, and the
  *     driver joins the parts in partition order into the bytes the
  *     reference's single `TextWriter` writes
  *     (src/CSVDestinationWriter.cs:17-45): one header, at most one
  *     byte-order mark, the rows in input order.
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
      val c = CsvCatalog.column(f.name)
      val formatted = f.dataType match {
        case TimestampType | TimestampNTZType | DateType =>
          date_format(c, TimestampPattern)
        case DoubleType | FloatType =>
          cultured(graft.functions.GraftFunctions.plainDouble(c))
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

  private def headerLine(df: DataFrame, dialect: CsvDialect): String = {
    val q = dialect.quote
    df.schema.fieldNames
      .map(n => q + n.replace(q, q + q) + q)
      .mkString(dialect.delimiter)
  }

  /** Fidelity-mode write: exactly one `<table>[suffix].csv` file in `dir`,
    * like the reference (src/CSVDestinationWriter.cs:17-33, 61-62), in ONE
    * Spark job over the internal rows of [[formatForWrite]]'s frame. Each
    * partition's task frames its records itself (every value quoted with
    * embedded quotes doubled, NULL as the bare sentinel, fields joined by
    * the delimiter), encodes them (partition 0 also the header) in the
    * dialect's encoding into its own part in a hidden staging directory in
    * `dir`, and returns the part with its record count; the driver appends
    * the later parts to the first in partition order, skipping their
    * byte-order marks (Java's `UTF-16` encoder starts every stream with
    * one), and renames the result atomically onto the destination.
    * Partition order is input order, so the bytes are those of one writer
    * over all rows. No row reaches the driver; on failure no file of this
    * call remains. The job runs as one SQL execution of the frame, so an
    * `Observation` on `df` completes. Executors must see `dir` at the same
    * path.
    */
  def writeSingleFile(df: DataFrame, dir: String, table: String,
                      dialect: CsvDialect = CsvDialect(),
                      timestampSuffix: Option[String] = None,
                      culture: String = ""): Path =
    writeSingleFileCounted(df, dir, table, dialect, timestampSuffix, culture)._1

  /** [[writeSingleFile]], also returning the number of records written
    * (the header line not counted): the sum of the write tasks' counts. */
  def writeSingleFileCounted(df: DataFrame, dir: String, table: String,
                             dialect: CsvDialect = CsvDialect(),
                             timestampSuffix: Option[String] = None,
                             culture: String = ""): (Path, Long) = {
    val destDir = Paths.get(dir).toAbsolutePath
    Files.createDirectories(destDir) // reference auto-creates (:61-62)
    val dest = destDir.resolve(timestampSuffix.fold(s"$table.csv")(ts => s"$table[$ts].csv"))
    val stage = Files.createDirectory(destDir.resolve(s".$table-${UUID.randomUUID()}.stage"))
    val stageDir = stage.toString
    val header = Option.when(dialect.hasHeader)(headerLine(df, dialect))
    try {
      val qe = formatForWrite(df, culture).queryExecution
      val width = df.schema.length
      val parts = SQLExecution.withNewExecutionId(qe, Some("writeSingleFile")) {
        qe.toRdd.mapPartitions { rows =>
          val ctx = TaskContext.get()
          val head = if (ctx.partitionId() == 0) header else None
          if (head.isEmpty && !rows.hasNext) Iterator.empty
          else {
            val f = Paths.get(stageDir, s"part-${ctx.partitionId()}-${ctx.attemptNumber()}")
            Iterator.single(f.toString -> writeRecords(f, head, rows, width, dialect))
          }
        }.collect()
      }
      val (files, counts) = parts.map { case (f, n) => (Paths.get(f), n) }.toSeq.unzip
      // no part: no task ran (an empty local relation plans as a
      // zero-partition scan), or there is neither a header nor a row
      val file = files.headOption.getOrElse {
        val f = stage.resolve("driver")
        writeRecords(f, header, Iterator.empty, width, dialect)
        f
      }
      if (files.length > 1) append(file, files.tail, byteOrderMarkLength(dialect.encoding))
      (Files.move(file, dest, StandardCopyOption.ATOMIC_MOVE), counts.sum)
    } finally removeStage(stage)
  }

  /** Bytes `encoding` puts at the start of every stream it encodes. */
  private def byteOrderMarkLength(encoding: String): Int = {
    val cs = Charset.forName(encoding)
    2 * "\n".getBytes(cs).length - "\n\n".getBytes(cs).length
  }

  /** Appends each of `parts`, minus its first `skip` bytes, to `first`. */
  private def append(first: Path, parts: Seq[Path], skip: Int): Unit = {
    val out = FileChannel.open(first, StandardOpenOption.APPEND)
    try parts.foreach { p =>
      val in = FileChannel.open(p)
      try {
        var pos = skip.toLong
        while (pos < in.size) pos += in.transferTo(pos, in.size - pos, out)
      } finally in.close()
    } finally out.close()
  }

  /** Deletes the staging directory with everything in it. After a failed
    * job a task may still be writing its part; a part created after the
    * listing keeps the directory non-empty, so list and delete again. Once
    * the directory is gone no task can create a part (parts are created
    * only inside it, never with their parent), so nothing is left behind
    * whenever the job's tasks end. */
  private def removeStage(stage: Path): Unit = {
    var removed = false
    while (!removed) {
      val parts = Files.newDirectoryStream(stage)
      try parts.forEach(p => Files.deleteIfExists(p)) finally parts.close()
      removed = try { Files.delete(stage); true }
        catch { case _: DirectoryNotEmptyException => false }
    }
  }

  /** Writes `header`, then one reference-format record per row of `width`
    * string fields, each line ended by `\n`, to the new file `f` in the
    * dialect's encoding; returns the number of records. Deletes `f` if
    * anything fails, including the upstream iterator. */
  private def writeRecords(f: Path, header: Option[String], rows: Iterator[InternalRow],
                           width: Int, dialect: CsvDialect): Long =
    try {
      val out = new BufferedWriter(new OutputStreamWriter(
        Files.newOutputStream(f, StandardOpenOption.CREATE_NEW), Charset.forName(dialect.encoding)))
      try {
        val (q, qq, sep, nul) = (dialect.quote, dialect.quote * 2, dialect.delimiter, dialect.nullSentinel)
        header.foreach { h => out.write(h); out.write('\n') }
        var n = 0L
        while (rows.hasNext) {
          val row = rows.next()
          var i = 0
          while (i < width) {
            if (i > 0) out.write(sep)
            if (row.isNullAt(i)) out.write(nul)
            else { out.write(q); out.write(row.getUTF8String(i).toString.replace(q, qq)); out.write(q) }
            i += 1
          }
          out.write('\n')
          n += 1
        }
        n
      } finally out.close()
    } catch { case t: Throwable => Files.deleteIfExists(f); throw t }
}
