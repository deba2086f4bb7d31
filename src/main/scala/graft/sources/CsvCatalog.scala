package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.Charset
import java.nio.file.{Files, Path, Paths}
import java.util.{Collections, Locale}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, NoopCache, PartitionSpec}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Raised when a header row repeats a non-empty column name — the reference
  * treats this as a hard error (reference: src/CSVSourceReader.cs:245-273)
  * where Spark would silently suffix-dedup. SURVEY.md §2.1 R3.
  */
final class DuplicateHeaderException(table: String, dups: Seq[String])
    extends RuntimeException(
      s"Duplicate columns in table '$table': ${dups.mkString(", ")}")

/** CSV source catalog: one table per `*.csv` file (top-level only), table
  * name = file stem, every column typed string — the reference's schema
  * model (src/CSVProvider.cs:155-198, 281-315, 641-656; SURVEY.md §1.1-§1.3).
  *
  * Scale note: only the single header line of each file is read on the
  * driver (schema is metadata); the data read is Spark's CSV file source
  * with an explicit schema, so filter and column pushdown apply. One file
  * plans as one byte-range split per core ([[readTable]]), so even a file
  * far below Spark's 4 MB per-file open cost is parsed on every core.
  */
object CsvCatalog {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Minimal RFC-4180 field splitter for ONE line (the header). Quote char
    * doubles to escape itself — same dialect as the data path (§1.4).
    * Driver-side, O(header length); never used for data rows.
    */
  private[sources] def splitLine(line: String, dialect: CsvDialect): Seq[String] = {
    val d = dialect.delimiter.head
    val q = dialect.quote.head
    val out = Vector.newBuilder[String]
    val cur = new StringBuilder
    var inQuotes = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQuotes) {
        if (c == q) {
          if (i + 1 < line.length && line.charAt(i + 1) == q) { cur += q; i += 1 }
          else inQuotes = false
        } else cur += c
      } else c match {
        case `q` => inQuotes = true
        case `d` => out += cur.result(); cur.clear()
        case _   => cur += c
      }
      i += 1
    }
    out += cur.result()
    out.result()
  }

  /** The file's first line, less one leading byte-order mark: a UTF-8 mark
    * decodes to U+FEFF, which the data read drops too. */
  private def firstLine(file: Path, encoding: String): Option[String] = {
    val in = Files.newInputStream(file)
    try {
      val r = new BufferedReader(new InputStreamReader(in, Charset.forName(encoding)))
      Option(r.readLine()).map(_.stripPrefix("\uFEFF"))
    } finally in.close()
  }

  /** Column names for one file, reference-style: header row verbatim when
    * `hasHeader`, else positional `"Column 1".."Column N"` (1-based —
    * reference src/CSVProvider.cs:290-305). Throws
    * [[DuplicateHeaderException]] on repeated non-empty header names (R3).
    */
  def columnNames(file: Path, dialect: CsvDialect): Seq[String] = {
    val table = stem(file)
    firstLine(file, dialect.encoding) match {
      case None => Seq.empty
      case Some(line) =>
        val fields = splitLine(line, dialect)
        if (dialect.hasHeader) {
          val dups = fields.filter(_.nonEmpty).groupBy(identity)
            .collect { case (name, occ) if occ.size > 1 => name }.toSeq.sorted
          if (dups.nonEmpty) throw new DuplicateHeaderException(table, dups)
          fields
        } else fields.indices.map(i => s"Column ${i + 1}")
    }
  }

  /** Table name = file name without extension (src/CSVProvider.cs:183). */
  def stem(file: Path): String = {
    val n = file.getFileName.toString
    val dot = n.lastIndexOf('.')
    if (dot > 0) n.substring(0, dot) else n
  }

  /** The column named exactly `name`. A CSV header may hold a `.` or a
    * backtick, which `functions.col` would parse as a struct path or a
    * quote, so the name is quoted whole. */
  def column(name: String): Column = col("`" + name.replace("`", "``") + "`")

  private def allStringSchema(names: Seq[String]): StructType =
    StructType(names.map(StructField(_, StringType, nullable = true)))

  /** Read one CSV file as an all-string DataFrame with reference naming.
    * An explicit schema is always supplied, so the header line (when
    * present) is skipped rather than re-inferred, and malformed-row policy
    * ([[MalformedMode]]) applies to data rows only.
    *
    * The file plans as one byte-range split per core, so its
    * parse (and everything narrow above it, up to the sink) runs on every
    * core. Spark's line reader gives a line that crosses a split boundary
    * to the split it starts in and drops the header only in the split at
    * offset 0, so the rows are the same and, split by split, in file
    * order. The relation is built directly on the caller's
    * [[onSplitSession]] and handed back as a frame of the caller's own
    * session: a file index over the one literal path, Spark's CSV file
    * format and the dialect's read options. That skips the data-source
    * lookup and the glob expansion of `spark.read.csv`, so a name such as
    * `t[20260101-1200000000000].csv` (a timestamped output of
    * [[CsvWrite.writeSingleFile]]) or `u{1}.csv` is read as written; the
    * duplicate-name check, the file-source scan and its pushed filters are
    * those of a plain `spark.read.csv`.
    *
    * Legacy encodings (UTF-16, windows-125x — R15) are transcoded to a
    * UTF-8 staging copy at the file boundary before the distributed read:
    * Spark's CSV line splitter is only reliable on UTF-8-compatible bytes,
    * and Spark 4.1's CSV reader rejects `charset=windows-1252` outright
    * (INVALID_PARAMETER_VALUE.CHARSET), so a single-byte legacy file cannot
    * be read in place. The legacy-encoding feature exists for the
    * reference's small-single-file integration mode, not the 100 TB path
    * (which is UTF-8 throughout). Constraints of that staging copy: it is a
    * DRIVER-LOCAL temp file (only visible to executors in local mode — on
    * a real cluster a legacy file would need staging to shared storage),
    * CRLF line endings are normalized to LF, and copies are CACHED per
    * (source file, mtime, encoding) — the read is lazy, so the copy cannot
    * be deleted eagerly; caching bounds the footprint at one live copy per
    * distinct source file instead of one per readTable call, and a changed
    * mtime deletes the superseded copy.
    */
  def readTable(spark: SparkSession, file: Path, dialect: CsvDialect): DataFrame = {
    val names = columnNames(file, dialect)
    checkDistinct(spark, names)
    val dataFile =
      if (dialect.encoding.equalsIgnoreCase("UTF-8")) file
      else transcodeToUtf8(file, dialect.encoding)
    val options = dialect.readOptions + ("encoding" -> "UTF-8")
    val schema = allStringSchema(names)
    val relation = onSplitSession(spark) { split =>
      val index = new InMemoryFileIndex(split, Seq(new HadoopPath(dataFile.toUri)),
        options, Some(schema), NoopCache, Some(PartitionSpec.emptySpec))
      HadoopFsRelation(index, PartitionSpec.emptySpec.partitionColumns, schema,
        None, new CSVFileFormat, options)(split)
    }
    spark.baseRelationToDataFrame(relation)
  }

  /** The duplicate-name check of a plain `spark.read`: names equal up to
    * case (unless the session is case-sensitive), empty ones included, fail
    * with COLUMN_ALREADY_EXISTS. */
  private def checkDistinct(spark: SparkSession, names: Seq[String]): Unit = {
    val key: String => String =
      if (spark.sessionState.conf.caseSensitiveAnalysis) identity else _.toLowerCase(Locale.ROOT)
    names.groupBy(key).collectFirst { case (k, ns) if ns.size > 1 => k }.foreach { k =>
      throw new AnalysisException("COLUMN_ALREADY_EXISTS",
        Map("columnName" -> ("`" + k.replace("`", "``") + "`")))
    }
  }

  /** Caller session -> its split session. Weak keys: a caller session that
    * is dropped takes its split session with it. */
  private val splitSessions =
    Collections.synchronizedMap(new java.util.WeakHashMap[SparkSession, SparkSession]())

  /** Runs `build` on the caller's split session: one child of the caller
    * (`newSession()`, made once per caller rather than per read), brought
    * to the caller's modifiable runtime confs on every call, plus its own
    * per-file open cost. Spark sizes a scan's splits from
    * its relation's own session, has no per-read option for it, and cuts a
    * file into splits of `max(openCost, (length + openCost) / n)` bytes, `n`
    * being `spark.sql.files.minPartitionNum` or else the leaf-node default
    * parallelism — never below the 4 MB default open cost. At an open cost
    * of `n - 1` bytes that is `ceil(length / n)`: exactly `n` splits (at
    * least 1 byte, since a zero split size fails the read of a one-byte
    * file). The caller's confs are never written. A relation keeps the
    * confs of the call that built it, so a conf the caller changes later (a
    * scan setting such as `ignoreCorruptFiles`) reaches it only on the next
    * read. This is the one place in the engine that writes a conf.
    */
  private def onSplitSession[T](caller: SparkSession)(build: SparkSession => T): T = {
    val split = splitSessions.computeIfAbsent(caller, _.newSession())
    split.synchronized {
      def modifiable(s: SparkSession) =
        s.conf.getAll.filter { case (k, _) => s.conf.isModifiable(k) }
      val n = Seq("spark.sql.files.minPartitionNum", "spark.sql.leafNodeDefaultParallelism")
        .flatMap(caller.conf.getOption).headOption
        .fold(caller.sparkContext.defaultParallelism)(_.toInt)
      val want = modifiable(caller) + (OpenCostKey -> math.max(1, n - 1).toString)
      val have = modifiable(split)
      have.keys.filterNot(want.contains).foreach(split.conf.unset)
      want.foreach { case (k, v) => if (!have.get(k).contains(v)) split.conf.set(k, v) }
      build(split)
    }
  }

  private val OpenCostKey = "spark.sql.files.openCostInBytes"

  /** (source absolute path, encoding) -> (source mtime millis, staged copy). */
  private val transcodeCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (Long, Path)]()

  private def transcodeToUtf8(file: Path, encoding: String): Path = {
    val key = (file.toAbsolutePath.toString, encoding.toLowerCase)
    val mtime = Files.getLastModifiedTime(file).toMillis
    transcodeCache.compute(key, (_, prev) => prev match {
      case (`mtime`, cached) if Files.exists(cached) => prev
      case _ =>
        if (prev != null) Files.deleteIfExists(prev._2) // superseded copy
        val tmp = Files.createTempFile(s"graft-utf8-${stem(file)}", ".csv")
        tmp.toFile.deleteOnExit()
        val in = new BufferedReader(new InputStreamReader(
          Files.newInputStream(file), Charset.forName(encoding)))
        val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
          Files.newOutputStream(tmp), Charset.forName("UTF-8")))
        try {
          var line = in.readLine()
          while (line != null) { out.write(line); out.write("\n"); line = in.readLine() }
        } finally { in.close(); out.close() }
        (mtime, tmp)
    })._2
  }

  /** Read a DIRECTORY of CSV part files (the output of
    * [[CsvWrite.writeDir]]) as one all-string DataFrame. This is the 100 TB
    * read path: Spark scans all parts in parallel with an explicit schema
    * (header lines, when present, are skipped per file), and `_SUCCESS` /
    * dot-files are ignored by the source. Column names are probed from the
    * first non-empty part on the driver — O(one line), like [[columnNames]].
    */
  def readDir(spark: SparkSession, dir: Path, dialect: CsvDialect): DataFrame = {
    val s = Files.list(dir)
    val probe = try s.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".") &&
            Files.size(p) > 0
        }
        .toSeq.sortBy(_.getFileName.toString).headOption
      finally s.close()
    val first = probe.getOrElse(
      throw new IllegalStateException(s"no non-empty CSV part files in $dir"))
    spark.read
      .options(dialect.readOptions)
      .schema(allStringSchema(columnNames(first, dialect)))
      .csv(dir.toString)
  }

  /** Enumerate `*.csv` directly inside `dir` (top-level only, like the
    * reference's `GetSourceFiles`, src/CSVProvider.cs:641-656).
    */
  def sourceFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.toLowerCase.endsWith(".csv"))
      .toSeq.sortBy(_.getFileName.toString)
    finally s.close()
  }

  /** Load a directory: one (tableName → DataFrame) per CSV file. Files
    * whose header cannot be parsed are dropped from the catalog with a
    * logged error, mirroring the reference's BadDataException handler
    * (src/CSVProvider.cs:307-313).
    */
  def load(spark: SparkSession, dir: String,
           dialect: CsvDialect = CsvDialect()): Map[String, DataFrame] = {
    val entries = sourceFiles(Paths.get(dir)).flatMap { f =>
      try Some(stem(f) -> readTable(spark, f, dialect))
      catch {
        case e: DuplicateHeaderException => throw e // hard error, R3
        case e: Exception =>
          log.error(s"[graft] dropping table '${stem(f)}': ${e.getMessage}")
          None
      }
    }
    ListMap(entries: _*)
  }
}
