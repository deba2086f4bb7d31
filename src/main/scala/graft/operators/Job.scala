package graft.operators

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import scala.util.control.NonFatal

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.sources.{CsvCatalog, CsvDialect, CsvWrite}

/** One column of a schema override: the edited name and an optional
  * destination type applied as a cast at read time. The reference's schema
  * is editable and round-trips through its XML config
  * (src/CSVProvider.cs:150-153, :331, :389-391); this is the engine's
  * equivalent of that edited-schema block.
  */
final case class ColumnOverride(name: String, castTo: Option[org.apache.spark.sql.types.DataType] = None)

/** Edited schema for one source table: columns are POSITIONAL — override i
  * renames (and optionally types) the i-th inferred column, exactly like
  * editing the reference's inferred schema in place.
  */
final case class TableSchemaOverride(table: String, columns: Seq[ColumnOverride])

/** Job configuration — the reference provider's settings surface
  * (reference src/CSVProvider.cs:24-153): a source file XOR folder, a
  * destination folder, one dialect per side, the operational knobs
  * (delete-after-run, stability gate, timestamped file names), and the
  * edited-schema overrides (R19's schema block).
  *
  * File suffix: `timestampSuffix` pins an explicit suffix;
  * `autoTimestampSuffix` generates the reference's
  * `yyyyMMdd-HHmmssFFFFFFF` wall-clock suffix per run
  * ([[CsvWrite.autoSuffix]], src/CSVDestinationWriter.cs:23-28). An
  * explicit suffix wins when both are set.
  */
final case class JobConfig(
    destFolder: Path,
    sourceFile: Option[Path] = None,
    sourceFolder: Option[Path] = None,
    sourceDialect: CsvDialect = CsvDialect(),
    destDialect: CsvDialect = CsvDialect(),
    deleteSourceFiles: Boolean = false,
    sourceStabilityCheck: Boolean = true,
    stabilitySleepMs: Long = 5000,
    timestampSuffix: Option[String] = None,
    autoTimestampSuffix: Boolean = false,
    singleFileOutput: Boolean = true,
    schemaOverrides: Seq[TableSchemaOverride] = Seq.empty,
    /** Job culture for destination numeric formatting (reference
      * `job.Culture` → `GetCultureInfo`, src/CSVProvider.cs:549, 618-629).
      * Empty = invariant; a BCP-47 tag like "da-DK" writes comma decimals
      * ([[CsvWrite.cultureDecimalSeparator]]).
      */
    culture: String = "",
    /** Max mappings submitted concurrently (round-3 verdict #8). 1 (the
      * default) reproduces the reference's serial mapping order
      * (src/CSVProvider.cs:563); >1 overlaps independent mappings as
      * concurrent Spark actions on one session — useful on a cluster where
      * a single mapping's plan can't saturate the executors. Mappings must
      * then write DISTINCT destination tables (same-dest mappings would
      * race on the output file). Fail-fast is preserved: after a mapping
      * fails, no new mapping starts; in-flight ones finish and report.
      */
    maxParallelMappings: Int = 1,
)

final case class MappingResult(
    sourceTable: String,
    destTable: String,
    ok: Boolean,
    rowsWritten: Long,
    error: Option[String])

final case class JobResult(ok: Boolean, results: Seq[MappingResult]) {
  def errors: Seq[String] = results.flatMap(_.error)
}

/** Multi-mapping job orchestration (R10) with the reference's operational
  * behaviors: settings validation (R18, src/CSVProvider.cs:234-279),
  * source-file stability gate (R16, :673-700), one write action per active
  * mapping with ≥1 active column mapping (:551-577), per-mapping error
  * capture with mapping context (:580-592), and post-run source deletion
  * on success (R17, :355-361, :658-671).
  *
  * Each mapping compiles to one declarative Spark plan
  * (scan → filter → project → sink) and runs as one Spark job — the
  * reference's single-threaded pull loop (src/CSVProvider.cs:563-577)
  * becomes one task per source split: [[CsvCatalog.readTable]] cuts a
  * single source file into one split per core, and the
  * single-file sink ([[CsvWrite.writeSingleFileCounted]]) frames, encodes
  * and counts each split's rows in its own task and joins the parts in
  * file order, so parse, filter, casts, formatting and encoding run on
  * every core, and the tasks' counts are the mapping's `rowsWritten`.
  */
object Job {

  /** R18 source-side pre-flight — returns an error message, or None. */
  def validateSourceSettings(cfg: JobConfig): Option[String] =
    (cfg.sourceFile, cfg.sourceFolder) match {
      case (None, None) => Some("No source file or folder selected")
      case (Some(_), Some(_)) =>
        Some("Select either a source file or a source folder, not both")
      case (Some(f), None) =>
        if (!f.getFileName.toString.toLowerCase.endsWith(".csv"))
          Some(s"Source file '$f' is not a .csv file")
        else if (!Files.isRegularFile(f)) Some(s"Source file '$f' does not exist")
        else None
      case (None, Some(d)) =>
        if (!Files.isDirectory(d)) Some(s"Source folder '$d' does not exist")
        else if (CsvCatalog.sourceFiles(d).isEmpty)
          Some(s"Source folder '$d' contains no .csv files")
        else None
    }

  /** R18 destination-side pre-flight. */
  def validateDestinationSettings(cfg: JobConfig): Option[String] =
    if (cfg.destFolder == null) Some("No destination folder selected")
    else if (Files.exists(cfg.destFolder) && !Files.isDirectory(cfg.destFolder))
      Some(s"Destination '${cfg.destFolder}' is not a folder")
    else None

  /** R16 stability gate: snapshot sizes, wait, re-stat; throw if any file
    * is still growing. `sleep` and `sizeOf` are injectable seams (the
    * reference builds the same seams for its unit tests,
    * src/CSVProvider.cs:456-461).
    */
  def checkSourceFilesChanging(
      files: Seq[Path],
      sleepMs: Long,
      sleep: Long => Unit = Thread.sleep,
      sizeOf: Path => Long = Files.size(_)): Unit = {
    val before = files.map(f => f -> sizeOf(f)).toMap
    sleep(sleepMs)
    val changed = files.filter(f => sizeOf(f) != before(f))
    if (changed.nonEmpty)
      throw new IllegalStateException(
        s"Source files are still being updated: ${changed.mkString(", ")}")
  }

  private def sourceFiles(cfg: JobConfig): Seq[Path] =
    cfg.sourceFile.map(Seq(_))
      .getOrElse(CsvCatalog.sourceFiles(cfg.sourceFolder.get))

  /** R22 — the reference's raw-write framework hook
    * (`WriteToSourceFile(string InputXML)`,
    * reference src/CSVProvider.cs:702-717): write caller-supplied text
    * VERBATIM into the configured source file. The reference re-maps
    * its working directory (`SystemInformation.MapPath("/Files/")`)
    * and combines it with the configured `SourceFile` name;
    * `workingDir` is that seam — when given, the configured source
    * file's NAME is resolved under it, otherwise the configured path
    * is written as-is. No source file configured → no-op returning
    * None (the reference's null/empty guard — note the hook keys on
    * the FILE setting only; a folder-sourced job has no single file
    * to overwrite). The primary NIO write falls back to a plain
    * stream writer that first creates missing parent directories —
    * the reference's `File.WriteAllText` →
    * `TextFileHelper.WriteTextFile` fallback ladder (:709-715).
    * Returns the path written.
    *
    * Driver-side by design, like the validations: this is the
    * framework's UI/test seam for priming a job's input, not a data
    * path — the distributed read happens when the job RUNS.
    */
  def writeToSourceFile(cfg: JobConfig, content: String,
      workingDir: Option[Path] = None): Option[Path] =
    cfg.sourceFile.map { f =>
      val target = workingDir.fold(f)(_.resolve(f.getFileName))
      try Files.writeString(target, content)
      catch {
        case NonFatal(primary) =>
          // fallback writer: create the missing parents the primary
          // write tripped on, then stream the text out; if the fallback
          // ALSO fails (permission denied, target is a directory — the
          // cases the parent-creation retry cannot cure), the primary
          // failure rides along as a suppressed exception so the caller
          // sees the root cause, not only the second error
          try {
            Option(target.getParent).foreach(Files.createDirectories(_))
            val w = new java.io.OutputStreamWriter(
              Files.newOutputStream(target),
              java.nio.charset.StandardCharsets.UTF_8)
            try w.write(content) finally w.close()
          } catch {
            case NonFatal(fallback) =>
              if (fallback ne primary) fallback.addSuppressed(primary)
              throw fallback
          }
      }
      target
    }

  /** Apply an edited schema (R19): positional rename of the inferred
    * columns, then optional per-column casts. A count mismatch is a config
    * error (the reference's edited schema likewise maps the inferred
    * columns one-to-one).
    */
  private def applyOverride(df: org.apache.spark.sql.DataFrame,
      o: TableSchemaOverride): org.apache.spark.sql.DataFrame = {
    require(o.columns.length == df.columns.length,
      s"schema override for '${o.table}' has ${o.columns.length} columns, " +
        s"file has ${df.columns.length}")
    val renamed = df.toDF(o.columns.map(_.name): _*)
    o.columns.foldLeft(renamed) { (acc, c) =>
      c.castTo.fold(acc)(t =>
        acc.withColumn(c.name, CsvCatalog.column(c.name).cast(t)))
    }
  }

  /** Run every active mapping with ≥1 active column mapping; stop at the
    * first failing mapping (the reference aborts the run and reports the
    * failing row's context — we report the mapping and root cause). On a
    * fully successful run, optionally delete the source files (R17,
    * per-file best effort).
    */
  def run(spark: SparkSession, cfg: JobConfig, mappings: Seq[Mapping],
          sleep: Long => Unit = Thread.sleep): JobResult = {
    validateSourceSettings(cfg).foreach(m => throw new IllegalArgumentException(m))
    validateDestinationSettings(cfg).foreach(m => throw new IllegalArgumentException(m))
    val files = sourceFiles(cfg)
    if (cfg.sourceStabilityCheck)
      checkSourceFilesChanging(files, cfg.stabilitySleepMs, sleep)

    val runnable = mappings.filter(m => m.active && m.columns.exists(_.active))

    // only tables a RUNNABLE mapping references are read (r18 review):
    // the previous whole-folder eager load paid header I/O and (for
    // non-UTF-8 dialects) full transcoding for every inactive table on
    // every run, and an unreadable file NO mapping references aborted
    // the job before any mapping executed; a bad file a mapping DOES
    // reference still fails that mapping's run, as it must
    val overrides = cfg.schemaOverrides.map(o => o.table -> o).toMap
    val referenced = runnable.map(_.sourceTable).toSet
    val catalog: Map[String, org.apache.spark.sql.DataFrame] =
      files.flatMap { f =>
        val table = CsvCatalog.stem(f)
        if (!referenced.contains(table)) None
        else {
          val raw = CsvCatalog.readTable(spark, f, cfg.sourceDialect)
          Some(table -> overrides.get(table).fold(raw)(applyOverride(raw, _)))
        }
      }.toMap
    val parallelism = math.max(1, cfg.maxParallelMappings)
    if (parallelism > 1) {
      val dests = runnable.map(_.destTable)
      require(dests.distinct.size == dests.size,
        s"maxParallelMappings=$parallelism requires distinct destination " +
          s"tables, got ${dests.mkString(", ")}")
    }

    def runOne(m: Mapping): MappingResult =
      try {
        val source = catalog.getOrElse(m.sourceTable,
          throw new IllegalArgumentException(
            s"source table '${m.sourceTable}' not found in ${files.map(_.getFileName)}"))
        // ONE distributed action per mapping: rowsWritten is counted DURING
        // the write (by the single-file write tasks, or as an observed
        // metric of the directory write), not by a separate count() that
        // would re-execute the whole scan/filter/project (and could diverge
        // from the written rows if the source changed between actions).
        val out = m.compile(source)
        val rows =
          if (cfg.singleFileOutput) {
            val suffix = cfg.timestampSuffix
              .orElse(if (cfg.autoTimestampSuffix) Some(CsvWrite.autoSuffix()) else None)
            CsvWrite.writeSingleFileCounted(out, cfg.destFolder.toString, m.destTable,
              cfg.destDialect, suffix, cfg.culture)._2
          } else {
            val obs = Observation(s"graft.job.${m.sourceTable}->${m.destTable}")
            CsvWrite.writeDir(out.observe(obs, count(lit(1)).as("rows")),
              cfg.destFolder.resolve(m.destTable).toString, cfg.destDialect, cfg.culture)
            obs.get("rows").asInstanceOf[Long]
          }
        MappingResult(m.sourceTable, m.destTable, ok = true, rows, None)
      } catch {
        // NonFatal: an OOM or linkage error must propagate, not be folded
        // into a per-mapping "failed" row.
        case NonFatal(e) =>
          MappingResult(m.sourceTable, m.destTable, ok = false, -1L,
            Some(s"mapping ${m.sourceTable}->${m.destTable} failed: ${e.getMessage}"))
      }

    // Fail-fast in both modes: once a mapping fails, no NEW mapping starts
    // (the reference aborts its run loop, src/CSVProvider.cs:580-592);
    // mappings never started produce no result row, exactly like the
    // serial remainder. Spark actions are thread-safe on one session, so
    // the parallel mode is a bounded pool over the same per-mapping body.
    val results: Seq[MappingResult] =
      if (parallelism == 1) {
        var failed = false
        runnable.flatMap { m =>
          if (failed) None
          else {
            val r = runOne(m)
            failed = !r.ok
            Some(r)
          }
        }
      } else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
        val anyFailed = new java.util.concurrent.atomic.AtomicBoolean(false)
        var primary: Throwable = null
        try {
          val futures = runnable.map { m =>
            pool.submit(new java.util.concurrent.Callable[Option[MappingResult]] {
              override def call(): Option[MappingResult] =
                if (anyFailed.get) None
                else {
                  val r = runOne(m)
                  if (!r.ok) anyFailed.set(true)
                  Some(r)
                }
            })
          }
          try futures.flatMap(_.get())
          catch {
            case e: java.util.concurrent.ExecutionException => throw e.getCause
          }
        } catch {
          case t: Throwable => primary = t; throw t
        } finally {
          // shutdownNow + bounded await (r18 review): a fatal rethrow
          // from get() previously left in-flight mapping writes RUNNING
          // after run() returned, racing whatever recovery the caller
          // attempts (re-run, source delete); on the success path every
          // task is already done and this is a no-op. The await RESULT
          // is checked (r19 ADVICE): a pool that fails to quiesce in
          // 60s means an in-flight write may still race the caller's
          // recovery — surfaced as a suppressed exception on the
          // primary failure, or thrown outright on the success path.
          pool.shutdownNow()
          // an interrupt while waiting must not REPLACE the primary
          // mapping failure (r19 review): restore the flag, suppress the
          // interrupt onto the primary (quiescence is then unknown —
          // skip the check rather than mask the real error), and only
          // propagate the interrupt itself when there is no primary
          val quiesced =
            try pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
            catch {
              case ie: InterruptedException =>
                Thread.currentThread().interrupt()
                if (primary == null) throw ie
                primary.addSuppressed(ie)
                true
            }
          if (!quiesced) {
            val stillRunning = new IllegalStateException(
              "mapping pool failed to quiesce within 60s of shutdownNow — " +
                "an in-flight destination write may still be running")
            if (primary != null) primary.addSuppressed(stillRunning)
            else throw stillRunning
          }
        }
      }
    val ok = results.size == runnable.size && results.forall(_.ok)
    if (ok && cfg.deleteSourceFiles)
      files.foreach { f =>
        try Files.deleteIfExists(f)
        catch { case e: Exception =>
          org.slf4j.LoggerFactory.getLogger(getClass)
            .error(s"[graft] could not delete source file $f: ${e.getMessage}")
        }
      }
    JobResult(ok, results.toSeq)
  }
}
