package perfbench

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, TimestampType}

import graft.SparkEntry
import graft.operators._
import graft.sources.{CsvCatalog, CsvDialect, CsvWrite, DecimalMode}

/** JVM side of the benchmark (perfbench/run.py launches it). One JVM is
  * one cold run: it builds the session, runs the fixed warm-up, runs the
  * workload's timed passes, and writes everything it measured to
  * `<work>/<tag>/result.json` for run.py to check and summarize.
  *
  *   Harness probe <work> <cores>
  *   Harness run   <work> <cores> <workload> <seconds> <trace 0|1> <tag>
  *
  * Both workloads first run untimed warm-up passes: the first passes in a
  * JVM pay JIT and codegen warm-up, which varies from run to run by more
  * than the work measured, and most when other load on the host slows the
  * JIT compiler threads. The number of timed passes is fixed by
  * `seconds` and the workload's nominal pass time (at least three), not by
  * how fast the passes run: JIT compilation keeps speeding passes up for
  * many passes, so a pass count that followed the speed of the box would
  * move the median pass along that curve. With trace 1
  * every operation runs under its own Spark job group, so one listener
  * attributes jobs, stages and tasks to the operation and to the layer
  * call inside it; with trace 0 no listener is registered.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    // cold isolation: a disk-backed model cache would serve training from
    // an earlier JVM and hide the cost this benchmark exists to measure
    if (sys.props.contains("graft.model.cache") || sys.env.contains("GRAFT_MODEL_CACHE")) {
      System.err.println("perfbench: graft.model.cache / GRAFT_MODEL_CACHE is set; refusing a warm run")
      sys.exit(3)
    }
    val work = Paths.get(args(1)).toAbsolutePath
    val cores = args(2).toInt
    val spark = session(work, cores)
    // setup ends here: session built and the fixed warm-up action done
    println(s"SETUP_DONE ${System.currentTimeMillis()}")
    System.out.flush()
    try args(0) match {
      case "probe" => ()
      case "run" =>
        val workload = args(3)
        val seconds = args(4).toDouble
        val trace = args(5) == "1"
        val out = Files.createDirectories(work.resolve(args(6)))
        import Workloads._
        val run = workload match {
          case "csv_jobs" =>
            val r = new Run(spark, work, out, cores, trace, csvWarm)
            r.csvLoop(csv, passes(seconds, csvPassS)); r
          case "queries" =>
            val r = new Run(spark, work, out, cores, trace, suiteWarm)
            r.suiteLoop(suite, passes(seconds, suitePassS)); r
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        Files.writeString(out.resolve("result.json"), run.resultJson(workload))
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    } finally spark.stop()
  }

  def session(work: Path, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark
  }
}

/** One Job.run of a CSV pass: one source file through one mapping. */
final case class CsvJob(file: String, dialect: CsvDialect, culture: String, mapping: Mapping) {
  def name: String = mapping.destTable
}

/** A query pass: the fixed (query, corpus scale) list. */
final case class Suite(queries: Seq[(String, String)])

/** The two workloads. perfbench/oracle.py mirrors the mappings, and
  * perfbench/gen.py writes the inputs they read. */
object Workloads {
  private val ts = "yyyy-MM-dd HH:mm:ss"

  /** Nominal seconds of one timed pass at local[4] on a 4-core x86 VM; they
    * size a run to about its `seconds` there. */
  val csvPassS = 2.0
  val suitePassS = 5.0
  /** Untimed warm-up passes. A CSV pass is cheap and its JIT warm-up long,
    * so it gets more; a first query pass alone takes about 15 s. */
  val csvWarm = 4
  val suiteWarm = 2
  def passes(seconds: Double, passS: Double): Int = math.max(3, math.round(seconds / passS).toInt)

  private def typed(src: String, t: org.apache.spark.sql.types.DataType,
      mode: DecimalMode = DecimalMode.None): ColumnMapping =
    ColumnMapping(Some(src), src, castTo = Some(t), decimalMode = mode,
      timestampFormat = if (t == TimestampType) Some(ts) else None)
  private def plain(src: String): ColumnMapping = ColumnMapping(Some(src), src)

  private def ingestCols(tag: String) = Seq(
    typed("id", LongType), plain("region"), plain("customer"),
    typed("amount", DoubleType, DecimalMode.Comma), typed("qty", IntegerType),
    typed("created", TimestampType), plain("note"),
    ColumnMapping(None, "src", constant = Some(tag)))

  private val exportCols = Seq(
    typed("id", LongType), plain("name"),
    typed("price", DoubleType, DecimalMode.Comma), typed("ratio", DoubleType, DecimalMode.Comma),
    typed("ts", TimestampType), plain("flag"),
    ColumnMapping(None, "batch", constant = Some("B7")))

  /** csv_jobs: the provider's two directions, one Job.run per mapping.
    *  - ingest: two large UTF-8 files through selective conditionals (about
    *    2% and 4% of rows survive), casts and comma decimals. Parse-bound:
    *    the writer has almost nothing to do, so read-side changes show here.
    *  - export: six windows-1252 tables where every row passes, typed
    *    columns (timestamps, doubles, NULLs, a constant) written in the
    *    reference single-file format under culture da-DK. Write-bound, with
    *    per-mapping overhead and the single-partition write. */
  val csv: Seq[CsvJob] = Seq(
    CsvJob("csv/ingest/orders_a.csv", CsvDialect(), "", Mapping("orders_a", "sel_a", ingestCols("a"),
      Seq(Conditional("region", CondOp.EqualTo, "R07")))),
    CsvJob("csv/ingest/orders_b.csv", CsvDialect(), "", Mapping("orders_b", "sel_b", ingestCols("b"),
      Seq(Conditional("status", CondOp.EqualTo, "HOLD"), Conditional("qty", CondOp.GreaterThan, "10"))))
  ) ++ (0 until 6).map(i => f"t$i%02d").map(t =>
    CsvJob(s"csv/export/$t.csv", CsvDialect(encoding = "windows-1252"), "da-DK",
      Mapping(t, s"${t}_out", exportCols)))

  /** queries: model training paid at frame build (d27's k-means) next to
    * per-row URL kernels (c13, c14, d92) and perceptual-hash media pair hubs
    * (d84, d86) in execution. The media hubs run at sf0.01: their DuckDB
    * oracle (a banded self-join over hashes computed in SQL) takes over a
    * minute per query at sf0.1. */
  val suite: Suite = Suite(
    Seq("d27_kmeans", "c13_url_normalize", "c14_outlink_harvest", "d92_url_dedup").map(_ -> "sf0.1") ++
      Seq("d84_png_dedup", "d86_cross_format_dedup").map(_ -> "sf0.01"))
}

/** One operation's outcome, as run.py reads it back. */
final case class OpRecord(name: String, pass: Int, timed: Boolean, traced: Boolean, wallS: Double,
    layersS: Double, ok: Boolean, error: String, rowsIn: Long, rowsOut: Long, output: String)

final class Run(spark: SparkSession, work: Path, out: Path, cores: Int, traceOn: Boolean, warmPasses: Int) {
  private val ops = mutable.ArrayBuffer.empty[OpRecord]
  private val passWall = mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
  /** Passes before `warmPasses` are warm-up: run and checked, never timed. */
  private var pass = 0
  private def timed: Boolean = pass >= warmPasses
  private def more(timedPasses: Int): Boolean = pass < warmPasses + timedPasses
  private val recorder = new Recorder
  private val trace = new Trace
  if (traceOn) spark.sparkContext.addSparkListener(recorder)

  private def group(op: String, layer: String): String = s"$op|$layer"
  /** Raw layer-call seconds of the current operation. */
  private var opLayerS = 0.0

  /** Time `body` as one layer call of `op`; when tracing it runs under its
    * own job group and becomes a span. */
  private def layer[T](opSpan: Int, op: String, name: String)(body: => T): (T, Double) = {
    if (traceOn) spark.sparkContext.setJobGroup(group(op, name), name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try {
      val v = body
      val s = (System.nanoTime() - t0) / 1e9
      opLayerS += s
      if (traceOn) trace.span(opSpan, name, "layer", t0, System.nanoTime(), Map("group" -> group(op, name)))
      (v, s)
    } finally if (traceOn) spark.sparkContext.clearJobGroup()
  }

  private val noop = (df: DataFrame) => df.write.format("noop").mode("overwrite").save()

  // ---------------------------------------------------------------- CSV

  /** Source mtimes move forward every pass, so CsvCatalog's transcode cache
    * (keyed by mtime) never serves a timed operation. */
  private def freshMtimes(files: Seq[Path], pass: Int): Unit =
    files.foreach(f => Files.setLastModifiedTime(f,
      FileTime.fromMillis(1700000000000L + (pass + 1) * 60000L)))

  /** The warm-up passes, then `timedPasses` timed passes. */
  def csvLoop(jobs: Seq[CsvJob], timedPasses: Int): Unit = {
    val rowCount = readRowCounts()
    while (more(timedPasses)) {
      freshMtimes(jobs.map(j => work.resolve(j.file)), pass)
      val passSpan = trace.open(0, s"pass$pass", "pass")
      var wall = 0.0
      jobs.foreach { j =>
        val dest = out.resolve(s"csv-out/p$pass/${j.name}")
        val src = work.resolve(j.file)
        val cfg = JobConfig(dest, sourceFile = Some(src), sourceDialect = j.dialect, culture = j.culture)
        val op = s"p$pass/${j.name}"
        val opSpan = trace.open(passSpan, op, "op")
        opLayerS = 0.0
        val t0 = System.nanoTime()
        val (ok, err, rowsOut) =
          try {
            val res =
              if (traceOn) tracedJob(opSpan, op, cfg, Seq(j.mapping))
              else Job.run(spark, cfg, Seq(j.mapping), sleep = noSleep)
            val bad = res.results.filterNot(_.ok).flatMap(_.error)
            (res.ok, bad.mkString("; "), res.results.map(_.rowsWritten).sum)
          } catch { case NonFatal(e) => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}", 0L) }
        val s = (System.nanoTime() - t0) / 1e9
        trace.close(opSpan)
        wall += s
        ops += OpRecord(j.name, pass, timed, traceOn, s, opLayerS, ok, err,
          rowCount(src.getFileName.toString), rowsOut, dest.toString)
      }
      trace.close(passSpan)
      if (timed) passWall += ((pass, traceOn, wall))
      pass += 1
    }
  }

  /** Row counts the generator wrote next to the inputs (file name -> rows). */
  private def readRowCounts(): Map[String, Long] =
    Files.readAllLines(work.resolve("csv/rows.tsv")).asScala.map { l =>
      val Array(f, n) = l.split("\t"); f -> n.toLong
    }.toMap

  /** The stability gate stays on and still re-stats every file; only its
    * fixed wall-clock wait goes through Job.run's `sleep` seam. */
  private val noSleep: Long => Unit = _ => ()

  /** Job.run taken apart into its layer calls, each through the module's
    * public functions: gate, header, transcode, scan, compile, format and
    * write. Self time of a layer is its call minus the materialization of
    * the layer below it, so each materializing call runs the same plan
    * prefix once more; that extra work is the tracing overhead. */
  private def tracedJob(opSpan: Int, op: String, cfg: JobConfig, mappings: Seq[Mapping]): JobResult = {
    val (files, _) = layer(opSpan, op, "gate") {
      Job.validateSourceSettings(cfg).foreach(m => throw new IllegalArgumentException(m))
      Job.validateDestinationSettings(cfg).foreach(m => throw new IllegalArgumentException(m))
      val fs = cfg.sourceFile.toSeq
      if (cfg.sourceStabilityCheck) Job.checkSourceFilesChanging(fs, cfg.stabilitySleepMs, noSleep)
      fs
    }
    val referenced = mappings.map(_.sourceTable).toSet
    val used = files.filter(f => referenced(CsvCatalog.stem(f)))
    val (_, headerS) = layer(opSpan, op, "header") {
      used.foreach(CsvCatalog.columnNames(_, cfg.sourceDialect))
    }
    val legacy = !cfg.sourceDialect.encoding.equalsIgnoreCase("UTF-8")
    // for UTF-8 sources readTable's only eager work is the header read
    val (frames, readS) = layer(opSpan, op, if (legacy) "transcode" else "header") {
      used.map(f => CsvCatalog.stem(f) -> CsvCatalog.readTable(spark, f, cfg.sourceDialect)).toMap
    }
    val scanS = frames.map { case (t, df) => t -> layer(opSpan, op, s"scan:$t") { noop(df) }._2 }
    val results = mappings.map { m =>
      val mop = s"$op/${m.destTable}"
      val (compiled, compileS) = layer(opSpan, op, s"compile:${m.destTable}") {
        val c = m.compile(frames(m.sourceTable)); noop(c); c
      }
      val (_, formatS) = layer(opSpan, op, s"format:${m.destTable}") {
        noop(CsvWrite.formatForWrite(compiled, cfg.culture))
      }
      val obs = Observation(s"perfbench.$mop")
      val (_, writeS) = layer(opSpan, op, s"write:${m.destTable}") {
        CsvWrite.writeSingleFile(compiled.observe(obs, count(lit(1)).as("rows")),
          cfg.destFolder.toString, m.destTable, cfg.destDialect, None, cfg.culture)
      }
      val rows = obs.get("rows").asInstanceOf[Long]
      selfTime(("operators.mapping_s", compileS - scanS(m.sourceTable)))
      selfTime(("sources.format_s", formatS - compileS))
      selfTime(("sources.write_s", writeS - formatS))
      MappingResult(m.sourceTable, m.destTable, ok = true, rows, None)
    }
    selfTime(("sources.header_s", if (legacy) headerS else headerS + readS))
    if (legacy) selfTime(("sources.transcode_s", readS))
    selfTime(("sources.scan_s", scanS.values.sum))
    JobResult(ok = true, results)
  }

  // ---------------------------------------------------------------- suites

  /** Each pass runs the suite's fixed query list over its own permuted
    * copy of the corpus (`<work>/corpus/pNNN/<scale>`), building, planning
    * and fully materializing every query. A fresh directory misses every
    * path-keyed memo (trained models, parquet schemas), so every pass pays
    * its own training and schema inference. The warm-up passes, then
    * `timedPasses` timed passes. */
  def suiteLoop(s: Suite, timedPasses: Int): Unit = {
    val oracle = s.queries.map(_._1).flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    Files.writeString(work.resolve("oracle_sql.json"), Json.render(oracle))
    val copies = { val l = Files.list(work.resolve("corpus")); try l.count() finally l.close() }
    require(copies >= warmPasses + timedPasses, s"$copies corpus copies for ${warmPasses + timedPasses} passes")
    while (more(timedPasses)) {
      val passSpan = trace.open(0, s"pass$pass", "pass")
      var wall = 0.0
      s.queries.foreach { case (q, scale) =>
        val op = s"p$pass/$q"
        val opSpan = trace.open(passSpan, op, "op")
        opLayerS = 0.0
        val t0 = System.nanoTime()
        var built: Option[DataFrame] = None
        val (ok, err, rows) =
          try {
            val dir = work.resolve(f"corpus/p$pass%03d/$scale").toString
            val (df, buildS) = layer(opSpan, op, "build") { SparkEntry.queries(q)(spark, dir) }
            built = Some(df)
            val (_, planS) = layer(opSpan, op, "plan") { df.queryExecution.executedPlan }
            // The timed action collects every row and column. count() would
            // let Catalyst prune projected columns, and the per-row kernels
            // computing them, out of the plan. Results here are small.
            val (collected, execS) = layer(opSpan, op, "exec") { df.collect() }
            if (traceOn) {
              selfTime(("queries.build_s", buildS))
              selfTime(("spark.plan_s", planS))
              selfTime(("spark.exec_s", execS))
            }
            (true, "", collected)
          } catch {
            case NonFatal(e) =>
              (false, s"${e.getClass.getSimpleName}: ${e.getMessage}", Array.empty[org.apache.spark.sql.Row])
          }
        val sec = (System.nanoTime() - t0) / 1e9
        trace.close(opSpan)
        wall += sec
        // outside the timed region: rows as JSON lines for the oracle check
        val rowsFile = out.resolve(s"rows/p$pass/$scale/$q.jsonl")
        Files.createDirectories(rowsFile.getParent)
        Files.write(rowsFile, rows.map(_.json).toSeq.asJava)
        ops += OpRecord(q, pass, timed, traceOn, sec, opLayerS, ok, err, built.map(inputRows).getOrElse(0L),
          rows.length, rowsFile.toString)
      }
      trace.close(passSpan)
      if (timed) passWall += ((pass, traceOn, wall))
      pass += 1
    }
  }

  /** Source rows an operation reads: row counts of the corpus tables it
    * scans (`<scale>/<table>`), from the manifest gen.py wrote. */
  private lazy val tableRows: Map[String, Long] =
    Files.readAllLines(work.resolve("corpus_rows.tsv")).asScala.map { l =>
      val Array(t, n) = l.split("\t"); t -> n.toLong
    }.toMap
  private def inputRows(df: DataFrame): Long =
    df.inputFiles.toSeq.map { f =>
      val p = Paths.get(new java.net.URI(f))
      s"${p.getParent.getFileName}/${p.getFileName.toString.stripSuffix(".parquet")}"
    }
      .distinct.map(t => tableRows.getOrElse(t, 0L)).sum

  // ---------------------------------------------------------------- output

  /** (metric, seconds) self-time samples of the traced layer calls. */
  private val layerSelf = mutable.ArrayBuffer.empty[(String, Double)]
  private def selfTime(sample: (String, Double)): Unit = if (timed) layerSelf += sample

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def resultJson(workload: String): String = {
    val rss = peakRssMb()
    if (traceOn) recorder.drain(spark)
    val opsJson = ops.map { o =>
      Json.obj("name" -> o.name, "pass" -> o.pass, "timed" -> o.timed, "traced" -> o.traced, "wall_s" -> o.wallS,
        "layers_s" -> o.layersS, "ok" -> o.ok, "error" -> o.error, "rows_in" -> o.rowsIn, "rows_out" -> o.rowsOut,
        "output" -> o.output,
        "spark" -> (if (o.traced) recorder.opMetrics(s"p${o.pass}/${o.name}") else Map.empty[String, Any]))
    }
    val passes = passWall.map { case (p, t, w) => Json.obj("pass" -> p, "traced" -> t, "wall_s" -> w) }
    val layers = layerSelf.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    if (traceOn) {
      trace.addSpark(recorder)
      Files.writeString(out.resolve("trace.json"), trace.json)
    }
    Json.render(Map("workload" -> workload, "cores" -> cores, "peak_rss_mb" -> rss,
      "ops" -> opsJson.toSeq, "passes" -> passes.toSeq,
      "layer_self" -> layers))
  }
}

/** In-memory span tree (run → pass → operation → layer call → Spark job →
  * stage), written out when the run ends. Spans timed here use the monotonic
  * clock mapped onto epoch millis so they line up with listener events. */
final class Trace {
  private final case class Span(id: Int, parent: Int, name: String, kind: String,
      startMs: Double, var endMs: Double, attrs: Map[String, Any])
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def ms(nanos: Long): Double = epoch0 + (nanos - nano0) / 1e6
  spans += Span(0, -1, "run", "run", ms(nano0), 0, Map.empty)

  def open(parent: Int, name: String, kind: String): Int = synchronized {
    val id = spans.size
    spans += Span(id, parent, name, kind, ms(System.nanoTime()), 0, Map.empty)
    id
  }
  def close(id: Int): Unit = synchronized { spans(id).endMs = ms(System.nanoTime()) }
  def span(parent: Int, name: String, kind: String, t0: Long, t1: Long, attrs: Map[String, Any]): Unit =
    synchronized { spans += Span(spans.size, parent, name, kind, ms(t0), ms(t1), attrs) }

  /** Hang each Spark job under the layer span of its job group, and each
    * stage under its job. */
  def addSpark(r: Recorder): Unit = synchronized {
    spans(0).endMs = ms(System.nanoTime())
    val byGroup = spans.filter(_.kind == "layer").map(s => s.attrs("group").toString -> s.id).toMap
    r.jobsSnapshot.foreach { j =>
      byGroup.get(j.group).foreach { parent =>
        val jid = spans.size
        spans += Span(jid, parent, s"job${j.id}", "job", j.start.toDouble, j.end.toDouble, Map.empty)
        r.stagesOf(j).foreach { st =>
          spans += Span(spans.size, jid, s"stage${st.id}.${st.attempt}", "stage",
            st.submit.toDouble, st.complete.toDouble,
            Map("tasks" -> st.numTasks, "cpu_s" -> st.cpuNs / 1e9, "run_s" -> st.runMs / 1e3))
        }
      }
    }
  }

  def json: String = synchronized {
    Json.render(spans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "kind" -> s.kind, "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ s.attrs).toSeq)
  }
}

/** The one SparkListener of a traced run: jobs by job group, stage task
  * metrics, and per-task durations for the straggler measure. All callbacks
  * run on the listener bus thread; readers take the same lock. */
final class Recorder extends SparkListener {
  final case class JobRec(id: Int, group: String, start: Long, var end: Long, stages: Seq[Int])
  final case class StageRec(id: Int, attempt: Int, numTasks: Int, submit: Long, complete: Long,
      cpuNs: Long, runMs: Long, gcMs: Long, shuffleRead: Long, shuffleWrite: Long,
      spill: Long, input: Long, result: Long, failedTasks: Int, durations: Seq[Long])

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val taskDur = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val taskFailed = mutable.HashMap.empty[(Int, Int), Int].withDefaultValue(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, g, e.time, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val k = (e.stageId, e.stageAttemptId)
    taskDur.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    if (!e.taskInfo.successful) taskFailed(k) += 1
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics // the stage's tasks' metrics, summed
    val k = (i.stageId, i.attemptNumber())
    stages += StageRec(i.stageId, i.attemptNumber(), i.numTasks,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead, m.resultSize,
      taskFailed(k), taskDur.getOrElse(k, mutable.ArrayBuffer.empty).toSeq)
  }

  /** Wait until the listener bus has delivered every event posted so far.
    * LiveListenerBus.waitUntilEmpty is Spark-internal (private[spark]), so
    * it is reached by reflection. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def jobsSnapshot: Seq[JobRec] = synchronized(jobs.values.toSeq)
  /** Completed stages of a job; a stage shared by several jobs belongs to
    * the first. */
  def stagesOf(j: JobRec): Seq[StageRec] = synchronized {
    val own = j.stages.filter(s => jobs.values.find(_.stages.contains(s)).map(_.id).contains(j.id)).toSet
    stages.filter(s => own(s.id)).toSeq
  }

  /** Spark metrics of one operation: every job whose group starts with
    * `op|`, split by layer call where the layer matters. */
  def opMetrics(op: String): Map[String, Any] = synchronized {
    val js = jobs.values.filter(_.group.startsWith(op + "|")).toSeq
    val st = js.flatMap(stagesOf)
    def median(xs: Seq[Long]): Double =
      if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
        if (n % 2 == 1) s(n / 2).toDouble else (s(n / 2 - 1) + s(n / 2)) / 2.0 }
    // union of job intervals: the time at least one Spark job was running
    val busyMs = js.map(j => (j.start, j.end)).sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((acc, hi), (s, e)) =>
        if (e <= hi) (acc, hi) else (acc + e - math.max(s, hi), e)
    }._1
    val writeStages = js.filter(_.group.contains("|write:")).map(stagesOf).filter(_.nonEmpty)
    Map(
      "jobs" -> js.size, "stages" -> st.size, "tasks" -> st.map(_.durations.size).sum,
      "failed_tasks" -> st.map(_.failedTasks).sum,
      "build_jobs" -> js.count(_.group.endsWith("|build")),
      "task_cpu_s" -> st.map(_.cpuNs).sum / 1e9, "task_run_s" -> st.map(_.runMs).sum / 1e3,
      "gc_s" -> st.map(_.gcMs).sum / 1e3,
      "shuffle_read_bytes" -> st.map(_.shuffleRead).sum, "shuffle_write_bytes" -> st.map(_.shuffleWrite).sum,
      "spill_bytes" -> st.map(_.spill).sum, "input_bytes" -> st.map(_.input).sum,
      "result_bytes" -> st.map(_.result).sum,
      "straggler_s" -> st.map(s => if (s.durations.isEmpty) 0.0 else s.durations.max - median(s.durations)).sum / 1e3,
      "busy_s" -> busyMs / 1e3,
      // tasks in the last stage of a single-file write (the coalesce(1) stage)
      "write_tasks" -> writeStages.map(_.maxBy(_.complete).numTasks).maxOption.getOrElse(0))
  }
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def obj(kv: (String, Any)*): Map[String, Any] = kv.toMap
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
