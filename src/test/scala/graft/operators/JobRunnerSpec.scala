package graft.operators

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types.LongType

import graft.TestSpark
import graft.TestSpark.{csvFile, tempDir}
import graft.sources.CsvDialect

/** Job orchestration (R10) + operational behaviors: stability gate (R16),
  * post-run source deletion (R17), settings validation (R18) — reference
  * src/CSVProvider.cs:543-601, 673-700, 658-671, 234-279.
  */
class JobRunnerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val noSleep: Long => Unit = _ => ()

  private def srcDir(): Path = {
    val dir = tempDir("jobsrc")
    csvFile(dir, "customers.csv", "id;name\n1;ann\n2;bo\n3;cy\n")
    csvFile(dir, "orders.csv", "oid;cust;amt\n10;1;5,5\n11;3;7,25\n")
    dir
  }

  private def cfg(src: Path, dest: Path) = JobConfig(
    destFolder = dest, sourceFolder = Some(src),
    stabilitySleepMs = 1)

  private val mappings = Seq(
    Mapping("customers", "customers_out", Seq(
      ColumnMapping(Some("id"), "key", castTo = Some(LongType)),
      ColumnMapping(Some("name"), "name"),
    )),
    Mapping("orders", "orders_out", Seq(
      ColumnMapping(Some("oid"), "oid", castTo = Some(LongType)),
      ColumnMapping(Some("amt"), "amount",
        castTo = Some(org.apache.spark.sql.types.DoubleType),
        decimalMode = graft.sources.DecimalMode.Comma),
    )),
  )

  test("a two-mapping job writes one destination file per mapping (R10)") {
    val src = srcDir(); val dest = tempDir("jobdst")
    val res = Job.run(spark, cfg(src, dest), mappings, sleep = noSleep)
    assert(res.ok)
    assert(res.results.map(r => (r.destTable, r.ok, r.rowsWritten)) ==
      Seq(("customers_out", true, 3L), ("orders_out", true, 2L)))
    assert(Files.exists(dest.resolve("customers_out.csv")))
    val orders = Files.readAllLines(dest.resolve("orders_out.csv"))
    assert(orders.get(0) == "\"oid\";\"amount\"")
    assert(orders.get(1) == "\"10\";\"5.5\"")
  }

  test("partitioned-output mode writes one directory per mapping (scale path)") {
    val src = srcDir(); val dest = tempDir("jobdst")
    val res = Job.run(spark,
      cfg(src, dest).copy(singleFileOutput = false), mappings, sleep = noSleep)
    assert(res.ok)
    assert(Files.isDirectory(dest.resolve("customers_out")))
    val back = graft.sources.CsvCatalog.readDir(spark,
      dest.resolve("customers_out"), CsvDialect())
    assert(back.count() == 3)
  }

  test("Job.run executes ONE distributed action per mapping (rowsWritten is observed, not recounted)") {
    val src = srcDir(); val dest = tempDir("jobdst")
    val funcNames =
      java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = funcNames.add(funcName)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val res = Job.run(spark, cfg(src, dest), mappings, sleep = noSleep)
      assert(res.ok)
      assert(res.results.map(_.rowsWritten) == Seq(3L, 2L))
      // the listener bus is async: wait until the count stabilizes at >= 2
      val deadline = System.currentTimeMillis() + 10000
      var prev = -1
      while (System.currentTimeMillis() < deadline &&
             (funcNames.size != prev || funcNames.size < 2)) {
        prev = funcNames.size
        Thread.sleep(200)
      }
      val names = scala.jdk.CollectionConverters.ListHasAsScala(funcNames).asScala.toList
      assert(names.size == 2, s"expected one action per mapping, saw: $names")
      assert(!names.contains("count"), s"a separate count() action ran: $names")
    } finally spark.listenerManager.unregister(listener)
  }

  test("autoTimestampSuffix names destination files <table>[yyyyMMdd-HHmmssFFFFFFF].csv (R15)") {
    val src = srcDir(); val dest = tempDir("jobdst")
    val res = Job.run(spark,
      cfg(src, dest).copy(autoTimestampSuffix = true), mappings, sleep = noSleep)
    assert(res.ok)
    val names = Files.list(dest).iterator()
    val found = scala.jdk.CollectionConverters.IteratorHasAsScala(names)
      .asScala.map(_.getFileName.toString).toSeq.sorted
    assert(found.size == 2)
    assert(found.forall(_.matches("""(customers|orders)_out\[\d{8}-\d{13}\]\.csv""")),
      s"unexpected names: $found")
  }

  test("schema overrides rename (and type) the inferred columns before mapping (R19)") {
    val src = srcDir(); val dest = tempDir("jobdst")
    val withSchema = cfg(src, dest).copy(schemaOverrides = Seq(
      TableSchemaOverride("customers", Seq(
        ColumnOverride("customer_id", Some(LongType)),
        ColumnOverride("customer_name")))))
    // the mapping sees the EDITED names, not the file header's
    val m = Seq(Mapping("customers", "customers_out", Seq(
      ColumnMapping(Some("customer_id"), "key"),
      ColumnMapping(Some("customer_name"), "who"))))
    val res = Job.run(spark, withSchema, m, sleep = noSleep)
    assert(res.ok, res.errors.mkString("; "))
    val lines = Files.readAllLines(dest.resolve("customers_out.csv"))
    assert(lines.get(0) == "\"key\";\"who\"")
    assert(lines.get(1) == "\"1\";\"ann\"")
  }

  test("column names with a dot or a backtick survive override, conditionals, casts and the write") {
    val src = tempDir("jobsrc"); val dest = tempDir("jobdst")
    csvFile(src, "prices.csv",
      "id;price.usd;tag`x\n1;12.5;a\n2;3.25;b\n3;0.5;c\n4;NULL;d\n5;7.75;e\n")
    val direct = Mapping("prices", "direct", Seq(
      ColumnMapping(Some("id"), "id", castTo = Some(LongType)),
      ColumnMapping(Some("price.usd"), "price.usd",
        castTo = Some(org.apache.spark.sql.types.DoubleType)),
      ColumnMapping(Some("tag`x"), "tag`x")),
      conditionals = Seq(Conditional("price.usd", CondOp.GreaterThan, "1"),
        Conditional("tag`x", CondOp.NotEqualTo, "b")))
    val res = Job.run(spark, cfg(src, dest), Seq(direct), sleep = noSleep)
    assert(res.ok, res.errors.mkString("; "))
    assert(Files.readString(dest.resolve("direct.csv")) ==
      "\"id\";\"price.usd\";\"tag`x\"\n\"1\";\"12.5\";\"a\"\n\"5\";\"7.75\";\"e\"\n")
    // the edited schema renames to a dotted name and casts it
    val edited = cfg(src, dest).copy(schemaOverrides = Seq(TableSchemaOverride("prices", Seq(
      ColumnOverride("id"), ColumnOverride("net.price", Some(org.apache.spark.sql.types.DoubleType)),
      ColumnOverride("tag`x")))))
    val overridden = Mapping("prices", "overridden", Seq(
      ColumnMapping(Some("id"), "id"), ColumnMapping(Some("net.price"), "net.price")),
      conditionals = Seq(Conditional("net.price", CondOp.LessThan, "5")))
    val res2 = Job.run(spark, edited, Seq(overridden), sleep = noSleep)
    assert(res2.ok, res2.errors.mkString("; "))
    assert(Files.readString(dest.resolve("overridden.csv")) ==
      "\"id\";\"net.price\"\n\"2\";\"3.25\"\n\"3\";\"0.5\"\n")
  }

  test("inactive mappings and mappings with no active columns are skipped") {
    val src = srcDir(); val dest = tempDir("jobdst")
    val res = Job.run(spark, cfg(src, dest),
      mappings :+ Mapping("customers", "skipped_out",
        Seq(ColumnMapping(Some("id"), "id")), active = false),
      sleep = noSleep)
    assert(res.results.size == 2)
    assert(!Files.exists(dest.resolve("skipped_out.csv")))
  }

  test("a failing mapping is captured with context and stops the job") {
    val src = srcDir(); val dest = tempDir("jobdst")
    val bad = Mapping("missing_table", "bad_out", Seq(ColumnMapping(Some("x"), "x")))
    val res = Job.run(spark, cfg(src, dest), Seq(mappings.head, bad, mappings(1)),
      sleep = noSleep)
    assert(!res.ok)
    assert(res.results.size == 2) // first ok, second failed, third never ran
    assert(res.errors.head.contains("missing_table->bad_out"))
    assert(!Files.exists(dest.resolve("orders_out.csv")))
  }

  test("maxParallelMappings overlaps independent mappings (round-3 verdict #8)") {
    val src = srcDir(); val dest = tempDir("jobdst")
    // seam-injected slow source: the rowHook (the reference's
    // ProcessInputRow stage) sleeps per partition, so each mapping's one
    // action takes >= delayMs of wall time.
    val delayMs = 1500L
    def slow(ms: Long): org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => {
        val enc = org.apache.spark.sql.Encoders.row(df.schema)
        df.repartition(1).mapPartitions { it => Thread.sleep(ms); it }(enc)
      }
    def slowMappings = Seq(
      mappings.head.copy(rowHook = Some(slow(delayMs))),
      mappings(1).copy(rowHook = Some(slow(delayMs))))
    def timed(c: JobConfig): (JobResult, Long) = {
      val t0 = System.nanoTime()
      val r = Job.run(spark, c, slowMappings, sleep = noSleep)
      (r, (System.nanoTime() - t0) / 1000000)
    }
    val (serialRes, serialMs) = timed(cfg(src, dest))
    assert(serialRes.ok)
    assert(serialMs >= 2 * delayMs) // serial pays both sleeps back-to-back
    val dest2 = tempDir("jobdst")
    val (parRes, parMs) = timed(cfg(src, dest2).copy(maxParallelMappings = 2))
    assert(parRes.ok)
    assert(parRes.results.map(_.rowsWritten).sorted == Seq(2L, 3L))
    assert(Files.exists(dest2.resolve("customers_out.csv")))
    assert(Files.exists(dest2.resolve("orders_out.csv")))
    assert(parMs < serialMs, s"parallel $parMs ms !< serial $serialMs ms")
    assert(parMs < 2 * delayMs, s"parallel $parMs ms did not overlap the sleeps")
  }

  test("parallel mode keeps fail-fast and rejects duplicate destinations") {
    val src = srcDir(); val dest = tempDir("jobdst")
    // duplicate destTable is a config error under parallelism
    assertThrows[IllegalArgumentException] {
      Job.run(spark, cfg(src, dest).copy(maxParallelMappings = 2),
        Seq(mappings.head, mappings(1).copy(destTable = "customers_out")),
        sleep = noSleep)
    }
    // a failing mapping still fails the job and is reported with context
    val bad = Mapping("missing_table", "bad_out", Seq(ColumnMapping(Some("x"), "x")))
    val res = Job.run(spark, cfg(src, dest).copy(maxParallelMappings = 2),
      Seq(mappings.head, bad), sleep = noSleep)
    assert(!res.ok)
    assert(res.errors.exists(_.contains("missing_table->bad_out")))
  }

  test("stability gate throws while a source file is still growing (R16)") {
    val f = tempDir("stab").resolve("t.csv")
    Files.writeString(f, "a\n1\n")
    var calls = 0
    val growing: Path => Long = { _ => calls += 1; calls * 100L }
    val e = intercept[IllegalStateException] {
      Job.checkSourceFilesChanging(Seq(f), 1, noSleep, growing)
    }
    assert(e.getMessage.contains("still being updated"))
    Job.checkSourceFilesChanging(Seq(f), 1, noSleep) // stable: no throw
  }

  test("source files are deleted after a fully successful run (R17)") {
    val src = srcDir(); val dest = tempDir("jobdst")
    val res = Job.run(spark,
      cfg(src, dest).copy(deleteSourceFiles = true), mappings, sleep = noSleep)
    assert(res.ok)
    assert(!Files.exists(src.resolve("customers.csv")))
    assert(!Files.exists(src.resolve("orders.csv")))
  }

  test("source files survive a failed run even with delete enabled") {
    val src = srcDir(); val dest = tempDir("jobdst")
    val bad = Mapping("missing", "bad", Seq(ColumnMapping(Some("x"), "x")))
    val res = Job.run(spark,
      cfg(src, dest).copy(deleteSourceFiles = true), Seq(bad), sleep = noSleep)
    assert(!res.ok)
    assert(Files.exists(src.resolve("customers.csv")))
  }

  test("settings validation rejects the reference's invalid configs (R18)") {
    val dest = tempDir("jobdst")
    val okSrc = srcDir()
    def v(c: JobConfig) = Job.validateSourceSettings(c)
    assert(v(JobConfig(destFolder = dest)).exists(_.contains("No source")))
    assert(v(JobConfig(destFolder = dest,
      sourceFile = Some(okSrc.resolve("customers.csv")),
      sourceFolder = Some(okSrc))).exists(_.contains("not both")))
    assert(v(JobConfig(destFolder = dest,
      sourceFile = Some(okSrc.resolve("nope.csv")))).exists(_.contains("does not exist")))
    assert(v(JobConfig(destFolder = dest,
      sourceFile = Some(okSrc.resolve("customers.txt")))).exists(_.contains("not a .csv")))
    val empty = tempDir("emptydir")
    assert(v(JobConfig(destFolder = dest,
      sourceFolder = Some(empty))).exists(_.contains("no .csv files")))
    assert(v(JobConfig(destFolder = dest, sourceFolder = Some(okSrc))).isEmpty)
    val fileAsDest = okSrc.resolve("customers.csv")
    assert(Job.validateDestinationSettings(
      JobConfig(destFolder = fileAsDest, sourceFolder = Some(okSrc)))
      .exists(_.contains("not a folder")))
  }

  test("writeToSourceFile primes the configured source file verbatim (R22)") {
    val dest = tempDir("jobdst")
    val src = srcDir()
    val f = src.resolve("customers.csv")
    val text = "id;name\n9;zoe\n"
    // verbatim overwrite of the configured file; the job then reads it
    val c = JobConfig(destFolder = dest, sourceFile = Some(f),
      stabilitySleepMs = 1)
    assert(Job.writeToSourceFile(c, text) == Some(f))
    assert(Files.readString(f) == text)
    val res = Job.run(spark, c, Seq(Mapping("customers", "primed_out", Seq(
      ColumnMapping(Some("id"), "id", castTo = Some(LongType)),
      ColumnMapping(Some("name"), "name")))), sleep = noSleep)
    assert(res.ok && res.results.head.rowsWritten == 1L)

    // working-dir mapping: the configured file's NAME resolves under the
    // mapped dir (the reference's MapPath("/Files/") + combine)
    val mapped = tempDir("jobwd")
    assert(Job.writeToSourceFile(c, text, workingDir = Some(mapped)) ==
      Some(mapped.resolve("customers.csv")))
    assert(Files.readString(mapped.resolve("customers.csv")) == text)

    // fallback ladder: primary write fails on a missing parent dir, the
    // helper path creates it and writes (reference :709-715)
    val deep = mapped.resolve("a/b")
    val c2 = JobConfig(destFolder = dest,
      sourceFile = Some(deep.resolve("x.csv")), stabilitySleepMs = 1)
    assert(Job.writeToSourceFile(c2, text) == Some(deep.resolve("x.csv")))
    assert(Files.readString(deep.resolve("x.csv")) == text)

    // no configured source FILE → no-op (the reference's empty guard)
    assert(Job.writeToSourceFile(
      JobConfig(destFolder = dest, sourceFolder = Some(src)), text).isEmpty)

    // a failure the parent-creation retry cannot cure (target IS a
    // directory): the fallback's error carries the primary write's
    // exception as suppressed, so the root cause is never lost (r17
    // advice)
    val asDir = tempDir("jobdir_target")
    val c3 = JobConfig(destFolder = dest, sourceFile = Some(asDir),
      stabilitySleepMs = 1)
    val e = intercept[Exception] { Job.writeToSourceFile(c3, text) }
    assert(e.getSuppressed.nonEmpty,
      "fallback failure must carry the primary write error as suppressed")
  }

  /** Lines of a written file below its header. */
  private def dataLines(f: Path): Long = Files.readAllLines(f).size - 1L

  test("Job.run reads source files whose names hold glob characters, in UTF-8 and windows-1252") {
    for (encoding <- Seq("UTF-8", "windows-1252")) withClue(s"$encoding: ") {
      val src = tempDir("jobsrc"); val dest = tempDir("jobdst")
      csvFile(src, "t[20260101-1200000000000].csv", "id;name\n1;æble\n2;øl\n", encoding)
      csvFile(src, "u{1}.csv", "id\n7\n", encoding)
      val res = Job.run(spark,
        cfg(src, dest).copy(sourceDialect = CsvDialect(encoding = encoding)), Seq(
          Mapping("t[20260101-1200000000000]", "t_out",
            Seq(ColumnMapping(Some("id"), "id"), ColumnMapping(Some("name"), "name"))),
          Mapping("u{1}", "u_out", Seq(ColumnMapping(Some("id"), "id")))),
        sleep = noSleep)
      assert(res.ok, res.errors)
      assert(res.results.map(_.rowsWritten) == Seq(2L, 1L))
      assert(Files.readAllLines(dest.resolve("t_out.csv")).toArray.toSeq ==
        Seq("\"id\";\"name\"", "\"1\";\"æble\"", "\"2\";\"øl\""))
      assert(Files.readAllLines(dest.resolve("u_out.csv")).toArray.toSeq == Seq("\"id\"", "\"7\""))
    }
  }

  test("a job reads another job's autoTimestampSuffix output") {
    val src = srcDir(); val first = tempDir("jobdst"); val second = tempDir("jobdst")
    assert(Job.run(spark, cfg(src, first).copy(autoTimestampSuffix = true),
      mappings.take(1), sleep = noSleep).ok)
    val out = graft.sources.CsvCatalog.sourceFiles(first).head
    assert(out.getFileName.toString.matches("""customers_out\[\d{8}-\d{13}\]\.csv"""), out)
    val res = Job.run(spark, JobConfig(second, sourceFile = Some(out), stabilitySleepMs = 1),
      Seq(Mapping(graft.sources.CsvCatalog.stem(out), "again",
        Seq(ColumnMapping(Some("key"), "key"), ColumnMapping(Some("name"), "name")))),
      sleep = noSleep)
    assert(res.ok, res.errors)
    assert(res.results.head.rowsWritten == 3L)
    assert(Files.readAllLines(second.resolve("again.csv")) == Files.readAllLines(out))
  }

  /** `rows` data lines `"i";"r<i % 7>"` under an `id;region` header. */
  private def numbered(dir: Path, name: String, rows: Int): Path =
    csvFile(dir, name, (0 until rows).map(i => s"\"$i\";\"r${i % 7}\"\n").mkString("id;region\n", "", ""))

  test("rowsWritten counts the data lines when conditionals empty some splits") {
    val src = tempDir("jobsrc"); val dest = tempDir("jobdst")
    val f = numbered(src, "orders.csv", 4000)
    assert(graft.sources.CsvCatalog.readTable(spark, f, CsvDialect()).rdd.getNumPartitions >= 2)
    def kept(dest: String, c: Conditional) =
      Mapping("orders", dest, Seq(ColumnMapping(Some("id"), "id")), conditionals = Seq(c))
    val res = Job.run(spark, cfg(src, dest), Seq(
      kept("head_out", Conditional("id", CondOp.LessThan, "100")),      // first split only
      kept("tail_out", Conditional("id", CondOp.GreaterThan, "3899")),  // last split only
      kept("mid_out", Conditional("region", CondOp.EqualTo, "r3"))), sleep = noSleep)
    assert(res.ok, res.errors)
    assert(res.results.map(_.rowsWritten) == Seq(100L, 100L, 571L))
    for (r <- res.results)
      assert(r.rowsWritten == dataLines(dest.resolve(s"${r.destTable}.csv")), r)
  }

  test("rowsWritten is 0 for a header-only result") {
    val src = tempDir("jobsrc"); val dest = tempDir("jobdst")
    numbered(src, "orders.csv", 4000)
    val res = Job.run(spark, cfg(src, dest), Seq(Mapping("orders", "none_out",
      Seq(ColumnMapping(Some("id"), "id")),
      conditionals = Seq(Conditional("region", CondOp.EqualTo, "nowhere")))), sleep = noSleep)
    assert(res.ok, res.errors)
    assert(res.results.map(_.rowsWritten) == Seq(0L))
    assert(Files.readAllLines(dest.resolve("none_out.csv")).toArray.toSeq == Seq("\"id\""))
  }

  test("rowsWritten counts each mapping's data lines under maxParallelMappings = 2") {
    val src = tempDir("jobsrc"); val dest = tempDir("jobdst")
    numbered(src, "a.csv", 3000)
    numbered(src, "b.csv", 1234)
    val res = Job.run(spark, cfg(src, dest).copy(maxParallelMappings = 2), Seq(
      Mapping("a", "a_out", Seq(ColumnMapping(Some("id"), "id")),
        conditionals = Seq(Conditional("region", CondOp.NotEqualTo, "r0"))),
      Mapping("b", "b_out", Seq(ColumnMapping(Some("region"), "region")))), sleep = noSleep)
    assert(res.ok, res.errors)
    assert(res.results.map(_.rowsWritten) == Seq(2571L, 1234L))
    for (r <- res.results)
      assert(r.rowsWritten == dataLines(dest.resolve(s"${r.destTable}.csv")), r)
  }
}
