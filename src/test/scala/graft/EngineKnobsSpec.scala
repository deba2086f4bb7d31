package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine packages read no environment variables and no system
  * properties: a query's result and plan depend on its inputs and the
  * session only. The mains in `graft` may read env to configure a run.
  * Nor do they touch the session's function registry: every native
  * expression is a typed Column (`graft.functions.GraftFunctions`), so a
  * query registers nothing and resolves no `graft_` name by lookup.
  * Their own session keys are pinned as a set, so a new `spark.graft.*`
  * knob comes with an edit here.
  */
class EngineKnobsSpec extends AnyFunSuite {
  private val enginePackages = Seq("operators", "queries", "functions",
    "sources", "plans", "multimodal", "streaming")
  private val read = """sys\.env|sys\.props|System\.getenv|System\.getProperty""".r
  // the staging-dir root is the JVM's temp dir, not a knob
  private val allowed = Set("""sys.props("java.io.tmpdir")""")

  /** (file, 1-based line number, trimmed line) for every code line of the
    * engine packages — comment lines skipped. */
  private def engineCode: Seq[(java.nio.file.Path, Int, String)] = {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the project root (no $root)")
    for {
      pkg <- enginePackages
      file <- Files.walk(root.resolve(pkg)).iterator().asScala.toSeq
      if file.toString.endsWith(".scala")
      (line, no) <- Files.readAllLines(file).asScala.zipWithIndex
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/**")
    } yield (file, no + 1, code)
  }

  test("no engine source file reads sys.env, sys.props or System.getenv") {
    val hits = for {
      (file, no, code) <- engineCode
      if read.findAllMatchIn(allowed.foldLeft(code)(_.replace(_, ""))).nonEmpty
    } yield s"$file:$no: $code"
    assert(hits.isEmpty, hits.mkString("engine code reads env/props:\n", "\n", ""))
  }

  test("the engine's own session keys are exactly spark.graft.topk.maxBufferedRows") {
    // every string literal that starts with the engine's key prefix
    val key = """(?<=")spark\.graft\.[^"]*(?=")""".r
    val keys = engineCode.flatMap { case (_, _, code) => key.findAllIn(code) }.toSet
    assert(keys == Set("spark.graft.topk.maxBufferedRows"), keys.mkString(", "))
  }

  test("no engine source file registers a function or calls one by name") {
    // the bracketed letters keep a plain-text search of the sources for
    // these names listing real uses only, not this pattern
    val registry = """function[R]egistry|createOrReplace[T]empFunction|call_function\(""".r
    val lineHits = for {
      (file, no, code) <- engineCode
      if registry.findFirstIn(code).nonEmpty
    } yield s"$file:$no: $code"
    // a graft_ name in any string handed to expr/selectExpr, which may
    // span lines: scan each call's parenthesized argument text
    val call = """\b(?:expr|selectExpr)\(""".r
    val graftName = "\"[^\"]*graft_[a-z0-9_]+\\(".r
    val exprHits = engineCode.groupBy(_._1).toSeq.flatMap { case (file, lines) =>
      val text = lines.map(_._3).mkString("\n")
      call.findAllMatchIn(text).flatMap { m =>
        var depth = 1
        var i = m.end
        while (i < text.length && depth > 0) {
          text(i) match {
            case '(' => depth += 1
            case ')' => depth -= 1
            case _ =>
          }
          i += 1
        }
        val args = text.substring(m.end, i)
        graftName.findFirstIn(args).map(_ => s"$file: ${text.substring(m.start, i)}")
      }
    }
    val hits = lineHits ++ exprHits
    assert(hits.isEmpty,
      hits.mkString("engine code reaches a function by name:\n", "\n", ""))
  }

  test("no engine source file writes a session conf outside CsvCatalog's split-session helper") {
    val write = """\.conf\.(set|unset)\(|setConfString\(|unsetConf\(""".r
    val helper = Paths.get("src/main/scala/graft/sources/CsvCatalog.scala")
    // the lines of `def onSplitSession`, from its signature to its closing brace
    val helperLines = {
      val lines = Files.readAllLines(helper).asScala.toIndexedSeq
      val first = lines.indexWhere(_.contains("def onSplitSession"))
      assert(first >= 0, s"no onSplitSession in $helper")
      val depths = lines.drop(first)
        .scanLeft(0)((d, l) => d + l.count(_ == '{') - l.count(_ == '}')).tail
      val end = depths.indexWhere(_ == 0, depths.indexWhere(_ > 0))
      (first + 1) to (first + 1 + end)
    }
    val hits = for {
      (file, no, code) <- engineCode
      if write.findFirstIn(code).nonEmpty && !(file == helper && helperLines.contains(no))
    } yield s"$file:$no: $code"
    assert(hits.isEmpty, hits.mkString("engine code writes a session conf:\n", "\n", ""))
  }

  test("building d84, d86, c3 and formatForWrite registers no graft_ function") {
    val spark = TestSpark.spark.newSession()
    val sf = "/root/testdata/sf0.001"
    import spark.implicits._
    val frames = Seq(
      "d84" -> graft.queries.GroupD.d84PngDedup(spark, sf),
      "d86" -> graft.queries.GroupD.d86CrossFormatDedup(spark, sf),
      "c3" -> graft.queries.GroupC.c3SimilarityTopk(spark, sf),
      "formatForWrite" -> graft.sources.CsvWrite.formatForWrite(
        Seq((1L, 1.5d, 2.5f)).toDF("id", "x", "y")))
    frames.foreach { case (name, df) =>
      withClue(name) { assert(df.queryExecution.analyzed.resolved) }
    }
    val graftFns = spark.catalog.listFunctions().collect()
      .map(_.name).filter(_.startsWith("graft_"))
    assert(graftFns.isEmpty, s"registered: ${graftFns.mkString(", ")}")
  }
}
