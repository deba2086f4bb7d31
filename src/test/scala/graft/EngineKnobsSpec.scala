package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine packages read no environment variables and no system
  * properties: a query's result and plan depend on its inputs and the
  * session only. The mains in `graft` may read env to configure a run.
  */
class EngineKnobsSpec extends AnyFunSuite {
  private val enginePackages = Seq("operators", "queries", "functions",
    "sources", "plans", "multimodal", "streaming")
  private val read = """sys\.env|sys\.props|System\.getenv|System\.getProperty""".r
  // the staging-dir root is the JVM's temp dir, not a knob
  private val allowed = Set("""sys.props("java.io.tmpdir")""")

  test("no engine source file reads sys.env, sys.props or System.getenv") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the project root (no $root)")
    val hits = for {
      pkg <- enginePackages
      file <- Files.walk(root.resolve(pkg)).iterator().asScala.toSeq
      if file.toString.endsWith(".scala")
      (line, no) <- Files.readAllLines(file).asScala.zipWithIndex
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/**")
      if read.findAllMatchIn(allowed.foldLeft(code)(_.replace(_, ""))).nonEmpty
    } yield s"$file:${no + 1}: $code"
    assert(hits.isEmpty, hits.mkString("engine code reads env/props:\n", "\n", ""))
  }
}
