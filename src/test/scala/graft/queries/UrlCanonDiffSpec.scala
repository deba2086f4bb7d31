package graft.queries

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.UrlCanon

/** Differential pin of the [[UrlCanon]] scan against the regex chain it
  * replaced ([[UrlRegexReference]], evaluated by Spark): zero diffs in
  * `normalize` and `domain` over UrlKernelFuzzSpec's seeded corpus, a
  * second seeded corpus drawn from the characters the regex semantics
  * turn on (every Java line terminator, ICU case-mapping specials,
  * ASCII-fold look-alikes, `&`/`=`/`:`/`.`/`#`/`?` runs, uppercase
  * tracking keys), and named edge cases. Each input is checked through
  * three paths: the interpreted `eval`, a generated projection, and the
  * `GroupC` Columns inside whole-stage codegen with the interpreted
  * fallback switched off. Inputs are bytes cast to string, so malformed
  * UTF-8 is covered too.
  */
class UrlCanonDiffSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def bytes(s: String): Array[Byte] =
    if (s == null) null else s.getBytes(UTF_8)

  private val edgeCases: Seq[(String, Array[Byte])] = Seq(
    // line terminators in the path and in the query
    "lf in path" -> "http://h/a\nb?x=1",
    "cr in path" -> "http://h/a\rb?x=1",
    "nel in path" -> "http://h/a\u0085b?x=1",
    "ls in path" -> "http://h/a\u2028b?x=1",
    "ps in path" -> "http://h/a\u2029b?utm_a=1&x=1",
    "lf in query" -> "http://h/p?a=1\nb=2",
    "cr in query, later ?" -> "http://h/p?a=1\rb?c=2",
    "nel in query, later ? with tracking" -> "http://h/p?a=1\u0085b?utm_c=2&d=3",
    "ls in query" -> "http://h/p?a\u2028?b",
    "ps in query, no later ?" -> "http://h/p?a=1\u2029b=2",
    "crlf at end of query" -> "http://h/p?a=1\r\n",
    "terminator in host" -> "http://h\r\n.example.com:80/p",
    "terminator before fragment" -> "http://h/p?a=1\n#x",
    // lowering
    "dotted capital I in host" -> "http://\u0130stanbul.EXAMPLE.com/",
    "kelvin sign in host" -> "http://\u212Aelvin.example/",
    "greek sigma final and medial" -> "http://\u03A3\u039F\u03A3.GR/",
    "greek sigma before port" -> "http://A\u039F\u03A3:80/x",
    "non-ascii host with www and port" -> "http://WWW.\u0130\u03A3.COM:8080/x",
    "fullwidth colon is not a port" -> "http://h\uFF1A80/",
    // capitals newer than the JDK's Unicode tables: ICU lowers them,
    // String.toLowerCase leaves them as they are
    "post-Unicode-13 capitals in host" -> "http://\uA7C0\u2C2F\u1C89.Example/",
    // tracking keys
    "uppercase utm key" -> "http://h/?UTM_X=",
    "leading empty params" -> "http://h/?&&utm_a=1&b=2",
    "only tracking" -> "http://h/?utm_a=1",
    "ref= is tracking" -> "http://h/?ref=",
    "refx= is not" -> "http://h/?refx=1",
    "mixed keys" -> "http://h/?a=1&REF=2&FbClId=3&gclid=4&utm_=5&utm__=6&c",
    "utm without = " -> "http://h/?utm_a&b=1",
    "long s is not s" -> "http://h/?utm_\u017F=1&x",
    "dotless i is not i" -> "http://h/?fbcl\u0131d=1&gcl\u0130d=2",
    "kelvin in value only" -> "http://h/?utm_k=\u212A&k=1",
    "trailing and doubled &" -> "http://h/?a=1&&utm_b=2&&",
    // ports
    "empty port" -> "http://h:",
    "empty port with path" -> "http://h:/p",
    "two ports" -> "http://h:80:80",
    "over-long port" -> ("http://h:" + "9" * 40 + "/"),
    "https default" -> "https://h:443/",
    "https port on http" -> "http://h:443/",
    "http port on https" -> "https://h:80",
    "uppercase scheme default" -> "HTTP://H:80/",
    "zero-padded default" -> "http://h:0080/",
    "non-web scheme port" -> "ftp://h:21/",
    "non-digit port" -> "http://h:8a/",
    "port only" -> "http://:80/",
    // structure
    "# before ?" -> "http://h#frag?x=1",
    "# in path before ?" -> "http://h/p#a?b",
    "index.html mid-path" -> "http://h/index.html/x",
    "index.html at end" -> "http://h/a/index.html",
    "index.html then query" -> "http://h/index.html?utm_a=1",
    "uppercase index.html" -> "http://h/INDEX.HTML",
    "www.www." -> "http://www.www.example.com/",
    "only www" -> "http://www.www./",
    "empty authority" -> "http:///p",
    "bare scheme" -> "http://",
    "bare query" -> "http://?q",
    "bare fragment" -> "http://#",
    "userinfo" -> "http://User@WWW.Example.com:80/",
    "trailing dot" -> "http://example.com./",
    "double dot" -> "http://a..b/",
    "no scheme" -> "//h/p",
    "digit in scheme" -> "h2://h/",
    "NULL" -> null
  ).map { case (name, s) => name -> bytes(s) } ++ Seq(
    "malformed utf-8 in host" -> Array[Byte](
      'h', 't', 't', 'p', ':', '/', '/', 'H', 0xff.toByte, '.', 'c', 'o', 'm', '/'),
    "malformed utf-8 in query" -> Array[Byte](
      'h', 't', 't', 'p', ':', '/', '/', 'h', '?', 'u', 't', 'm', '_', 'a', '=',
      0xc3.toByte, '&', 'b', 0xe2.toByte, 0x80.toByte))

  /** Seeded strings from the characters the rules turn on. */
  private def wideCorpus: Seq[String] = {
    val rnd = new scala.util.Random(0x5c13L)
    val pool = Seq("&", "=", ":", ".", "#", "?", "/", "\n", "\r", "\u0085",
      "\u2028", "\u2029", "\u0130", "\u212A", "\u03A3", "\u017F", "\u0131",
      "\uFFFD", "w", "W", "www.", "WWW.", "utm_", "UTM_", "ref", "fbclid",
      "gclid", "index.html", "80", "443", "a", "Z", "_", "9")
    val prefixes = Seq("http://", "HTTPS://", "https://", "ftp://", "")
    (0 until 3000).map { _ =>
      prefixes(rnd.nextInt(prefixes.length)) +
        (0 until rnd.nextInt(24)).map(_ => pool(rnd.nextInt(pool.length))).mkString
    }
  }

  private lazy val inputs: IndexedSeq[(String, Array[Byte])] =
    (edgeCases ++
      UrlKernelFuzzSpec.corpus.zipWithIndex.map { case (s, i) => s"fuzz $i" -> bytes(s) } ++
      wideCorpus.zipWithIndex.map { case (s, i) => s"wide $i" -> bytes(s) }).toIndexedSeq

  private type Out = (String, String)

  /** (normalize, domain) per input from the regex chain, in input order. */
  private lazy val reference: IndexedSeq[Out] = {
    import spark.implicits._
    collectOrdered(urls.select($"id", UrlRegexReference.urlNormalize($"url"),
      UrlRegexReference.urlDomain($"url")))
  }

  /** (id, url) over an RDD scan — a local relation would let the
    * optimizer fold the projection on the driver, away from codegen. */
  private def urls: DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(inputs.map(_._2).zipWithIndex.map(_.swap), 4)
      .toDF("id", "b").selectExpr("id", "CAST(b AS STRING) AS url")
  }

  private def collectOrdered(df: DataFrame): IndexedSeq[Out] =
    df.collect().sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2)))
      .toIndexedSeq

  private def assertNoDiffs(path: String, got: IndexedSeq[Out]): Unit = {
    assert(got.length == inputs.length)
    val diffs = inputs.indices.filter(i => got(i) != reference(i))
    if (diffs.nonEmpty) fail(s"$path: ${diffs.size} of ${inputs.length} inputs differ, e.g. " +
      diffs.take(5).map(i => s"${inputs(i)._1}: kernel ${got(i)} vs regex ${reference(i)}")
        .mkString("; "))
  }

  private val kernels: Seq[Expression] = Seq(false, true).map(d =>
    UrlCanon(BoundReference(0, StringType, nullable = true), toDomain = d))

  private def row(b: Array[Byte]): InternalRow =
    InternalRow(if (b == null) null else UTF8String.fromBytes(b))

  private def str(v: Any): String = if (v == null) null else v.toString

  test("interpreted eval equals the regex chain on every input") {
    val Seq(n, d) = kernels
    assertNoDiffs("eval", inputs.map { case (_, b) =>
      (str(n.eval(row(b))), str(d.eval(row(b))))
    })
  }

  test("generated code equals the regex chain on every input") {
    val proj = GenerateUnsafeProjection.generate(kernels)
    assertNoDiffs("codegen", inputs.map { case (_, b) =>
      val r = proj(row(b))
      (if (r.isNullAt(0)) null else r.getUTF8String(0).toString,
        if (r.isNullAt(1)) null else r.getUTF8String(1).toString)
    })
  }

  test("GroupC columns in whole-stage codegen equal the regex chain") {
    import spark.implicits._
    val key = "spark.sql.codegen.fallback"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false") // a compile failure fails, not falls back
    try {
      val df = urls.select($"id", GroupC.urlNormalize($"url").as("n"),
        GroupC.urlDomain($"url").as("d"))
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case w: WholeStageCodegenExec => w }
        .exists(_.toString.contains(UrlCanon.NormalizeName)), plan.toString)
      assertNoDiffs("whole-stage", collectOrdered(df))
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
