package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.UrlKernelFuzzSpec.corpus

/** Fuzz pins for the URL normalization kernel (c13/d91/d92): crawled
  * URLs are an adversarial surface, and the kernel's library contract is
  * the byte-walks' one — any string returns a value or NULL, never
  * throws — plus two algebraic laws: refusal is total (no scheme → BOTH
  * kernels NULL) and normalization is idempotent on every accepted
  * input. The corpus is seeded-deterministic (no run-to-run flake):
  * random ASCII heavy in URL metacharacters, real-ish prefixes, embedded
  * NUL/newline/unicode, truncations, and pathological repetitions.
  * Acceptance is the retired regex chain's refusal rule
  * ([[UrlRegexReference.urlRefused]]), which the kernel must keep.
  */
class UrlKernelFuzzSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("url kernel: never throws; refusal total; idempotent on accepted; deterministic") {
    import spark.implicits._
    val df = corpus.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "url").repartition(8).cache()
    try {
      val out = df.select($"id", $"url",
          GroupC.urlNormalize($"url").as("n"),
          GroupC.urlDomain($"url").as("d"))
        .withColumn("accepted", !UrlRegexReference.urlRefused($"url"))
        .cache()
      try {
        out.count() // never throws across the whole corpus
        // refusal is TOTAL: unaccepted input nulls BOTH kernels;
        // accepted input always normalizes (domain may still be NULL —
        // a sub-2-label host has no registered domain)
        assert(out.filter(!$"accepted" && ($"n".isNotNull || $"d".isNotNull))
          .isEmpty, "refused input leaked a non-NULL result")
        assert(out.filter($"accepted" && $"n".isNull)
          .isEmpty, "accepted input failed to normalize")
        // idempotence: re-normalizing any accepted result is the identity,
        // and the domain of the canonical form agrees (null-safely)
        val again = out.filter($"accepted").select($"id", $"n", $"d",
          GroupC.urlNormalize($"n").as("n2"), GroupC.urlDomain($"n").as("d2"))
        assert(again.filter($"n2" =!= $"n").isEmpty,
          "urlNormalize is not idempotent on fuzz input")
        assert(again.filter(!($"d2" <=> $"d")).isEmpty,
          "urlDomain disagrees between raw and canonical fuzz input")
        // determinism: a second independent evaluation matches exactly
        val out2 = df.select($"id", GroupC.urlNormalize($"url").as("n"))
        assert(out.select("id", "n").exceptAll(out2).isEmpty &&
          out2.exceptAll(out.select("id", "n")).isEmpty)
      } finally out.unpersist()
    } finally df.unpersist()
  }
}

object UrlKernelFuzzSpec {
  /** The seeded adversarial corpus, shared with UrlCanonDiffSpec. */
  def corpus: Seq[String] = {
    val rnd = new scala.util.Random(0x18c13L)
    val meta = ":/?#&=.%@[]\\ \n\t\u0000\u00e9中"
    val alnum = "abcXYZ019-_~"
    def randStr(n: Int): String =
      (0 until n).map { _ =>
        val pool = if (rnd.nextBoolean()) meta else alnum
        pool(rnd.nextInt(pool.length))
      }.mkString
    val prefixes = Seq("", "http://", "HTTPS://", "ftp://", "//", ":",
      "http:/", "http:", "a://", "http://:", "http://?", "http://#",
      "http://h:", "http://h:99999999999999999999/",
      "http://WWW.", "http://www.www.", "http://h/index.html",
      "http://h?utm_", "http://h?utm_a=", "http://h?&&&",
      "http://h?a=1&utm_b=2&", "http://h#", "http://h:80:80/")
    val repeats = Seq("http://" + "w." * 500 + "x", "http://h/" + "a" * 2000,
      "http://h?" + "utm_a=1&" * 400, "http://h" + ":80" * 300)
    val rand = (0 until 1500).map(_ => randStr(1 + rnd.nextInt(60)))
    val seeded = (0 until 1500).map(_ =>
      prefixes(rnd.nextInt(prefixes.length)) + randStr(rnd.nextInt(40)))
    rand ++ seeded ++ prefixes ++ repeats
  }
}
