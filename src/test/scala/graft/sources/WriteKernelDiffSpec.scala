package graft.sources

import java.util.regex.{Matcher, Pattern}

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.{col, lit, regexp_replace, replace, translate}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The writer's two literal kernels against the regex formulations they
  * replaced, over a seeded adversarial corpus: newline stripping
  * (`translate` vs `regexp_replace(c, "[\r\n]", "")`) and quote doubling
  * (`replace` vs the `Pattern.quote`/`Matcher.quoteReplacement` form), the
  * latter for every Latin-1 quote char and the Unicode specials a
  * `CsvDialect` can carry (line separator, BOM, replacement char and both
  * surrogate halves).
  */
class WriteKernelDiffSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val corpus =
    spark.createDataFrame(spark.sparkContext.parallelize(WriteKernelDiffSpec.strings.map(Row(_)), 3),
      StructType(Seq(StructField("c", StringType))))

  /** Rows where a new kernel and its old formulation disagree. */
  private def mismatches(pairs: Seq[(String, Column, Column)]): Seq[String] = {
    val cols = col("c") +: pairs.flatMap { case (_, n, o) => Seq(n, o) }
    corpus.select(cols: _*).collect().toSeq.flatMap { r =>
      pairs.indices.collect {
        case i if r.get(2 * i + 1) != r.get(2 * i + 2) =>
          s"${pairs(i)._1} on ${Option(r.getString(0)).map(_.map(_.toInt))}: " +
            s"${r.get(2 * i + 1)} vs ${r.get(2 * i + 2)}"
      }
    }
  }

  test("translate(c, CR LF, \"\") equals regexp_replace(c, \"[\\r\\n]\", \"\")") {
    val c = col("c")
    val bad = mismatches(Seq(("newlines", translate(c, "\r\n", ""), regexp_replace(c, "[\\r\\n]", ""))))
    assert(bad.isEmpty, bad.take(5))
  }

  test("replace(c, q, qq) equals the Pattern.quote / quoteReplacement form for every quote") {
    val quotes = (0 until 256).map(_.toChar) ++
      Seq('\u2028', '\uFEFF', '\uFFFD', '\u3000', '\u20AC', '\uD83D', '\uDE00')
    val c = col("c")
    val bad = quotes.map(_.toString).grouped(32).flatMap { qs =>
      mismatches(qs.map { q =>
        (s"quote U+${q.head.toInt.toHexString}", replace(c, lit(q), lit(q + q)),
          regexp_replace(c, Pattern.quote(q), Matcher.quoteReplacement(q + q)))
      })
    }.toSeq
    assert(bad.isEmpty, bad.take(5))
  }
}

object WriteKernelDiffSpec {
  private val alphabet: IndexedSeq[String] =
    Seq("a", "Z", " ", "\r", "\n", "\r\n", "\"", "'", "$", "\\", ".", "*", "[", "]", "(", ")",
      "|", "^", "+", "?", "{", "}", "\\E", "\\Q", "$1", "\u00E9", "\u20AC", "\u0000", "\u2028",
      "\uFEFF", "\uD83D\uDE00", "\uD834\uDD1E", ";", "\t").toIndexedSeq

  private val fixed: Seq[String] = Seq(null, "", "\r", "\n", "\r\n", "\n\r", "\r\r\n\n",
    "\uD83D\uDE00", "a\r\uD83D\uDE00\nb", "$ \\ . * [ ( |", "\"\"", "''", "$$", "\\\\", "\\Q\\E",
    (0 until 256).map(_.toChar).mkString)

  /** The adversarial corpus: `fixed` plus 300 seeded strings of 0-12 tokens
    * from `alphabet`. */
  lazy val strings: Seq[String] = {
    val rnd = new scala.util.Random(20261017L)
    fixed ++ Seq.fill(300)(Seq.fill(rnd.nextInt(13))(alphabet(rnd.nextInt(alphabet.size))).mkString)
  }
}
