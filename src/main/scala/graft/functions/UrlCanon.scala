package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.CollationSupport
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** URL canonicalization as ONE native scan: `graft_url_normalize(u)` is
  * the canonical URL and `graft_url_domain(u)` the registered domain
  * (`toDomain = true`), both NULL when the input is refused. The rules are
  * [[graft.queries.GroupC.urlNormalize]]'s; this expression replaces the
  * ~25-call `regexp_extract`/`regexp_replace` chain that used to spell
  * them (kept as the test reference, `UrlRegexReference`, and — built
  * from the same `Url*P` pattern constants — in the DuckDB oracle SQL).
  * The scan equals the chain on every input (UrlCanonDiffSpec, both the
  * interpreted and the codegen path), which fixes these regex semantics:
  *
  *  - Java regex, not RE2. The query is `[?](.*)\z`, and Java's `.`
  *    stops at `\n`, `\r`, U+0085, U+2028 and U+2029 (RE2's stops
  *    at `\n` only). So when the part before `#` holds a line terminator,
  *    the query is what follows the first `?` after the LAST terminator,
  *    and empty when no `?` follows it. The oracle runs the same pattern
  *    under RE2 and diverges there on `\r`, U+0085, U+2028 and U+2029;
  *    no constructed corpus carries these characters.
  *  - The tracking strip's `(?i)` folds ASCII letters only (no
  *    UNICODE_CASE): U+017F, U+0131 and the Kelvin sign are not `s`, `i`, `k`.
  *  - The host is lowered with the function Spark's `lower` uses under
  *    its default `spark.sql.icu.caseMappings.enabled=true` (ICU case
  *    mapping: U+0130 lowers to `i` plus U+0307, and a capital sigma to a
  *    final or medial sigma by context), applied to the
  *    whole authority before the port and `www.` strips, as the chain
  *    did; `String.toLowerCase` differs on such hosts.
  *  - The input is decoded as the regex functions decode it
  *    (`UTF8String.toString`), so malformed UTF-8 reads as U+FFFD.
  *
  * Cost: one pass over the chars plus one output buffer, against ~25
  * regex matchers and their intermediate strings per URL.
  */
case class UrlCanon(child: Expression, toDomain: Boolean) extends UnaryExpression {

  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string input, got ${other.simpleString}")
  }
  override def dataType: DataType = StringType
  override def prettyName: String =
    if (toDomain) UrlCanon.DomainName else UrlCanon.NormalizeName
  // the flag is already in the name; keep plan strings `name(child)`
  override protected def flatArguments: Iterator[Any] = Iterator(child)

  override def nullSafeEval(input: Any): Any = {
    val u = input.asInstanceOf[UTF8String]
    if (toDomain) UrlCanon.domain(u) else UrlCanon.normalize(u)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, u => {
      val r = ctx.freshName("url")
      val fn = if (toDomain) "domain" else "normalize"
      s"""
         |UTF8String $r = graft.functions.UrlCanon.$fn($u);
         |if ($r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $r;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): UrlCanon =
    copy(child = newChild)
}

object UrlCanon {
  val NormalizeName = "graft_url_normalize"
  val DomainName = "graft_url_domain"

  /** Canonical URL: lowercase scheme and host, `www.` runs stripped, the
    * port dropped when empty or the scheme's default (443/https, 80/http),
    * a final `/index.html` rewritten to `/`, tracking parameters (`utm_*`,
    * `fbclid`, `gclid`, `ref`) and then leading `&`s removed from the
    * query, the `?` kept only for a non-empty query, the fragment dropped.
    * NULL for refused input (no `scheme://`, or a multi-colon authority).
    * Static so generated code calls it directly.
    */
  def normalize(u: UTF8String): UTF8String = {
    val s = u.toString
    val n = s.length
    val sl = schemeLen(s)
    if (sl < 0) return null
    val he = authorityEnd(s, sl + 3)
    val auth = authority(s, sl + 3, he)
    if (auth == null) return null
    val colon = portColon(auth)
    val hostEnd = if (colon < 0) auth.length else colon
    val out = new java.lang.StringBuilder(n + 1)
    appendAsciiLower(out, s, 0, sl)
    out.append("://").append(auth, wwwEnd(auth, hostEnd), hostEnd)
    if (colon >= 0 && colon + 1 < auth.length) {
      val port = auth.substring(colon + 1)
      val default = (sl == 5 && port == "443" && s.regionMatches(true, 0, "https", 0, 5)) ||
        (sl == 4 && port == "80" && s.regionMatches(true, 0, "http", 0, 4))
      if (!default) out.append(':').append(port)
    }
    // rest = [he, fragment); path = rest up to its first '?'
    var re = s.indexOf('#', he)
    if (re < 0) re = n
    var pe = he
    while (pe < re && s.charAt(pe) != '?') pe += 1
    if (pe == he) out.append('/')
    else if (pe - 11 >= he && s.startsWith("/index.html", pe - 11))
      out.append(s, he, pe - 10)
    else out.append(s, he, pe)
    // query: after the first '?' that no line terminator follows
    var qs = re - 1
    while (qs >= pe && !isLineTerminator(s.charAt(qs))) qs -= 1
    qs = math.max(qs + 1, pe)
    while (qs < re && s.charAt(qs) != '?') qs += 1
    if (qs < re) appendQuery(out, s, qs + 1, re)
    UTF8String.fromString(out.toString)
  }

  /** Registered domain: the last two labels of the normalized host (both
    * non-empty), NULL when there are fewer or the input is refused.
    */
  def domain(u: UTF8String): UTF8String = {
    val s = u.toString
    val sl = schemeLen(s)
    if (sl < 0) return null
    val auth = authority(s, sl + 3, authorityEnd(s, sl + 3))
    if (auth == null) return null
    val colon = portColon(auth)
    val hostEnd = if (colon < 0) auth.length else colon
    val hostStart = wwwEnd(auth, hostEnd)
    val last = auth.lastIndexOf('.', hostEnd - 1)
    if (last < hostStart || last + 1 == hostEnd) return null
    val prev = auth.lastIndexOf('.', last - 1)
    val from = math.max(prev + 1, hostStart)
    if (from == last) null else UTF8String.fromString(auth.substring(from, hostEnd))
  }

  private def isAsciiLetter(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  private def asciiLower(c: Char): Char =
    if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

  private def isLineTerminator(c: Char): Boolean =
    c == '\n' || c == '\r' || c == '\u0085' || c == '\u2028' || c == '\u2029'

  /** Length of the leading `[A-Za-z]+` when `://` follows it, else -1. */
  private def schemeLen(s: String): Int = {
    var i = 0
    while (i < s.length && isAsciiLetter(s.charAt(i))) i += 1
    if (i > 0 && s.startsWith("://", i)) i else -1
  }

  /** End of the authority `[^/?#]*` starting at `from`. */
  private def authorityEnd(s: String, from: Int): Int = {
    var i = from
    while (i < s.length && { val c = s.charAt(i); c != '/' && c != '?' && c != '#' })
      i += 1
    i
  }

  /** The authority `s[from, until)` lowered as Spark's `lower` lowers it
    * (ASCII fast path, else the ICU case mapping over the whole string);
    * null when it holds a second colon (refused).
    */
  private def authority(s: String, from: Int, until: Int): String = {
    val c = s.indexOf(':', from)
    if (c >= 0 && c < until) {
      val d = s.indexOf(':', c + 1)
      if (d >= 0 && d < until) return null
    }
    var i = from
    while (i < until && s.charAt(i) < 0x80) i += 1
    if (i == until) {
      val b = new java.lang.StringBuilder(until - from)
      appendAsciiLower(b, s, from, until)
      b.toString
    } else CollationSupport.Lower.execBinaryICU(
      UTF8String.fromString(s.substring(from, until))).toString
  }

  private def appendAsciiLower(b: java.lang.StringBuilder, s: String,
                               from: Int, until: Int): Unit = {
    var i = from
    while (i < until) { b.append(asciiLower(s.charAt(i))); i += 1 }
  }

  /** Index of the colon of a `:[0-9]*` suffix (the port strip), else -1. */
  private def portColon(auth: String): Int = {
    val c = auth.lastIndexOf(':')
    if (c < 0) return -1
    var i = c + 1
    while (i < auth.length && auth.charAt(i) >= '0' && auth.charAt(i) <= '9') i += 1
    if (i == auth.length) c else -1
  }

  /** End of the leading `(www[.])+` run within `[0, until)`. */
  private def wwwEnd(auth: String, until: Int): Int = {
    var i = 0
    while (i + 4 <= until && auth.startsWith("www.", i)) i += 4
    i
  }

  /** Appends `?` plus the query `s[from, until)` with every tracking
    * parameter removed (with its leading `&`, or alone at the start) and
    * then leading `&`s stripped; appends nothing when that leaves "".
    */
  private def appendQuery(out: java.lang.StringBuilder, s: String,
                          from: Int, until: Int): Unit = {
    val mark = out.length
    out.append('?')
    var seg = from
    while (seg <= until) {
      var end = s.indexOf('&', seg)
      if (end < 0 || end > until) end = until
      if (!isTracking(s, seg, end)) {
        // a separator only after kept text: leading '&'s are stripped
        if (out.length > mark + 1) out.append('&')
        out.append(s, seg, end)
      }
      seg = end + 1
    }
    if (out.length == mark + 1) out.setLength(mark)
  }

  /** `(?i)(utm_[a-z_]+|fbclid|gclid|ref)=` at the start of `s[from, until)`,
    * ASCII-only case folding as in Java's `(?i)` without UNICODE_CASE.
    */
  private def isTracking(s: String, from: Int, until: Int): Boolean = {
    def keyAt(k: String): Boolean = from + k.length <= until && {
      var i = 0
      while (i < k.length && asciiLower(s.charAt(from + i)) == k.charAt(i)) i += 1
      i == k.length
    }
    val eq = if (keyAt("utm_")) {
      var i = from + 4
      while (i < until && (isAsciiLetter(s.charAt(i)) || s.charAt(i) == '_')) i += 1
      if (i > from + 4) i else -1
    } else if (keyAt("fbclid")) from + 6
    else if (keyAt("gclid")) from + 5
    else if (keyAt("ref")) from + 3
    else -1
    eq >= 0 && eq < until && s.charAt(eq) == '='
  }
}
