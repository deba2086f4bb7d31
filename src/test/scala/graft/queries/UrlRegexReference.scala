package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.queries.GroupC._

/** The retired Column regex chain behind [[GroupC.urlNormalize]] and
  * [[GroupC.urlDomain]], kept verbatim as the test reference for the
  * [[graft.functions.UrlCanon]] scan that replaced it: about 25
  * `regexp_extract`/`regexp_replace` calls per URL over the `Url*P`
  * pattern constants the DuckDB oracle SQL still uses. The kernel must
  * equal it on every input (UrlCanonDiffSpec), and its [[urlRefused]]
  * predicate defines acceptance for UrlKernelFuzzSpec's laws.
  */
object UrlRegexReference {

  private def urlHostNorm(u: Column): Column =
    regexp_replace(regexp_replace(
      lower(regexp_extract(u, UrlHostportP, 1)), UrlPortStripP, ""),
      UrlWwwP, "")

  def urlNormalize(u: Column): Column =
    when(urlRefused(u), lit(null)).otherwise(urlNormalizeAccepted(u))

  def urlRefused(u: Column): Column =
    regexp_extract(u, UrlSchemeP, 1) === "" ||
      regexp_extract(regexp_extract(u, UrlHostportP, 1),
        UrlMultiColonP, 0) =!= ""

  private def urlNormalizeAccepted(u: Column): Column = {
    val scheme = lower(regexp_extract(u, UrlSchemeP, 1))
    val hostport = lower(regexp_extract(u, UrlHostportP, 1))
    val port = regexp_extract(hostport, UrlPortP, 1)
    val portN = when(port === "" ||
        (scheme === "https" && port === "443") ||
        (scheme === "http" && port === "80"), lit(""))
      .otherwise(concat(lit(":"), port))
    val rest = regexp_extract(u, UrlRestP, 1)
    val path0 = regexp_extract(rest, UrlPathP, 1)
    val path = when(path0 === "", lit("/"))
      .otherwise(regexp_replace(path0, UrlIndexP, "/"))
    val qN = regexp_replace(
      regexp_replace(regexp_extract(rest, UrlQueryP, 1), UrlTrackingP, ""),
      UrlLeadAmpP, "")
    concat(scheme, lit("://"), urlHostNorm(u), portN, path,
      when(qN === "", lit("")).otherwise(concat(lit("?"), qN)))
  }

  def urlDomain(u: Column): Column =
    when(urlRefused(u), lit(null))
      .otherwise(nullif(regexp_extract(urlHostNorm(u), UrlDomainP, 1),
        lit("")))
}
