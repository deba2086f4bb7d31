package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.PresentationSort

import graft.queries.{GroupA, GroupB, GroupC, GroupD}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries live in graft.queries.Group{A,B,C}; this object only aggregates.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    GroupB.b5HashAgg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.3, each built
    * through [[PresentationSort]]: a small query's closing ORDER BY sorts
    * in one partition instead of over a sampled range exchange. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    (GroupA.queries ++ GroupB.queries ++ GroupC.queries ++ GroupD.queries).map {
      case (name, q) => name -> ((spark: SparkSession, sfDir: String) => PresentationSort(q(spark, sfDir)))
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    GroupA.oracleSql ++ GroupB.oracleSql ++ GroupC.oracleSql ++ GroupD.oracleSql
}
