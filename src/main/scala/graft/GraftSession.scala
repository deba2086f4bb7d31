package graft

import org.apache.spark.sql.SparkSession

/** The one local session the mains build: `local[cpus]` with one shuffle
  * partition per core, UTC session time, and the legacy-nanos parquet flag
  * [[graft.queries.Tables.events]] needs. The test harness mirrors it.
  */
object GraftSession {
  /** Core count from SPARK_GRAFT_CPUS, 4 when unset. */
  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def local(cpus: String = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
