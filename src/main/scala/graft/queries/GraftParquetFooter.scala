package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** The Spark schema of the parquet file at `path`, read from its footer
  * on the driver, as [[graft.queries.Tables]] memoizes it: Spark's own
  * footer read and Parquet→Spark conversion under `spark`'s flags,
  * without the schema-merge job `spark.read.parquet` launches to infer
  * it. None when `path` is a directory of part files. Spark keeps both
  * calls private to this package, hence the package.
  */
object GraftParquetFooter {
  def schema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val file = p.getFileSystem(conf).getFileStatus(p)
    if (file.isDirectory) None
    else ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(conf, Seq(file),
        ignoreCorruptFiles = false),
      spark)
  }
}
