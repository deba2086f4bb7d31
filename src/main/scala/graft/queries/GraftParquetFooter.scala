package org.apache.spark.sql.execution.datasources.parquet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** The Spark schema and the row count of the parquet file at `path`, both
  * from one read of its footer on the driver, as [[graft.queries.Tables]]
  * memoizes them: Spark's own footer read and Parquet→Spark conversion
  * under `spark`'s flags, without the schema-merge job `spark.read.parquet`
  * launches to infer the schema, and the row count as the sum of the row
  * groups' counts, without a `count()` job. None when `path` is a
  * directory of part files. Spark keeps both calls private to this
  * package, hence the package.
  */
object GraftParquetFooter {
  def read(spark: SparkSession, path: String): Option[(StructType, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val file = p.getFileSystem(conf).getFileStatus(p)
    if (file.isDirectory) None
    else {
      // the whole footer: Spark's schema read skips the row groups
      val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
        ParquetMetadataConverter.NO_FILTER)
      val rows = meta.getBlocks.asScala.map(_.getRowCount).sum
      ParquetFileFormat.readSchema(Seq(new Footer(file.getPath, meta)), spark).map(_ -> rows)
    }
  }
}
