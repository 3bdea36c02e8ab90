package org.apache.spark.sql.execution.datasources.parquet.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Bridge to the footer reads `graft.Tables` uses — `readSchema` and
  * `readParquetFootersInParallel` are private[parquet] in Spark 4. Lives
  * under the parquet package solely for access; contains no Spark code.
  */
object ParquetBridge {
  /** The Spark schema of one parquet file, read from its footer on the
    * driver (no Spark job) and converted as schema inference converts it,
    * under the session's parquet conf.
    */
  def footerSchema(conf: Configuration, file: FileStatus,
                   spark: SparkSession): Option[StructType] =
    ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(conf, Seq(file), false), spark)
}
