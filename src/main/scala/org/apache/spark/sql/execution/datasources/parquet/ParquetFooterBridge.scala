package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/**
 * The two `private[parquet]` driver-side steps of Spark's Parquet schema
 * inference — read the footers, convert them under the session's
 * Parquet conf — so a reader that already knows which part file speaks
 * for a directory ([[graft.operators.Merge]]'s whole generations) gets
 * the schema without the inference job `spark.read.parquet` submits.
 * Lives under `org.apache.spark.sql.execution.datasources.parquet` for
 * access; contains no logic.
 */
object ParquetFooterBridge {
  def readSchema(spark: SparkSession, files: Seq[FileStatus]): Option[StructType] =
    ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(
        spark.sessionState.newHadoopConf(), files,
        spark.sessionState.conf.ignoreCorruptFiles), spark)
}
