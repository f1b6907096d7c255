package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import org.apache.spark.util.{SerializableConfiguration, ThreadUtils}

/** Narrow bridge to `private[spark]` utilities the engine legitimately
  * needs — same placement rationale as [[NativeExprs]] (this package
  * lives inside the spark tree exactly so these internals are reachable
  * without reflection).
  */
object SparkBridge {

  /** Broadcast the session's Hadoop configuration for executor-side
    * filesystem access (`Sources.warcStreamed` opens crawl segments
    * through the Hadoop FS from tasks; `Configuration` itself is not
    * serializable).
    */
  def broadcastHadoopConf(sc: SparkContext): Broadcast[SerializableConfiguration] =
    SerializableConfiguration.broadcast(sc)

  /** Unwrap on the executor. */
  def hadoopConf(bc: Broadcast[SerializableConfiguration]): Configuration =
    bc.value.value

  /** Full parquet footers (row groups and their column statistics
    * included) of `files`, read on the driver over Spark's own parallel
    * map — the pool `ParquetFileFormat.readParquetFootersInParallel`
    * uses, which itself skips the row groups (it only needs schemas).
    * Metadata only: no data page is read and no Spark job runs.
    */
  def readFooters(conf: Configuration, files: Seq[FileStatus]): Seq[ParquetMetadata] =
    ThreadUtils.parmap(files, "graft-footers", 8) { f =>
      ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
        ParquetMetadataConverter.NO_FILTER)
    }
}
