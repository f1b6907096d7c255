package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.execution.CollectMetricsExec
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import org.apache.spark.util.{AccumulatorContext, AccumulatorV2, SerializableConfiguration, ThreadUtils}

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

  /** Drop RDD `id`'s cached blocks everywhere, blocking: the call
    * `RDD.unpersist` makes after it warns that a locally checkpointed
    * RDD cannot be recomputed, which a barrier done with its rows intends.
    */
  def unpersistRDD(sc: SparkContext, id: Int): Unit = sc.unpersistRDD(id, blocking = true)

  /** The accumulator an `observe` node counts into, while the driver's
    * registry, which holds accumulators weakly, still has it.
    */
  def observed(node: CollectMetricsExec): Option[AccumulatorV2[_, _]] =
    AccumulatorContext.get(node.accumulatorId)

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
