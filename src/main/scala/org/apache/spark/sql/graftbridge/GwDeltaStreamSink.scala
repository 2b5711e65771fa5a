package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution

/**
 * V1 streaming sink for `writeStream.format("gwdelta").start(path)` on a
 * path with no transaction log yet: Spark hands the writer's `partitionBy`
 * only to V1 sinks, so this face bootstraps a (partitioned) table; once the
 * log exists the table's V2 [[GwStreamingWrite]] takes over. One atomic log
 * commit per micro-batch ([[graft.streaming.GwSink]]) under txnId
 * `"<queryId>/<batchId>"`, the stable query id the V2 face commits under
 * too, so a replayed batch is recognised whichever face committed it first.
 *
 * `addBatch`'s DataFrame carries the micro-batch's INCREMENTAL plan; like
 * Spark's own ForeachBatchSink, the already-computed result is pinned as an
 * RDD-backed batch plan before writing, so the parquet write does not
 * re-execute the source side of the plan.
 */
class GwDeltaStreamSink(tablePath: String, partitionBy: Seq[String] = Nil) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val classic = data.asInstanceOf[Dataset[org.apache.spark.sql.Row]]
    val spark = classic.sparkSession.asInstanceOf[ClassicSession]
    // set by StreamExecution on the stream thread that calls addBatch
    val queryId = Option(spark.sparkContext.getLocalProperty(StreamExecution.QUERY_ID_KEY))
      .getOrElse(throw new IllegalStateException(
        s"GwDeltaStreamSink[$tablePath]: addBatch outside a streaming query"))
    val node = LogicalRDD.fromDataset(
      classic.queryExecution.toRdd, classic, isStreaming = false)
    val batchDf = Dataset.ofRows(spark, node)
    graft.streaming.GwSink.append(batchDf, tablePath, Some(s"$queryId/$batchId"),
      partitionBy)
    ()
  }

  override def toString: String = s"GwDeltaStreamSink[$tablePath]"
}
