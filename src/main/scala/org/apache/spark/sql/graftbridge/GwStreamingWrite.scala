package org.apache.spark.sql.graftbridge

import graft.log.AddFile
import java.util.UUID
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import scala.collection.mutable

/**
 * V2 streaming write for gwdelta tables — what `df.writeStream.toTable(
 * "gw.ns.t")` (and `writeStream.format("gwdelta")` through a catalog table)
 * plans. Each epoch's rows land as parquet under
 * `<table>/_stream/<writeId>/<epochId>/` via per-task [[GwEpochFileWriter]]s
 * (Spark's own parquet OutputWriter, executor work), and the epoch commit is
 * ONE atomic log append through the same path as the V1 sink
 * ([[graft.streaming.GwSink.commitHarvested]]): txnId =
 * `"<queryId>/<epochId>"` (the V1 sink's id too), so a crash-replayed
 * epoch re-arrives with the same id and is skipped — exactly-once into the
 * log. Only files reported by committed tasks enter the commit; stray
 * output from failed/speculative attempts stays uncommitted under
 * `_stream/` where `vacuum`'s debris rule owns it.
 *
 * Partitioned tables: each task routes rows to one open writer per
 * partition-value combination (hive-style `__gwp_<col>=<value>` dirs, the
 * partition column KEPT in the data — same layout as the batch sink), so
 * streaming appends stay partition-addressed and partition-prunable.
 */
class GwStreamingWrite(
    spark: SparkSession,
    tablePath: String,
    info: LogicalWriteInfo,
    declaredPartitionBy: Seq[String] = Nil) extends StreamingWrite {

  private val writeId = UUID.randomUUID().toString
  private def epochBase = s"$tablePath/_stream/$writeId"

  /** The table's partition layout: the log's metaData wins; a pending table
    * (first epoch bootstraps the log) uses its declared PARTITIONED BY. */
  private val partitionColumns: Seq[String] = graft.log.GwLog
    .forTable(spark.sparkContext.hadoopConfiguration, tablePath).latestSnapshot()
    .map(_.metadata.map(_.partitionColumns).getOrElse(Nil)).getOrElse(declaredPartitionBy)

  override def createStreamingWriterFactory(pinfo: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(
      spark, job, Map.empty[String, String], info.schema())
    new GwEpochWriterFactory(epochBase, info.schema(), factory,
      new graft.SerializableHadoopConf(job.getConfiguration), partitionColumns)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val epochDir = new Path(s"$epochBase/$epochId")
    // tasks report paths spelled like the table path (`file:///t/...`, a
    // plain `/t/...`), the harvest lists them qualified (`file:/t/...`):
    // compare both sides in the filesystem's qualified form
    val fs = epochDir.getFileSystem(conf)
    def qualified(p: String): String = fs.makeQualified(new Path(p)).toString
    val written = messages.collect { case GwFilesWritten(ps) => ps }.flatten
      .map(qualified).toSet
    // the shared harvesting rule (stats, zero-row drop, partition values
    // from the __gwp_ layout), restricted to files committed tasks reported
    val tableConfig = graft.log.GwLog.forTable(conf, tablePath).latestSnapshot()
      .flatMap(_.metadata).map(_.configuration).getOrElse(Map.empty[String, String])
    val files: Seq[AddFile] =
      if (written.isEmpty) Nil
      else graft.sources.SchemaProbe
        .harvestPartitioned(conf, epochDir, dataChange = true, partitionColumns,
          statsCols = graft.streaming.GwSink.statsColumnFilter(
            tableConfig, info.schema()))
        .filter(f => written.contains(qualified(f.path)))
    graft.streaming.GwSink.commitHarvested(conf, tablePath, info.schema(), files,
      Some(s"${info.queryId()}/$epochId"), partitionColumns)
    ()
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val epochDir = new Path(s"$epochBase/$epochId")
    val fs = epochDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(epochDir)) { fs.delete(epochDir, true); () }
  }

  override def toString: String = s"GwStreamingWrite[$tablePath]"
}

/** Paths written by one committed task (this connector's commit message). */
case class GwFilesWritten(paths: Seq[String]) extends WriterCommitMessage

class GwEpochWriterFactory(
    epochBase: String,
    schema: StructType,
    factory: OutputWriterFactory,
    conf: graft.SerializableHadoopConf,
    partitionColumns: Seq[String]) extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new GwEpochFileWriter(s"$epochBase/$epochId", partitionId, taskId, schema,
      factory, conf, partitionColumns)
}

/** One parquet file per (task, epoch, partition-value combination), created
  * lazily on the first routed row so empty partitions write nothing. */
class GwEpochFileWriter(
    dir: String,
    partitionId: Int,
    taskId: Long,
    schema: StructType,
    factory: OutputWriterFactory,
    conf: graft.SerializableHadoopConf,
    partitionColumns: Seq[String]) extends DataWriter[InternalRow] {

  private val writers =
    mutable.LinkedHashMap.empty[String, (org.apache.spark.sql.execution.datasources.OutputWriter, String)]
  private var closed = false

  // partition-column ordinals + renderers resolved once; tokens render the
  // way Spark's own partitionBy does (so partition pruning parses them back)
  private val partFields: Seq[(Int, DataType)] = partitionColumns.map { c =>
    val i = schema.fieldIndex(c)
    (i, schema.fields(i).dataType)
  }

  private def token(row: InternalRow, ordinal: Int, dt: DataType): String = {
    if (row.isNullAt(ordinal)) return "__HIVE_DEFAULT_PARTITION__"
    dt match {
      case DateType =>
        java.time.LocalDate.ofEpochDay(row.getInt(ordinal).toLong).toString
      case StringType => row.getUTF8String(ordinal).toString
      case _: NumericType | BooleanType => row.get(ordinal, dt).toString
      case other => throw new UnsupportedOperationException(
        s"unsupported partition column type for streaming writes: $other")
    }
  }

  /** Minimal escapePathName: %-escape the characters that are illegal or
    * ambiguous in a hive-style dir token (the harvest side unescapes any
    * %xx, so this only has to be INJECTIVE, not byte-identical to Spark). */
  private def escape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    s.foreach { c =>
      if (c < 0x20 || "%/=:#?\\{}[]^".indexOf(c) >= 0)
        sb.append(f"%%${c.toInt}%02X")
      else sb.append(c)
    }
    sb.toString
  }

  private def subdirOf(row: InternalRow): String =
    partFields.zip(partitionColumns).map { case ((i, dt), c) =>
      s"${graft.sources.SchemaProbe.PartitionDirPrefix}$c=${escape(token(row, i, dt))}"
    }.mkString("/")

  private def ensure(sub: String): org.apache.spark.sql.execution.datasources.OutputWriter =
    writers.getOrElseUpdate(sub, {
      // one OPEN parquet writer per partition value per task: unbounded
      // cardinality is the classic dynamic-partition OOM, so fail loudly
      // with the fix in hand instead of dying in the parquet allocator
      require(writers.size < 256,
        s"task $partitionId opened ${writers.size} partition writers — " +
          "repartition the stream by its partition columns (or reduce " +
          "partition cardinality) before writing")
      val attempt = new TaskAttemptID(
        new TaskID(new JobID("gwstream", 0), TaskType.MAP, partitionId),
        (taskId & 0x7fffffff).toInt)
      val ctx = new TaskAttemptContextImpl(conf.value, attempt)
      val base = if (sub.isEmpty) dir else s"$dir/$sub"
      val filePath =
        f"$base/part-$partitionId%05d-${UUID.randomUUID()}${factory.getFileExtension(ctx)}"
      (factory.newInstance(filePath, schema, ctx), filePath)
    })._1

  override def write(row: InternalRow): Unit =
    ensure(if (partFields.isEmpty) "" else subdirOf(row)).write(row)

  private def closeWriters(): Unit =
    if (!closed) { writers.values.foreach(_._1.close()); closed = true }

  override def commit(): WriterCommitMessage = {
    closeWriters()
    GwFilesWritten(writers.values.map(_._2).toSeq)
  }

  override def abort(): Unit = {
    closeWriters()
    writers.values.foreach { case (_, filePath) =>
      val p = new Path(filePath)
      val fs = p.getFileSystem(conf.value)
      if (fs.exists(p)) { fs.delete(p, false); () }
    }
  }

  override def close(): Unit = closeWriters()
}
