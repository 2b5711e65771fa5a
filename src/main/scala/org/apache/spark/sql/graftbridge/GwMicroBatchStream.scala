package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset => OffsetV2, ReadLimit}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/**
 * Streaming tail of a gwdelta table — what both `spark.readStream.format(
 * "gwdelta").load(path)` and `spark.readStream.table("c.ns.t")` resolve to:
 *
 *  - offsets are log versions ([[GwStreamOffset]]; a bare version number on
 *    the wire, so checkpoints of earlier releases restart here);
 *  - the first batch is the full live snapshot at the end version, then
 *    each batch reads exactly the `dataChange` files of `(start, end]` —
 *    a metadata diff, never a reprocess;
 *  - a schema restatement in a consumed range stops the stream (the table
 *    was REPLACED; an incremental append would corrupt the sink);
 *  - each batch's partitions come from a parquet V2 scan over just that
 *    batch's files, so vectorized reading and partition sizing behave
 *    exactly like a batch read of those files; deletion vectors in the
 *    initial snapshot are reconciled task-side ([[GwMorScan]]).
 *
 * With `changeFeed` (the `readChangeFeed` option of a path load) the stream
 * serves the row-level CHANGE FEED instead: per version, the rows of the
 * files [[GwStreamAdmission.changeSlices]] selects, tagged with
 * `_change_type` and `_commit_version` as constant partition values of
 * each file — pure file reads, no joins.
 */
class GwMicroBatchStream(
    spark: SparkSession,
    tablePath: String,
    streamSchema: StructType,
    readOptions: CaseInsensitiveStringMap,
    changeFeed: Boolean)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private val log = graft.log.GwLog.forTable(spark.sparkContext.hadoopConfiguration, tablePath)
  private val options = new CaseInsensitiveStringMap(
    java.util.Collections.singletonMap("path", tablePath))

  /** Trigger.AvailableNow's pin: versions committed after the stream
    * started are left for the next run. */
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(log.latestVersion().getOrElse(-1L))

  override def getDefaultReadLimit: ReadLimit =
    GwStreamAdmission.defaultLimit(k => Option(readOptions.get(k)))

  /** `startingVersion`: first version served, skipping the initial
    * snapshot (the change feed's default is the full history instead); a
    * checkpointed offset always wins because Spark only asks for
    * initialOffset on a fresh stream. */
  private val startingVersion: Option[Long] =
    Option(readOptions.get("startingVersion")).map { v =>
      val n = v.toLong
      require(n >= 0, s"startingVersion must be >= 0, got $n")
      n
    }

  /** -1 = nothing consumed: the next batch delivers the initial snapshot
    * (or the change feed from version 0), or starts at `startingVersion`. */
  override def initialOffset(): OffsetV2 =
    GwStreamOffset(startingVersion.map(_ - 1).getOrElse(-1L))

  override def latestOffset(): OffsetV2 = reportLatestOffset()

  /** Rate-limited admission ([[GwStreamAdmission.nextOffset]]): the initial
    * snapshot is sliced by file index, tailing admits whole versions. */
  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 =
    if (changeFeed)
      GwStreamAdmission.nextChangeOffset(log, GwStreamOffset.of(start), availableNowCap)
    else GwStreamAdmission.nextOffset(log, GwStreamOffset.of(start), limit,
      availableNowCap)

  override def reportLatestOffset(): OffsetV2 =
    GwStreamOffset(log.latestVersion().getOrElse(-1L))

  override def deserializeOffset(json: String): OffsetV2 =
    GwStreamOffset.parse(json)

  override def commit(end: OffsetV2): Unit = ()

  override def stop(): Unit = ()

  override def toString: String = s"GwMicroBatchStream[$tablePath]"

  /** A parquet scan over `files` reading the on-file (PHYSICAL, column
    * mapping) layout `dataSchema`; the stream reports logical names upward
    * and rows are positional. */
  private def parquetScan(files: Seq[graft.log.AddFile], dataSchema: StructType): Scan =
    GwFileIndex.scanBuilder(spark, files, dataSchema, options).build()

  private def dataSchema = graft.log.ColumnMapping.physicalSchema(streamSchema)

  /** The last planned range and its partitions: Spark asks several times
    * per batch (each copy of the scan node plans anew), and a range always
    * plans to the same files. */
  @volatile private var lastPlanned: ((GwStreamOffset, GwStreamOffset), Array[InputPartition]) = _

  override def planInputPartitions(start: OffsetV2, end: OffsetV2): Array[InputPartition] = {
    val range = (GwStreamOffset.of(start), GwStreamOffset.of(end))
    val last = lastPlanned
    if (last != null && last._1 == range) return last._2
    val parts = plan(range._1, range._2)
    lastPlanned = (range, parts)
    parts
  }

  private def plan(start: GwStreamOffset, end: GwStreamOffset): Array[InputPartition] =
    if (changeFeed) changePartitions(start, end)
    else {
      // deletion-vector re-assertions are skipped in incremental ranges (a
      // merge-on-read DELETE adds no NEW rows); only the INITIAL snapshot
      // can contain DV'd files: serve their LIVE rows through the same
      // per-file skipping partitions the batch MOR scan uses — a plain
      // parquet read would resurrect the deleted rows
      val files = GwStreamAdmission.rangeFiles(log, tablePath, start, end)
      val scan = parquetScan(_: Seq[graft.log.AddFile], dataSchema)
      GwFileIndex.liveScan(spark, files, scan, scan).toBatch.planInputPartitions()
    }

  /** Change-feed partitions of `(start, end]`: each slice's files planned by
    * a parquet scan, every split carrying the slice's tags as its partition
    * values; change-data-file splits are marked for their own reader. */
  private def changePartitions(start: GwStreamOffset, end: GwStreamOffset): Array[InputPartition] =
    GwStreamAdmission.changeSlices(log, tablePath, start.version, end.version)
      .toArray.flatMap { slice =>
        val tags = InternalRow.fromSeq(
          slice.changeType.map(UTF8String.fromString).toSeq :+ slice.version)
        val schema =
          if (slice.changeType.isEmpty) graft.Cdc.physicalSchema(streamSchema) else dataSchema
        parquetScan(slice.files, schema).toBatch.planInputPartitions().map {
          case fp: FilePartition =>
            val tagged = fp.copy(files = fp.files.map(_.copy(partitionValues = tags)))
            if (slice.changeType.isEmpty) GwCdcPartition(tagged) else tagged
          case other => throw new IllegalStateException(
            s"expected FilePartition from the parquet scan, got $other")
        }
      }

  override def createReaderFactory(): PartitionReaderFactory = readerFactory

  /** Partition readers only depend on the read schema and parquet options
    * (the file list rides inside each partition), so one factory serves
    * every batch. The MOR wrapper routes DV partitions (initial snapshot
    * only) through the position-skipping row reader and everything else —
    * columnar reads included — straight to the parquet factory. A change
    * feed appends its tags as partition columns: `_change_type` and
    * `_commit_version` to data files, `_commit_version` to change-data
    * files, which hold their `_change_type`. */
  private lazy val readerFactory: PartitionReaderFactory = {
    val conf = new graft.SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val commitVersion = StructField(GwStreamAdmission.CommitVersionCol, LongType)
    // the factory reads no file index
    val noFiles = new GwFileIndex(spark, Nil)
    def tagged(data: StructType, tags: StructField*): PartitionReaderFactory =
      ParquetScan(spark, spark.sessionState.newHadoopConfWithOptions(
          Map("path" -> tablePath)), noFiles, data, data, StructType(tags),
        Array.empty, options).createReaderFactory()
    if (!changeFeed) {
      val parquet = tagged(dataSchema)
      new GwMorReaderFactory(Some(parquet), parquet, conf)
    } else {
      // a change feed has no DV partitions (changeSlices refuses them)
      val data = tagged(dataSchema,
        StructField(graft.Cdc.ChangeTypeCol, StringType), commitVersion)
      new GwMorReaderFactory(Some(data), data, conf,
        Some(tagged(graft.Cdc.physicalSchema(streamSchema), commitVersion)))
    }
  }
}

/** Scan wrapper that adds the streaming entry point to the pruning scan.
  * The pruning scan (a parquet scan over every live file) is built
  * on first use: a stream plans each micro-batch itself, so once
  * [[toMicroBatchStream]] has run, the questions Spark's
  * `MicroBatchScanExec` still asks (schema, description, metrics, columnar
  * mode) are answered without it. `hasDvs`: the snapshot carries deletion
  * vectors, whose initial-snapshot partitions read row by row. */
class GwDeltaScan(
    buildInner: () => Scan,
    spark: SparkSession,
    tablePath: String,
    streamSchema: StructType,
    readOptions: CaseInsensitiveStringMap,
    changeFeed: Boolean,
    hasDvs: Boolean)
    extends Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {
  @volatile private var built = false
  @volatile private var streaming = false
  private lazy val inner: Scan = { built = true; buildInner() }

  /** Whether the batch scan was built (plan observability in tests). */
  def innerBuilt: Boolean = built

  /** The wrapped batch scan (plan observability in tests/gates). */
  def innerScan: Scan = inner

  // dynamic file pruning passes through to the wrapped batch scan (a
  // non-filtering inner scan reports no attributes, which disables the
  // planner's runtime-filter insertion entirely)
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    inner match {
      case f: org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering =>
        f.filterAttributes()
      case _ => Array.empty
    }
  override def filter(filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    inner match {
      case f: org.apache.spark.sql.connector.read.SupportsRuntimeFiltering =>
        f.filter(filters)
      case _ => ()
    }
  /** Forward the wrapped scan's statistics (parquet estimate or
    * log-exact GwScanStats) — a wrapper must not hide them or Spark
    * assumes "huge" and never broadcasts the table. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    inner match {
      case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        s.estimateStatistics()
      case _ => new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.empty()
        override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
      }
    }
  override def readSchema(): StructType =
    if (streaming) streamSchema else inner.readSchema()
  override def toBatch: org.apache.spark.sql.connector.read.Batch = inner.toBatch
  override def description(): String =
    if (streaming) s"GwMicroBatchStream[$tablePath]" else inner.description()
  // the answers the batch scan gives: a DV'd snapshot reads row-based
  // (GwMorScan), a clean one per partition (the parquet scan's default)
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    if (!streaming) inner.columnarSupportMode()
    else if (hasDvs) Scan.ColumnarSupportMode.UNSUPPORTED
    else Scan.ColumnarSupportMode.PARTITION_DEFINED
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    if (streaming) Array.empty else inner.supportedCustomMetrics()
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    // the feed's extra columns are part of the TABLE schema, which only a
    // path load with the option can declare
    require(changeFeed || !readOptions.getBoolean("readChangeFeed", false),
      s"readChangeFeed streams load by path: " +
        s"spark.readStream.format(\"gwdelta\").option(\"readChangeFeed\", \"true\").load(\"$tablePath\")")
    streaming = true
    new GwMicroBatchStream(spark, tablePath, streamSchema, readOptions, changeFeed)
  }

  // value equality over the inner scan (whose own equality covers the
  // file set) so Spark's exchange/scan reuse keeps working when the same
  // table is read twice in one plan; a stream's scan equals only itself
  override def equals(other: Any): Boolean = other match {
    case g: GwDeltaScan =>
      (g eq this) || (!streaming && !g.streaming && g.innerScan == inner)
    case _ => false
  }
  override def hashCode(): Int =
    if (streaming) System.identityHashCode(this) else inner.hashCode()
}
