package org.apache.spark.sql.graftbridge

import graft.log.Snapshot
import java.util.UUID
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, LogicalWriteInfoImpl, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/**
 * SQL `UPDATE` / `MERGE INTO` (and non-translatable `DELETE`) for gwdelta
 * tables: a GROUP-BASED row-level operation (copy-on-write over whole
 * files, the same granularity as [[graft.GwTable.update]]).
 *
 * Spark's rewrite rules turn the DML statement into a `ReplaceData` plan:
 * read every row of the affected groups through [[GwGroupScanBuilder]],
 * compute the replacement rows (updated + untouched + merge-inserted), and
 * hand them to this operation's write. The commit then atomically swaps
 * exactly the scanned files for the rewritten ones
 * ([[graft.GwTable.replaceFiles]]), so old versions stay time-travelable
 * and concurrent writers conflict instead of silently losing rows.
 *
 * Group selection: `GroupBasedRowLevelOperationScanPlanning` pushes the
 * command's condition into the scan builder, which uses it for STATS-BASED
 * FILE PRUNING ONLY — the filters are returned as residuals and never reach
 * the parquet reader, because a group whose file contains any matching row
 * must be read back IN FULL (row-group-level parquet pushdown would
 * silently drop its non-matching rows from the replacement: data loss).
 * Files whose harvested min/max disprove the predicate are not groups and
 * are never opened or rewritten — at 100 TB a keyed UPDATE touches the
 * files the predicate can reach, not the table (same posture as the API
 * DML); a condition stats can't bound rewrites every file, which is the
 * correct-but-conservative group-based fallback (Delta's copy-on-write
 * behaves the same without deletion vectors).
 */
class GwRowLevelOperation(
    spark: SparkSession,
    tablePath: String,
    snapshot: Snapshot,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  /** The one scan builder of this operation — its planned file list IS the
    * group set the write replaces (scan and write share this instance). */
  @volatile private var groupScan: Option[GwGroupScanBuilder] = None

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val b = new GwGroupScanBuilder(spark, options, snapshot)
    groupScan = Some(b)
    b
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new GwReplaceDataWrite(
        spark, tablePath, cmd.toString, info,
        // fail loudly if Spark ever builds the write without the operation's
        // scan: defaulting to an empty remove set would commit the full
        // replacement rows without tombstoning any source file — silent
        // row duplication instead of an error
        () => groupScan.map(_.plannedFiles).getOrElse(throw new IllegalStateException(
          s"$cmd write committed before its group scan was planned — " +
            "no candidate files to replace; refusing to append duplicates")),
        readSnap = snapshot)
    }
}

/** Candidate-group scan: pushed filters prune the snapshot's file list via
  * harvested stats but are NEVER given to the parquet reader (residual-only)
  * — affected files must be read back whole. */
class GwGroupScanBuilder(
    spark: SparkSession,
    options: CaseInsensitiveStringMap,
    snapshot: Snapshot)
  extends SupportsPushDownCatalystFilters with SupportsPushDownRequiredColumns {

  private var candidates: Seq[graft.log.AddFile] = snapshot.files
  private var required: Option[StructType] = None

  /** The files this operation classified as groups (exact snapshot paths). */
  def plannedPaths: Seq[String] = candidates.map(_.path)

  /** The exact snapshot entries the scan planned (DV state included), for
    * the commit's concurrent-mutation check. */
  def plannedFiles: Seq[graft.log.AddFile] = candidates

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    val constraints = GwStatsPruning.ranges(filters)
    if (constraints.nonEmpty) candidates = snapshot.filesForConstraints(constraints)
    filters // residuals: group selection only, no data-level pushdown
  }

  override def pushedFilters: Array[Predicate] = Array.empty

  override def pruneColumns(s: StructType): Unit = required = Some(s)

  private def makeScan(files: Seq[graft.log.AddFile]): Scan = {
    val b = GwFileIndex.scanBuilder(spark, files, snapshot.schema, options)
    required.foreach(b.pruneColumns)
    b.build()
  }

  // a candidate file carrying a deletion vector must serve LIVE rows only
  // — the replacement write would otherwise resurrect its deleted rows
  override def build(): Scan = GwFileIndex.liveScan(spark, candidates, makeScan, makeScan)
}

/** The `ReplaceData` write: replacement rows land as parquet under
  * `<table>/_dml/<uuid>` through Spark's own V2 parquet write (executor
  * work, standard commit protocol), then ONE log commit swaps the scanned
  * files for the harvested outputs. Abort cleans the staging dir; `_dml/`
  * is vacuum-owned either way. */
class GwReplaceDataWrite(
    spark: SparkSession,
    tablePath: String,
    operation: String,
    info: LogicalWriteInfo,
    scannedFiles: () => Seq[graft.log.AddFile],
    readSnap: Snapshot) extends Write {

  private val outDir = new Path(tablePath, s"_dml/${UUID.randomUUID()}")

  private def innerWrite: Write = {
    val opts = new java.util.HashMap[String, String](info.options())
    opts.put("path", outDir.toString)
    val map = new CaseInsensitiveStringMap(opts)
    ParquetTable("gw-replace-data", spark, map, Seq(outDir.toString),
      Some(info.schema()), classOf[ParquetFileFormat])
      .newWriteBuilder(LogicalWriteInfoImpl(info.queryId(), info.schema(), map,
        info.rowIdSchema(), info.metadataSchema()))
      .build()
  }

  override def toBatch: BatchWrite = new BatchWrite {
    private val inner = innerWrite.toBatch

    /** Spark's group-based `ReplaceDataExec` (no metadata columns) hands the
      * writer the RAW replacement query rows, which carry a leading
      * `__row_operation` int the declared write schema (`info.schema`)
      * excludes — the row projection in `ReplaceDataProjections` is only
      * applied on the metadata-attribute path. Strip it here; rows already
      * matching the write schema pass through untouched. */
    override def createBatchWriterFactory(pinfo: PhysicalWriteInfo): DataWriterFactory =
      new GwRowProjectingWriterFactory(inner.createBatchWriterFactory(pinfo), info.schema())

    override def useCommitCoordinator(): Boolean = inner.useCommitCoordinator()

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      inner.commit(messages)
      val conf = spark.sparkContext.hadoopConfiguration
      val adds = graft.sources.SchemaProbe.harvestPartitioned(
        conf, outDir, dataChange = true, Nil,
        statsCols = graft.streaming.GwSink.statsColumnFilter(
          readSnap.metadata.map(_.configuration).getOrElse(Map.empty),
          readSnap.schema))
      val scanned = scannedFiles()
      graft.GwTable.forPath(spark, tablePath)
        .replaceFiles(operation, scanned.map(_.path).toSet, adds, scanned,
          readSnap = Some(readSnap))
      ()
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      inner.abort(messages)
      val fs = outDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(outDir)) { fs.delete(outDir, true); () }
    }
  }

  override def description(): String = s"gwdelta ReplaceData($operation) -> $outDir"
}

/** Drops the leading `__row_operation` column off replacement rows before
  * the parquet writer (see the createBatchWriterFactory note). The check is
  * by arity: a row already at the write schema's width passes through. */
class GwRowProjectingWriterFactory(
    inner: DataWriterFactory,
    writeSchema: StructType) extends DataWriterFactory {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}

  override def createWriter(partitionId: Int, taskId: Long):
      org.apache.spark.sql.connector.write.DataWriter[InternalRow] = {
    val w = inner.createWriter(partitionId, taskId)
    new org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
      private lazy val dropOp = UnsafeProjection.create(
        writeSchema.fields.zipWithIndex.map { case (f, i) =>
          BoundReference(i + 1, f.dataType, f.nullable)
        })
      override def write(row: InternalRow): Unit = {
        if (row.numFields == writeSchema.size) w.write(row)
        else {
          require(row.numFields == writeSchema.size + 1,
            s"replacement row has ${row.numFields} fields; expected " +
              s"${writeSchema.size} (+1 for __row_operation)")
          w.write(dropOp(row))
        }
      }
      override def commit(): WriterCommitMessage = w.commit()
      override def abort(): Unit = w.abort()
      override def close(): Unit = w.close()
      override def currentMetricsValues() = w.currentMetricsValues()
    }
  }
}

/** Builder handed to Spark from `SupportsRowLevelOperations`: group-based
  * copy-on-write by default, the delta-based merge-on-read operation
  * ([[GwDeltaRowLevelOperation]]) under `spark.graft.mergeOnRead = true` —
  * same switch the classified DELETE path honors. */
class GwRowLevelOperationBuilder(
    spark: SparkSession,
    tablePath: String,
    snapshot: Snapshot,
    info: RowLevelOperationInfo) extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    if (spark.conf.getOption("spark.graft.mergeOnRead").exists(_.toBoolean))
      new GwDeltaRowLevelOperation(spark, tablePath, snapshot, info.command())
    else new GwRowLevelOperation(spark, tablePath, snapshot, info.command())
}
