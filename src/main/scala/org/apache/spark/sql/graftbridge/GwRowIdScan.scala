package org.apache.spark.sql.graftbridge

import graft.SerializableHadoopConf
import graft.log.{AddFile, DvDescriptor, Snapshot}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.catalog.MetadataColumn
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

/**
 * Row identity for gwdelta tables: every row is addressed by the pair
 * (`__gw_file` = the file's LOGGED path, `__gw_pos` = the row's PHYSICAL
 * index in that file) — the same identity the deletion vectors use
 * ([[graft.Dv]]), exposed as hidden METADATA COLUMNS on the table. Two
 * consumers:
 *
 *  - provenance queries (`SELECT __gw_file, __gw_pos, * FROM t`);
 *  - the delta-based row-level operations ([[GwDeltaRowLevelOperation]]),
 *    whose `rowId()` is exactly these two columns — a merge-on-read SQL
 *    UPDATE/MERGE/DELETE reads them through this scan and writes the
 *    deleted positions back as deletion-vector bitmaps.
 */
object GwRowId {
  val FileCol = "__gw_file"
  val PosCol = "__gw_pos"
  /** Row-tracking id (`baseRowId + position`): stable for as long as the
    * row's file lives — requires `graft.enableRowTracking`. */
  val RowIdCol = "__gw_row_id"
  val names: Seq[String] = Seq(FileCol, PosCol, RowIdCol)

  private class Col(n: String, t: DataType, c: String) extends MetadataColumn {
    override def name(): String = n
    override def dataType(): DataType = t
    override def isNullable: Boolean = false // rowId columns must be non-null
    override def comment(): String = c
  }

  val metadataColumns: Array[MetadataColumn] = Array(
    new Col(FileCol, StringType, "logged path of the data file holding the row"),
    new Col(PosCol, LongType, "physical row index within the file"),
    new Col(RowIdCol, LongType,
      "row-tracking id (baseRowId + position; needs graft.enableRowTracking)"))

  /** Build a row-id-emitting scan over `candidates` serving `required`
    * (data columns in required order, the row-id columns as a suffix).
    * The inner parquet scan is FILTER-FREE — the position counter needs
    * every physical row to stream in order (see [[GwMorScan]]'s
    * invariants) — so Spark's residual re-filter above the scan carries
    * all the predicate work; candidate pruning happened at planning. */
  def buildScan(tableName: String, spark: SparkSession,
      options: CaseInsensitiveStringMap, snapshot: Snapshot,
      candidates: Seq[AddFile], required: StructType): Scan = {
    val (idFields, dataFields) = required.fields.partition(f => names.contains(f.name))
    require(required.fields.drop(dataFields.length).forall(f => names.contains(f.name)),
      s"row-id columns must be a suffix of the required schema $required — " +
        "Spark appends row-id attributes after the data attributes")
    if (idFields.exists(_.name == RowIdCol))
      candidates.find(_.baseRowId.isEmpty).foreach(f =>
        throw new IllegalStateException(
          s"$tableName: $RowIdCol needs row tracking — file ${f.path} has " +
            "no baseRowId; set TBLPROPERTIES (graft.enableRowTracking = " +
            "'true') and rewrite or re-add existing files"))
    val inner = GwFileIndex.scanBuilder(spark, candidates, snapshot.schema, options)
    inner.pruneColumns(StructType(dataFields))
    new GwRowIdScan(inner.build(), StructType(required.fields),
      idFields.map(_.name).toIndexedSeq,
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration),
      candidates.map(f =>
        graft.GwTable.uriKey(f.path) -> (f.path, f.dv, f.baseRowId)).toMap,
      planned = candidates)
  }
}

/**
 * V2 scan that appends the row-identity columns to each row: one input
 * partition per file (all splits, offset-sorted) so a running counter over
 * the filter-free inner reader IS the physical row index; rows an existing
 * deletion vector deleted are skipped (their positions still count — the
 * index stays file-absolute, the identity a later DV union relies on).
 */
class GwRowIdScan(
    inner: Scan,
    out: StructType,
    idCols: Seq[String], // subset of GwRowId.names actually requested, in order
    conf: SerializableHadoopConf,
    // uriKey(path) -> (logged path, existing deletion vector, baseRowId)
    fileByKey: Map[String, (String, Option[DvDescriptor], Option[Long])],
    // every planned AddFile — log-exact plan statistics (GwScanStats)
    planned: Seq[AddFile] = Nil)
    extends Scan with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    GwScanStats.of(planned)
  override def readSchema(): StructType = out
  override def description(): String =
    s"GwRowIdScan(files=${fileByKey.size}, ${inner.description()})"
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.UNSUPPORTED

  override def toBatch: Batch = new Batch {
    private lazy val innerBatch = inner.toBatch

    override def planInputPartitions(): Array[InputPartition] = {
      val byFile = innerBatch.planInputPartitions().flatMap {
        case fp: FilePartition => fp.files
        case other => throw new IllegalStateException(
          s"expected FilePartition from the parquet scan, got $other")
      }.groupBy(_.filePath.toPath.toString)
      byFile.toArray.zipWithIndex.map {
        case ((path, splits: Array[PartitionedFile]), i) =>
          val (logged, dv, base) = fileByKey.getOrElse(graft.GwTable.uriKey(path),
            throw new IllegalStateException(s"scanned file $path not planned"))
          GwRowIdPartition(FilePartition(i, splits.sortBy(_.start)), logged, dv,
            base): InputPartition
      }
    }

    override def createReaderFactory(): PartitionReaderFactory =
      new GwRowIdReaderFactory(innerBatch.createReaderFactory(), idCols, conf)
  }
}

/** One whole file's splits + its logged path, existing DV and row-id base. */
case class GwRowIdPartition(inner: FilePartition, loggedPath: String,
    dv: Option[DvDescriptor], baseRowId: Option[Long] = None)
    extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

class GwRowIdReaderFactory(
    innerFactory: PartitionReaderFactory,
    idCols: Seq[String],
    conf: SerializableHadoopConf) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GwRowIdPartition]
    // executor-side: the DV bitmap decodes in the task, never on the driver
    val deleted = p.dv.map(d => graft.Dv.readPositions(conf.value, d))
      .getOrElse(Array.emptyLongArray)
    new GwRowIdReader(innerFactory.createReader(p.inner), p.loggedPath, idCols,
      deleted, p.baseRowId)
  }

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    throw new IllegalStateException("row-id partitions are row-based")
  override def supportColumnarReads(partition: InputPartition): Boolean = false
}

/** Appends (file, pos) to each live row; `pos` counts every physical row
  * the inner reader emits (no pushed filters, offset-sorted splits — the
  * count IS the file-absolute index), and DV'd positions are skipped. */
class GwRowIdReader(
    inner: PartitionReader[InternalRow],
    loggedPath: String,
    idCols: Seq[String],
    deleted: Array[Long],
    baseRowId: Option[Long] = None) extends PartitionReader[InternalRow] {

  private val file = UTF8String.fromString(loggedPath)
  private val idRow = new GenericInternalRow(idCols.length)
  idCols.zipWithIndex.foreach { case (c, i) =>
    if (c == GwRowId.FileCol) idRow.update(i, file)
  }
  private val posSlot = idCols.indexOf(GwRowId.PosCol)
  private val rowIdSlot = idCols.indexOf(GwRowId.RowIdCol)
  private val base = baseRowId.getOrElse(0L)
  private val joined = new JoinedRow
  private var pos = -1L
  private var di = 0

  override def next(): Boolean = {
    while (inner.next()) {
      pos += 1
      while (di < deleted.length && deleted(di) < pos) di += 1
      if (di >= deleted.length || deleted(di) != pos) return true
    }
    false
  }

  override def get(): InternalRow = {
    if (posSlot >= 0) idRow.setLong(posSlot, pos)
    if (rowIdSlot >= 0) idRow.setLong(rowIdSlot, base + pos)
    joined(inner.get(), idRow)
  }

  override def close(): Unit = inner.close()
}
