package org.apache.spark.sql.graftbridge

import graft.SerializableHadoopConf
import graft.log.{AddFile, DvDescriptor}
import java.util.OptionalLong
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, Statistics, SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch

/**
 * Merge-on-read V2 scan: serves a snapshot whose file set includes files
 * carrying deletion vectors ([[graft.log.DvDescriptor]]).
 *
 * Clean files flow through the inner parquet scan untouched. Each DV'd file
 * becomes ONE input partition holding all of its splits in offset order and
 * its file's DV DESCRIPTOR — positions are decoded from the bitmap by the
 * TASK that reads the file ([[GwMorReaderFactory.createReader]] runs
 * executor-side), so the driver's planning cost is O(DV'd files) and
 * independent of how many rows are deleted. The reader wraps the parquet
 * row reader with a physical-position counter and a two-pointer skip over
 * the sorted positions. Two invariants make the counter correct:
 *
 *  - the DV-side parquet scan is built with NO pushed filters, so no row
 *    group is skipped and rows stream in physical order;
 *  - all splits of a file sit in one partition, offset-sorted, so the
 *    running count IS the file-absolute row index.
 *
 * Cost: DV'd files read row-based (no vectorized batches) and without
 * parquet pushdown until `compact()` folds their DVs away — the documented
 * merge-on-read trade. Spark re-evaluates every filter above the scan (the
 * parquet builder reports all data filters as residuals), so correctness
 * does not depend on pushdown.
 */
class GwMorScan(
    cleanScan: Option[Scan],
    dvScan: Scan,
    conf: SerializableHadoopConf,
    // uriKey(data-file path) -> its deletion-vector descriptor
    dvByKey: Map[String, DvDescriptor],
    // every planned AddFile (clean + DV'd) — log-exact plan statistics
    planned: Seq[AddFile] = Nil) extends Scan with SupportsReportStatistics {

  /** Log-exact statistics: on-disk bytes of the planned files, live rows =
    * harvested numRecords minus DV cardinalities. Joins against a MOR
    * snapshot stay broadcast-able — without this the wrapper would hide the
    * inner parquet scan's estimate and Spark would assume "huge". */
  override def estimateStatistics(): Statistics = GwScanStats.of(planned)

  override def readSchema(): StructType =
    cleanScan.map(_.readSchema()).getOrElse(dvScan.readSchema())
  override def description(): String =
    s"GwMorScan(dvFiles=${dvByKey.size}, ${dvScan.description()})"

  /** Planned files across both sides (test/plan observability). */
  def inputFiles: Array[String] =
    (cleanScan.toSeq :+ dvScan).flatMap {
      case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
        p.fileIndex.inputFiles
      case _ => Nil
    }.toArray
  // mixed vectorized/row partitions are not expressible to BatchScanExec;
  // row-based everywhere while DVs exist
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.UNSUPPORTED

  override def toBatch: Batch = new Batch {
    private lazy val cleanBatch = cleanScan.map(_.toBatch)
    private lazy val dvBatch = dvScan.toBatch

    override def planInputPartitions(): Array[InputPartition] = {
      val clean = cleanBatch.map(_.planInputPartitions()).getOrElse(Array.empty)
      clean ++ GwMorScan.groupDvPartitions(dvBatch.planInputPartitions(), dvByKey)
    }

    override def createReaderFactory(): PartitionReaderFactory =
      new GwMorReaderFactory(
        cleanBatch.map(_.createReaderFactory()),
        dvBatch.createReaderFactory(),
        conf)
  }
}

/** Plan statistics from the transaction log — better than the parquet
  * scan's own estimate (it guesses rows from bytes; the log KNOWS
  * `numRecords` from the footer harvest and the DV cardinalities).
  * Feeds Spark's join-strategy and AQE decisions via
  * `SupportsReportStatistics`. */
object GwScanStats {
  def of(files: Seq[AddFile]): Statistics = {
    val size = files.map(_.size).sum
    // exact only when EVERY planned file carries harvested numRecords
    // (pre-stats log versions may not) — otherwise rows stay unknown
    val rows = files.foldLeft(Option(0L)) { (acc, f) =>
      for (a <- acc; n <- graft.Dv.numRecords(f))
        yield a + n - f.dv.map(_.cardinality).getOrElse(0L)
    }
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(size)
      override def numRows(): OptionalLong =
        rows.map(OptionalLong.of).getOrElse(OptionalLong.empty())
    }
  }
}

object GwMorScan {
  /** Regroup a parquet batch's partitions so every split of one DV'd file
    * lands in ONE offset-sorted partition tagged with that file's
    * descriptor (see the class invariants). */
  def groupDvPartitions(parts: Array[InputPartition],
      dvByKey: Map[String, DvDescriptor]): Array[InputPartition] = {
    val byFile = parts.flatMap {
      case fp: FilePartition => fp.files
      case other => throw new IllegalStateException(
        s"expected FilePartition from the parquet scan, got $other")
    }.groupBy(_.filePath.toPath.toString)
    byFile.toArray.zipWithIndex.map {
      case ((path, splits: Array[PartitionedFile]), i) =>
        val sorted = splits.sortBy(_.start)
        val dv = dvByKey.getOrElse(graft.GwTable.uriKey(path),
          throw new IllegalStateException(s"no deletion vector planned for $path"))
        GwMorPartition(FilePartition(i, sorted), dv): InputPartition
    }
  }
}

/** One whole DV'd file (offset-sorted splits) + its DV descriptor; the
  * positions bitmap is decoded task-side, never on the driver. */
case class GwMorPartition(inner: FilePartition, dv: DvDescriptor)
  extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** A change feed's change-data-file splits (see [[GwMicroBatchStream]]):
  * their on-file layout differs from the data files', so they read through
  * their own factory. */
case class GwCdcPartition(inner: FilePartition) extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Serves both MOR batch scans and the streaming tail: DV partitions get
  * the skipping row reader, change-data-file partitions the `cdcFactory`;
  * anything else delegates to the clean factory — including columnar
  * reads, so clean streaming batches stay vectorized (the batch GwMorScan
  * pins row-based at the scan level instead). */
class GwMorReaderFactory(
    cleanFactory: Option[PartitionReaderFactory],
    dvFactory: PartitionReaderFactory,
    conf: SerializableHadoopConf,
    cdcFactory: Option[PartitionReaderFactory] = None) extends PartitionReaderFactory {

  private def clean(p: InputPartition): PartitionReaderFactory =
    cleanFactory.getOrElse(throw new IllegalStateException(
      s"no clean-side reader factory for $p"))

  private def cdc(p: InputPartition): PartitionReaderFactory =
    cdcFactory.getOrElse(throw new IllegalStateException(
      s"no change-data reader factory for $p"))

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case m: GwMorPartition =>
        // executor-side: DataSourceRDD calls createReader in the task
        new GwDvSkippingReader(dvFactory.createReader(m.inner),
          graft.Dv.readPositions(conf.value, m.dv))
      case c: GwCdcPartition => cdc(c).createReader(c.inner)
      case other => clean(other).createReader(other)
    }

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    partition match {
      case _: GwMorPartition =>
        throw new IllegalStateException("DV partitions are row-based")
      case c: GwCdcPartition => cdc(c).createColumnarReader(c.inner)
      case other => clean(other).createColumnarReader(other)
    }

  override def supportColumnarReads(partition: InputPartition): Boolean =
    partition match {
      case _: GwMorPartition => false
      case c: GwCdcPartition => cdcFactory.exists(_.supportColumnarReads(c.inner))
      case other => cleanFactory.exists(_.supportColumnarReads(other))
    }
}

/** Row reader that drops the rows at `deleted` (sorted) physical positions;
  * `pos` counts every row the inner reader emits, which — see GwMorScan's
  * invariants — is the file-absolute row index. */
class GwDvSkippingReader(
    inner: PartitionReader[InternalRow],
    deleted: Array[Long]) extends PartitionReader[InternalRow] {
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

  override def get(): InternalRow = inner.get()
  override def close(): Unit = inner.close()
}
