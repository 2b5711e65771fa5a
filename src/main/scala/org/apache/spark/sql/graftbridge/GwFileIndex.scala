package org.apache.spark.sql.graftbridge

import graft.log.{AddFile, ColumnMapping}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.collection.mutable

/**
 * File index over logged files: every leaf `FileStatus` comes from the
 * log's `path`, `size` and `modificationTime`, so planning a read makes no
 * filesystem call per data file and runs no listing job (Delta's
 * `TahoeFileIndex` posture). Paths are qualified with their FileSystem's
 * `makeQualified` (pure, no I/O), which is the form a listing reports, so
 * `_metadata.file_path`, `inputFiles` and [[graft.GwTable.uriKey]] lookups
 * see the same strings a listed read would.
 *
 * The partition spec is empty: partition columns live inside the data
 * files (`SchemaProbe.PartitionDirPrefix` directories are never parsed).
 * A file the log lists but storage lacks fails when a task reads it, not
 * when the scan is planned.
 */
class GwFileIndex(spark: SparkSession, files: Seq[AddFile])
    extends PartitioningAwareFileIndex(spark, Map.empty, None) {

  private val statuses: Seq[FileStatus] = {
    val fss = mutable.HashMap.empty[(String, String), FileSystem]
    files.map { f =>
      val p = new Path(f.path)
      val u = p.toUri
      val fs = fss.getOrElseUpdate((u.getScheme, u.getAuthority), p.getFileSystem(hadoopConf))
      new FileStatus(f.size, false, 0, 0L, f.modificationTime, fs.makeQualified(p))
    }
  }
  private lazy val pathSet: Set[Path] = statuses.map(_.getPath).toSet

  override def rootPaths: Seq[Path] = statuses.map(_.getPath)
  override def allFiles(): Seq[FileStatus] = statuses
  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec
  override protected def leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap(statuses.map(s => s.getPath -> s): _*)
  override protected def leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    statuses.toArray.groupBy(_.getPath.getParent)
  override def refresh(): Unit = ()

  // the file set is the identity (as for a listed index): equal scans of
  // one snapshot unify under Spark's exchange and subquery reuse
  override def equals(other: Any): Boolean = other match {
    case g: GwFileIndex => g.pathSet == pathSet
    case _ => false
  }
  override def hashCode(): Int = pathSet.hashCode()
}

/** The one read path for logged files: every scan or DataFrame over
  * `AddFile`s builds its [[GwFileIndex]] here. */
object GwFileIndex {

  /** A parquet scan builder over `files` reading the on-file schema
    * `dataSchema` (physical names under column mapping). */
  def scanBuilder(spark: SparkSession, files: Seq[AddFile], dataSchema: StructType,
      options: CaseInsensitiveStringMap): ParquetScanBuilder =
    ParquetScanBuilder(spark, new GwFileIndex(spark, files), dataSchema, dataSchema, options)

  /** The clean/DV split: clean files read through `clean`; files carrying a
    * deletion vector read through `dv` (which must push no filter, see
    * [[GwMorScan]]) and skip their deleted positions task-side. */
  def liveScan(spark: SparkSession, files: Seq[AddFile],
      clean: Seq[AddFile] => Scan, dv: Seq[AddFile] => Scan): Scan = {
    val (dvd, rest) = files.partition(_.dv.isDefined)
    if (dvd.isEmpty) clean(rest)
    else new GwMorScan(if (rest.isEmpty) None else Some(clean(rest)), dv(dvd),
      new graft.SerializableHadoopConf(spark.sparkContext.hadoopConfiguration),
      dvd.map(f => graft.GwTable.uriKey(f.path) -> f.dv.get).toMap,
      planned = files)
  }

  /** `files` as a DataFrame under the LOGICAL names of `schema`: the parquet
    * read uses the physical schema and renames positionally. The frame
    * keeps the file source's `_metadata` column (`file_path`, `row_index`)
    * resolvable. Deletion vectors are not applied ([[graft.Dv.readLive]]). */
  def frame(spark: SparkSession, schema: StructType, files: Seq[AddFile]): DataFrame = {
    val relation = HadoopFsRelation(new GwFileIndex(spark, files), new StructType(),
      ColumnMapping.physicalSchema(schema).asNullable, None, new ParquetFileFormat,
      Map.empty)(spark)
    val raw = Bridge.ofRows(spark, LogicalRelation(relation))
    if (!ColumnMapping.hasMapping(schema)) raw
    else raw.toDF(schema.fieldNames.toIndexedSeq: _*)
  }
}
