package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.log.{AddFile, CdcFile, ColumnMapping, Snapshot}

/**
 * Change-data-file plumbing for the Delta CHANGE DATA FEED contract
 * (`delta.enableChangeDataFeed`): DML commits on a CDF-enabled table
 * persist their row-level changes as parquet files under
 * `<table>/_change_data/` — table columns (physical layout under column
 * mapping) plus a `_change_type` string (`insert` / `delete` /
 * `update_preimage` / `update_postimage`) — referenced from the commit by
 * [[graft.log.CdcFile]] actions.
 *
 * Why write the changes twice: the change-feed READERS no longer have to
 * derive a row diff from the commit's add/remove files — which is exactly
 * what a STREAM cannot do (the bag-difference needs both sides of a
 * rewrite) and why rewrite/DV commits previously stopped `readChangeFeed`.
 * With cdc files in the commit, every DML shape streams. Batch
 * `rowChanges` prefers them too: one scan of bounded change files instead
 * of a diff over the commit's full file set.
 *
 * Scale: a cdc file's size tracks the CHANGED rows of its commit, not the
 * table — the extra write cost is proportional to the DML's own output,
 * the same trade Delta makes. Reads are a plain pinned-schema parquet
 * scan over the logged files, pruned to exactly the requested commit range.
 */
object Cdc {
  val ChangeTypeCol = "_change_type"
  val Insert = "insert"
  val Delete = "delete"
  val UpdatePre = "update_preimage"
  val UpdatePost = "update_postimage"

  /** CDF is an opt-in table property (either the graft or the delta key). */
  def enabled(snap: Snapshot): Boolean =
    snap.metadata.exists { m =>
      Seq("graft.enableChangeDataFeed", "delta.enableChangeDataFeed")
        .exists(k => m.configuration.get(k).exists(_.trim.equalsIgnoreCase("true")))
    }

  /** On-file schema of a cdc file for a table `schema`: physical column
    * names (mapping-aware) + `_change_type`. */
  def physicalSchema(schema: StructType): StructType =
    ColumnMapping.physicalSchema(schema).add(StructField(ChangeTypeCol, StringType))

  /** Write a change batch (LOGICAL data columns + `_change_type`) under
    * `<table>/_change_data/` and harvest the outputs as cdc actions.
    * An empty batch yields no files and no actions. */
  def write(spark: SparkSession, tablePath: String, snap: Snapshot,
      changes: DataFrame): Seq[CdcFile] = {
    val outDir = new Path(tablePath, s"_change_data/${java.util.UUID.randomUUID()}")
    val dataCols = snap.schema.fieldNames
    val physical = ColumnMapping
      .toPhysicalDf(changes.select((dataCols :+ ChangeTypeCol).map(changes(_)).toIndexedSeq: _*),
        snap.schema)
    physical.write.mode("overwrite").parquet(outDir.toString)
    graft.sources.SchemaProbe
      .harvestAddFiles(spark.sparkContext.hadoopConfiguration, outDir, dataChange = false)
      .filter(a => graft.Dv.numRecords(a).forall(_ > 0L))
      .map(a => CdcFile(a.path, a.size))
  }

  /** Read cdc files back under the table's LOGICAL names + `_change_type`. */
  def read(spark: SparkSession, schema: StructType, cdcs: Seq[CdcFile]): DataFrame =
    org.apache.spark.sql.graftbridge.GwFileIndex.frame(spark,
      schema.add(StructField(ChangeTypeCol, StringType)),
      cdcs.map(c => AddFile(c.path, c.size, 0L)))
}
