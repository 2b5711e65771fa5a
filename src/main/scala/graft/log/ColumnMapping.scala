package graft.log

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{StructField, StructType}

/**
 * Name-mode column mapping (Delta `columnMapping.mode = name` parity):
 * `ALTER TABLE ... RENAME/DROP COLUMN` as METADATA-ONLY commits — no data
 * file is ever rewritten.
 *
 * The logical schema (what users query) lives in `metaData.schemaString`
 * as always; a renamed field additionally pins its ON-FILE name in the
 * field's metadata under [[ColumnMapping.PhysicalNameKey]] (Delta pins
 * `delta.columnMapping.physicalName` the same way). Every path that
 * touches parquet BYTES works in physical names; everything above works
 * logical:
 *
 *  - reads build the parquet scan with the PHYSICAL schema (same field
 *    order, types, nullability — only names differ) and surface logical
 *    names; rows are positional, so the swap costs nothing at runtime;
 *  - pushed-down filters and stats-pruning constraints translate their
 *    attribute names logical -> physical before they reach footer stats
 *    or the parquet reader;
 *  - writes rename the outgoing frame logical -> physical, so NEW files
 *    carry the CURRENT physical names and old files stay readable
 *    untouched (their physical names never change — that is the whole
 *    contract);
 *  - a DROPPED column simply leaves the logical schema: old files still
 *    contain the bytes (time travel to a pre-drop version reads them),
 *    new scans never request them.
 *
 * A table with no renames has `physicalName == name` everywhere and every
 * code path below is byte-identical to the unmapped engine.
 *
 * Restrictions (all validated at ALTER time, see [[graft.GwTable]]):
 * partition columns cannot be renamed or dropped (their names key
 * `partitionValues` and the directory layout), and a column referenced by
 * a CHECK constraint / generated column / identity declaration must have
 * those properties dropped first. SQL row-level DML (UPDATE/MERGE through
 * the connector's row-level operations) is rejected on mapped tables —
 * the API DML ([[graft.GwTable.delete/update/merge]]) covers the same
 * semantics and is mapping-aware.
 */
object ColumnMapping {

  /** StructField metadata key pinning a field's on-file name. */
  val PhysicalNameKey = "graft.columnMapping.physicalName"

  def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysicalNameKey)) f.metadata.getString(PhysicalNameKey)
    else f.name

  /** True when any field's on-file name differs from its logical name. */
  def hasMapping(schema: StructType): Boolean =
    schema.fields.exists(f => physicalName(f) != f.name)

  /** The parquet-facing schema: logical names swapped for physical, field
    * metadata stripped (files know nothing of the logical layer). */
  def physicalSchema(schema: StructType): StructType =
    StructType(schema.fields.map(f =>
      StructField(physicalName(f), f.dataType, f.nullable)))

  /** logical name (lowercased) -> physical name. */
  def toPhysical(schema: StructType): Map[String, String] =
    schema.fields.map(f => f.name.toLowerCase -> physicalName(f)).toMap

  /** physical name (lowercased) -> logical name. */
  def toLogical(schema: StructType): Map[String, String] =
    schema.fields.map(f => physicalName(f).toLowerCase -> f.name).toMap

  /** Field-metadata-free copy (mapping pins stripped) — for schema
    * comparisons against external/batch schemas, which never carry the
    * mapping layer. */
  def stripMeta(schema: StructType): StructType =
    StructType(schema.fields.map(f =>
      f.copy(metadata = org.apache.spark.sql.types.Metadata.empty)))

  /** Translate stats-pruning constraints to physical column names (footer
    * stats and partitionValues are keyed by the on-file names). */
  def physRanges(schema: StructType, ranges: Seq[ColRange]): Seq[ColRange] =
    if (!hasMapping(schema)) ranges
    else {
      val phys = toPhysical(schema)
      ranges.map(r => r.copy(column = phys.getOrElse(r.column.toLowerCase, r.column)))
    }

  /** Rename an outgoing LOGICAL-named frame to the physical layout for a
    * parquet write; no-op without a mapping. */
  def toPhysicalDf(df: DataFrame, schema: StructType): DataFrame =
    if (!hasMapping(schema)) df
    else {
      val phys = toPhysical(schema)
      df.toDF(df.columns.toIndexedSeq.map(c => phys.getOrElse(c.toLowerCase, c)): _*)
    }
}
