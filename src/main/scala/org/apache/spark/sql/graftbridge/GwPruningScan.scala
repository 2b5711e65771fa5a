package org.apache.spark.sql.graftbridge

import graft.log.Snapshot
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal, StartsWith}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.{DateType, DoubleType, FloatType, NumericType, StringType, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/**
 * gwdelta Table that file-skips with the transaction log's harvested footer
 * stats: when Catalyst pushes filters, the snapshot's live-file list is
 * pruned against each file's min/max BEFORE the parquet scan is built, so
 * excluded files are never opened (on top of the row-group pruning the
 * delegated parquet scan already does from the same filters). At 100 TB
 * this turns a selective time-travel query from "open every live file"
 * into "open the files the predicate can touch".
 *
 * Lives in the `org.apache.spark.sql` namespace because the catalyst
 * filter-pushdown hook (`SupportsPushDownCatalystFilters`) that file
 * sources use is `private[sql]`.
 */
class GwDeltaTable(
    tableName: String,
    spark: SparkSession,
    options: CaseInsensitiveStringMap,
    snapshot: Snapshot,
    // the LATEST snapshot: accepts writes and streams; a time-travel load
    // is a read-only batch relation
    writable: Boolean = false,
    // catalog-loaded tables declare the strict v2 BATCH_WRITE capability
    // (required by dynamic partition overwrite); the PATH-based
    // DataFrameWriter face keeps V1-only so its option wiring (txnAppId/
    // userMetadata/mergeSchema/replaceWhere) stays on the V1 provider
    v2BatchWrite: Boolean = false) extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  override def name(): String = tableName

  /** A path load with `readChangeFeed` is the table's change feed: its
    * columns plus the feed's metadata columns, readable only as a stream. */
  private val changeFeed = options.getBoolean("readChangeFeed", false)

  override def schema(): StructType =
    if (changeFeed) GwStreamAdmission.changeFeedSchema(snapshot.schema)
    else snapshot.schema

  /** Log-metadata configuration (TBLPROPERTIES), exposed so analysis-time
    * consumers — the CHECK-constraint rule ([[GwConstraintRule]]), SHOW
    * TBLPROPERTIES — see the table's persisted properties. */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    snapshot.metadata.foreach(_.configuration.foreach { case (k, v) => m.put(k, v) })
    m.put("location", options.get("path"))
    m
  }

  /** Hidden row-identity columns (`__gw_file`, `__gw_pos`) — provenance
    * when selected explicitly, and the rowId() the delta-based row-level
    * operations resolve against this relation ([[GwRowId]]). */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    GwRowId.metadataColumns
  /** Filesystem location of the table (maintenance SQL resolution). */
  def tablePath: String = options.get("path")
  override def capabilities(): java.util.Set[TableCapability] = {
    if (changeFeed)
      return if (writable) java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
      else java.util.EnumSet.noneOf(classOf[TableCapability])
    val caps = java.util.EnumSet.of(TableCapability.BATCH_READ)
    if (writable) {
      caps.add(TableCapability.MICRO_BATCH_READ)
      caps.add(TableCapability.V1_BATCH_WRITE)
      caps.add(TableCapability.TRUNCATE)
      caps.add(TableCapability.STREAMING_WRITE)
      if (v2BatchWrite && GwDeltaTable.dynamicOverwriteStrategyInstalled) {
        // partitionOverwriteMode=dynamic INSERT OVERWRITE — planned by
        // GwDynamicOverwriteStrategy into the sink's dynamic overwrite.
        // The capability check for dynamic requires strict BATCH_WRITE
        // (no V1 fallback clause); declaring it is safe ONLY when the
        // injected strategy is actually present to intercept
        // OverwritePartitionsDynamic — physical dispatch keys on the
        // built Write's type (ours stay V1Write), so a session with the
        // catalog configured but WITHOUT GraftExtensions would otherwise
        // pass analysis and then die at runtime in V1Write.toBatch
        // inside Spark's OverwritePartitionsDynamicExec. Guarded, such a
        // session fails analysis with the capability's clear
        // "does not support dynamic overwrite" instead.
        caps.add(TableCapability.BATCH_WRITE)
        caps.add(TableCapability.OVERWRITE_DYNAMIC)
      }
    }
    caps
  }

  /** SQL UPDATE / MERGE INTO (and DELETEs `canDeleteWhere` declines):
    * group-based copy-on-write rewrites committed through the engine's log
    * (see [[GwRowLevelOperation]]). Translatable DELETEs still take the
    * cheaper classified path via [[deleteWhere]] — Spark's
    * `OptimizeMetadataOnlyDeleteFromTable` prefers it when available. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo):
      org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(writable,
      s"$tableName: row-level DML targets the LATEST snapshot; drop versionAsOf/timestampAsOf")
    require(!graft.log.ColumnMapping.hasMapping(snapshot.schema),
      s"$tableName: SQL UPDATE/MERGE on a column-mapped (renamed-column) " +
        "table is not supported; use the API DML " +
        "(GwTable.update/merge), which is mapping-aware")
    new GwRowLevelOperationBuilder(spark, options.get("path"), snapshot, info)
  }
  override def partitioning(): Array[Transform] =
    snapshot.metadata.map(_.partitionColumns).getOrElse(Nil)
      .map(c => org.apache.spark.sql.connector.expressions.Expressions.identity(c))
      .toArray

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    if (!writable) new GwPruningScanBuilder(tableName, spark, opts, snapshot)
    else new GwPruningScanBuilder(tableName, spark, opts, snapshot) {
      // same pruning batch scan, plus the streaming entry point
      // (readStream.format("gwdelta") / readStream.table) that tails the
      // log version by version; the per-read options carry the stream's
      // rate limits. The batch scan is built on first use: a stream never
      // reads it.
      override def build(): Scan =
        new GwDeltaScan(() => super.build(), spark, options.get("path"),
          snapshot.schema, opts, changeFeed, snapshot.files.exists(_.dv.isDefined))
    }

  /** INSERT INTO / INSERT OVERWRITE / df.writeTo(...): a V1Write bridge
    * into the engine's own commit path (`GwSink`) — the parquet write is
    * executor work, the commit one log append; INSERT OVERWRITE is a
    * single atomic remove-all+add commit (old files stay for time travel).
    * `writeStream.toTable` rides the same builder's V2 streaming face
    * ([[GwStreamingWrite]]). Only the LATEST snapshot is writable; a
    * time-travel load is read-only by construction (`writable = false`). */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo):
      org.apache.spark.sql.connector.write.WriteBuilder =
    GwWriteBuilders.forPath(options.get("path"), spark = Some(spark), info = Some(info))

  // ---- SQL DELETE FROM / TRUNCATE TABLE (SupportsDelete) ----

  /** Spark only plans `DELETE FROM` against this table when every WHERE
    * conjunct translated to a V1 filter AND this check accepts it; an
    * untranslatable predicate (or a time-travel relation) fails the
    * statement instead of deleting the wrong rows. */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    writable && filters.forall(f => GwFilters.toColumn(f).isDefined)

  /** Delete through the engine's own commit path: stats-pruned candidate
    * selection, metadata-only drops for fully-matching files, then either a
    * copy-on-write rewrite of partial files (default) or — with
    * `spark.graft.mergeOnRead = true` — a deletion-vector re-assertion that
    * moves no bytes ([[graft.GwTable.delete]]). */
  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    require(writable,
      "DELETE targets the LATEST snapshot; drop versionAsOf/timestampAsOf")
    val cond = filters.toSeq.map(f => GwFilters.toColumn(f).getOrElse(
        throw new IllegalArgumentException(s"untranslatable delete predicate: $f")))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    val mor = spark.conf.getOption("spark.graft.mergeOnRead").exists(_.toBoolean)
    graft.GwTable.forPath(spark, options.get("path")).delete(cond, mergeOnRead = mor)
    ()
  }

  /** `TRUNCATE TABLE`: one metadata-only tombstone-all commit. */
  override def truncateTable(): Boolean = {
    require(writable,
      "TRUNCATE targets the LATEST snapshot; drop versionAsOf/timestampAsOf")
    graft.GwTable.forPath(spark, options.get("path")).truncate()
    true
  }
}

object GwDeltaTable {
  /** Whether the active session's planner carries
    * [[GwDynamicOverwriteStrategy]] (i.e. GraftExtensions is installed) —
    * the OVERWRITE_DYNAMIC capability is only sound with the strategy
    * present to plan the statement. */
  private[graftbridge] def dynamicOverwriteStrategyInstalled: Boolean =
    SparkSession.getActiveSession.exists(
      _.sessionState.planner.strategies.exists(
        _.isInstanceOf[GwDynamicOverwriteStrategy]))
}

/** Shared V1Write builders for gwdelta tables (live + pending); when the
  * session + write info are supplied, the built Write also carries the V2
  * streaming face, so `writeStream.toTable` works on the same tables. */
private[graftbridge] object GwWriteBuilders {
  import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
  import org.apache.spark.sql.connector.write.streaming.StreamingWrite
  import org.apache.spark.sql.sources.InsertableRelation

  def forPath(path: String, declared: Option[StructType] = None,
      spark: Option[SparkSession] = None,
      info: Option[LogicalWriteInfo] = None,
      partitionBy: Seq[String] = Nil,
      bootstrapProps: Map[String, String] = Map.empty): WriteBuilder =
    new WriteBuilder with SupportsTruncate
        with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
      private var truncateFirst = false
      private var dynamicOverwrite = false
      override def truncate(): WriteBuilder = { truncateFirst = true; this }
      // the V2Writes rule requires this interface to plan
      // OverwritePartitionsDynamic; execution then goes through
      // GwDynamicOverwriteStrategy, but the flag also routes the V1
      // insert face correctly if anything drives it directly
      override def overwriteDynamicPartitions(): WriteBuilder = {
        dynamicOverwrite = true; this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                overwrite: Boolean): Unit = {
              declared.filter(_.nonEmpty).foreach { s =>
                require(Bridge.sameType(s, data.schema),
                  s"insert schema does not match the declared table schema\n" +
                    s"  table: ${s.catalogString}\n  batch: ${data.schema.catalogString}")
              }
              // partitionBy matters on the BOOTSTRAP insert (it fixes the
              // table's partitionColumns); later appends re-derive the
              // layout from the log either way
              if (truncateFirst || overwrite || dynamicOverwrite) {
                graft.streaming.GwSink.overwrite(data, path, partitionBy,
                  bootstrapProps = bootstrapProps,
                  dynamicPartitions = dynamicOverwrite)
              } else graft.streaming.GwSink.append(data, path,
                txnId = None, partitionBy = partitionBy,
                bootstrapProps = bootstrapProps)
              ()
            }
          }
        override def toStreaming: StreamingWrite = (spark, info) match {
          case (Some(s), Some(i)) => new GwStreamingWrite(s, path, i, partitionBy)
          case _ => super.toStreaming // informative "doesn't support" error
        }
      }
    }
}

/** A catalog table whose location has no transaction log yet (CREATE TABLE
  * before any data): serves the DECLARED schema and accepts the first
  * INSERT, whose commit bootstraps the log. Not readable — there is no
  * committed content to read; a SELECT fails on the missing capability
  * with the name spelling out why. */
class GwDeltaPendingTable(
    tableName: String,
    declaredSchema: StructType,
    val path: String,
    partitionColumns: Seq[String] = Nil,
    clusterBy: Seq[String] = Nil) extends Table
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  override def name(): String =
    s"$tableName (no transaction log yet at $path)"
  override def schema(): StructType = declaredSchema
  override def partitioning(): Array[Transform] =
    partitionColumns
      .map(c => org.apache.spark.sql.connector.expressions.Expressions.identity(c))
      .toArray
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo):
      org.apache.spark.sql.connector.write.WriteBuilder =
    GwWriteBuilders.forPath(path, Some(declaredSchema),
      spark = Some(SparkSession.active), info = Some(info),
      partitionBy = partitionColumns,
      bootstrapProps =
        if (clusterBy.isEmpty) Map.empty
        else Map(graft.GwTable.ClusterByProp -> clusterBy.mkString(",")))
}

class GwPruningScanBuilder(
    tableName: String,
    spark: SparkSession,
    options: CaseInsensitiveStringMap,
    snapshot: Snapshot)
  extends SupportsPushDownCatalystFilters with SupportsPushDownRequiredColumns {

  private var required: Option[StructType] = None
  // pruned candidate set (partition + stats pruning); starts at all live
  private var candidates: Seq[graft.log.AddFile] = snapshot.files
  // the physical filters as pushed (kept so a runtime-filter re-plan can
  // push them into its own clean-file scan)
  private var pushedPf: Seq[Expression] = Nil
  // the clean candidates' parquet builder with the filters pushed: made
  // once per plan by pushFilters, built as is by build()
  private var pushed: Option[ParquetScanBuilder] = None

  // column mapping (RENAME COLUMN, metadata-only): the parquet side of
  // this scan works in PHYSICAL names — the inner scan's schema, the
  // pushed filters, the stats-pruning constraints — while Spark above
  // sees only logical names. Rows are positional, so only the name layer
  // translates; an unmapped table takes the identical old paths.
  private val mapped = graft.log.ColumnMapping.hasMapping(snapshot.schema)
  private val toPhys: Map[String, String] =
    graft.log.ColumnMapping.toPhysical(snapshot.schema)
  private val toLogi: Map[String, String] =
    graft.log.ColumnMapping.toLogical(snapshot.schema)

  private def physType(t: StructType): StructType =
    if (!mapped) t
    else StructType(t.fields.map(f =>
      f.copy(name = toPhys.getOrElse(f.name.toLowerCase, f.name),
        metadata = org.apache.spark.sql.types.Metadata.empty)))

  private def logiType(t: StructType): StructType =
    if (!mapped) t
    else StructType(t.fields.map(f =>
      f.copy(name = toLogi.getOrElse(f.name.toLowerCase, f.name))))

  private def physFilters(filters: Seq[Expression]): Seq[Expression] =
    if (!mapped) filters
    else filters.map(_.transform {
      case a: AttributeReference if toPhys.contains(a.name.toLowerCase) =>
        a.withName(toPhys(a.name.toLowerCase))
    })

  private def parquet(files: Seq[graft.log.AddFile]): ParquetScanBuilder =
    GwFileIndex.scanBuilder(spark, files, physType(snapshot.schema), options)

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    // physical names from here down: footer stats and partitionValues are
    // keyed by the ON-FILE names (partition columns are unrenameable, so
    // their logical == physical)
    val pf = physFilters(filters)
    pushedPf = pf
    val direct = GwStatsPruning.ranges(pf)
    // generated-column derivation: a range on the SOURCE column implies a
    // range on its generated (usually partition) column — `WHERE ts >= X`
    // prunes `day = CAST(ts AS DATE)` directories with no filter on `day`
    val constraints = direct ++ GwGeneratedPruning.derive(spark, snapshot, direct)
    // partition pruning (exact, metadata-only) runs before stats pruning
    if (constraints.nonEmpty) candidates = snapshot.filesForConstraints(constraints)
    // the filter-pushdown side of the scan covers the CLEAN files only; a
    // DV'd file must stream every physical row for its position counter
    // (see GwMorScan), so its scan is built filter-free
    val b = parquet(candidates.filter(_.dv.isEmpty))
    val residual = b.pushFilters(pf)
    pushed = Some(b)
    // the parquet builder reports every data filter as a residual, which is
    // what makes the filter-free DV side correct (Spark re-filters above
    // the scan); a future builder that swallowed filters would silently
    // unfilter DV'd files, so pin the contract here
    require(candidates.forall(_.dv.isEmpty) || residual == pf,
      s"parquet scan builder consumed filters over a DV'd snapshot: $filters")
    // Spark keeps whatever we return and re-applies it ABOVE the scan —
    // that layer lives in logical names, so hand back the logical original
    // of each physical residual
    if (!mapped) residual
    else {
      val byPhys = pf.zip(filters).toMap
      residual.map(r => byPhys.getOrElse(r, r))
    }
  }

  override def pushedFilters: Array[Predicate] =
    pushed.map(_.pushedFilters).getOrElse(Array.empty)

  override def pruneColumns(s: StructType): Unit = required = Some(s)

  override def build(): Scan = {
    // a query referencing the hidden row-identity columns (provenance
    // SELECT of __gw_file/__gw_pos) routes through the row-id scan: the
    // same pruned candidates, inner scan filter-free (every filter here is
    // residual — Spark re-filters above), DV'd positions skipped task-side
    if (required.exists(_.fieldNames.exists(GwRowId.names.contains))) {
      require(!mapped,
        s"$tableName: row-identity reads (and the SQL row-level DML built " +
          "on them) are not supported on a column-mapped table; use the " +
          "API DML (GwTable.delete/update/merge)")
      return GwRowId.buildScan(tableName, spark, options, snapshot,
        candidates, required.get)
    }
    val scan = assembleScan(candidates, pushed)
    // surface LOGICAL names to Spark: rows are positional, only the
    // reported schema translates. Runtime filtering is forgone on mapped
    // tables (runtime filters arrive in logical names; the stats are
    // physical) — consistent with DPP being forgone there.
    if (mapped) new GwLogicalNamesScan(scan, logiType(scan.readSchema()))
    else new GwRuntimeFilteringScan(scan, snapshot, candidates, assembleScan(_, None))
  }

  /** Assemble the batch scan over an explicit candidate set — the initial
    * build (with the builder pushFilters made) and every runtime-filter
    * re-plan go through here, so a pruned re-plan preserves the pushed
    * filters, the column pruning, and the clean/DV split exactly. */
  private def assembleScan(cands: Seq[graft.log.AddFile],
      clean: Option[ParquetScanBuilder]): Scan = {
    def scan(b: ParquetScanBuilder): Scan = {
      required.foreach(r => b.pruneColumns(physType(r)))
      b.build()
    }
    GwFileIndex.liveScan(spark, cands,
      clean = files => scan(clean.getOrElse {
        val b = parquet(files)
        if (pushedPf.nonEmpty) b.pushFilters(pushedPf)
        b
      }),
      dv = files => scan(parquet(files)))
  }
}

/** Scan wrapper for column-mapped tables: the inner scan reads parquet in
  * PHYSICAL names; this reports the LOGICAL read schema upward (rows are
  * positional — no per-row work). Statistics pass through so join planning
  * still sees log-exact sizes. Runtime-filtering interfaces are
  * deliberately not forwarded — DPP is forgone on mapped tables. */
class GwLogicalNamesScan(inner: Scan, logical: StructType) extends Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  def innerScan: Scan = inner
  override def readSchema(): StructType = logical
  override def toBatch: org.apache.spark.sql.connector.read.Batch = inner.toBatch
  override def description(): String = inner.description()
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    inner.columnarSupportMode()
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    inner.supportedCustomMetrics()
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    inner match {
      case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        s.estimateStatistics()
      case _ => new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.empty()
        override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
      }
    }
}

/** Conservative filter -> per-column typed range extraction: only shapes
  * that IMPLY a bound on a direct column are used; everything else prunes
  * nothing (pruning may keep too much, never too little).
  *
  * Bounds are exact ([[graft.log.Bound]]): int64 literals never round
  * through Double, timestamps travel as micros and dates as days (exactly
  * what Catalyst literals carry and what the stats harvest writes —
  * SchemaProbe.putStat), strings compare in UTF-8 byte order. CDA
  * workloads filter on commit/event time above all, so the
  * timestamp/date/string coverage is what makes skipping bite there. */
object GwStatsPruning {
  import graft.log.{Bound, ColRange}

  def ranges(filters: Seq[Expression]): Seq[ColRange] = filters.flatMap(rangeOf)

  /** Literal -> typed bound, for every stats-comparable literal type. */
  private def bound(l: Literal): Option[Bound] = (l.dataType, l.value) match {
    case (_, null) => None
    case (FloatType, v: java.lang.Float) if v.isNaN || v.isInfinite => None
    case (DoubleType, v: java.lang.Double) if v.isNaN || v.isInfinite => None
    // NaN compares false against every stats bound, which would prune
    // files that DO contain NaN rows (Spark's NaN = NaN is true), and
    // +/-Infinity has no BigDecimal form — both mean "no constraint"
    case (_: NumericType, v) => Some(Bound.Num(BigDecimal(v.toString)))
    // Catalyst encodes timestamps as Long micros and dates as Int days —
    // the same numbers the v2 harvest stores for those columns
    case (TimestampType | TimestampNTZType, v: java.lang.Long) =>
      Some(Bound.Num(BigDecimal(v.longValue())))
    case (DateType, v: java.lang.Integer) => Some(Bound.Num(BigDecimal(v.intValue())))
    case (StringType, v) => Some(Bound.Str(v.toString))
    case _ => None
  }

  /** Timestamp constraints only trust stats harvested with the micros
    * normalization (gwStatsV 2) — v1 stats stored raw millis, and a micros
    * literal against a millis stat would prune files that match. */
  private def minStatsVersion(l: Literal): Int = l.dataType match {
    case TimestampType | TimestampNTZType => 2
    case _ => 0
  }

  private def eq(a: AttributeReference, l: Literal): Seq[ColRange] =
    bound(l).map(b => ColRange(a.name, Some(b), Some(b), minStatsVersion(l))).toSeq
  private def atLeast(a: AttributeReference, l: Literal): Seq[ColRange] =
    bound(l).map(b => ColRange(a.name, Some(b), None, minStatsVersion(l))).toSeq
  private def atMost(a: AttributeReference, l: Literal): Seq[ColRange] =
    bound(l).map(b => ColRange(a.name, None, Some(b), minStatsVersion(l))).toSeq

  private def rangeOf(e: Expression): Seq[ColRange] = e match {
    case And(l, r) => rangeOf(l) ++ rangeOf(r)
    case EqualTo(a: AttributeReference, l: Literal) => eq(a, l)
    case EqualTo(l: Literal, a: AttributeReference) => eq(a, l)
    case GreaterThan(a: AttributeReference, l: Literal) => atLeast(a, l)
    case GreaterThanOrEqual(a: AttributeReference, l: Literal) => atLeast(a, l)
    case LessThan(a: AttributeReference, l: Literal) => atMost(a, l)
    case LessThanOrEqual(a: AttributeReference, l: Literal) => atMost(a, l)
    case GreaterThan(l: Literal, a: AttributeReference) => atMost(a, l)
    case GreaterThanOrEqual(l: Literal, a: AttributeReference) => atMost(a, l)
    case LessThan(l: Literal, a: AttributeReference) => atLeast(a, l)
    case LessThanOrEqual(l: Literal, a: AttributeReference) => atLeast(a, l)
    // IN (v1..vn) implies [min(vi), max(vi)] — useful when the list is a
    // handful of nearby dates/keys, harmless otherwise
    case In(a: AttributeReference, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
      val bs = vs.map(v => bound(v.asInstanceOf[Literal]))
      if (bs.exists(_.isEmpty)) Nil
      else {
        val sorted = bs.flatten.sortWith((x, y) => Bound.cmp(x, y).exists(_ < 0))
        // mixed-kind lists can't sort meaningfully; same-kind lists can
        if (sorted.sliding(2).forall(p => p.size < 2 || Bound.cmp(p(0), p(1)).isDefined))
          Seq(ColRange(a.name, sorted.headOption, sorted.lastOption,
            vs.map(v => minStatsVersion(v.asInstanceOf[Literal])).max,
            anyOf = sorted))
        else Nil
      }
    // col LIKE 'abc%': matching strings are >= 'abc' and < prefixSuccessor
    case StartsWith(a: AttributeReference, Literal(prefix, StringType)) if prefix != null =>
      Seq(ColRange(a.name, Some(Bound.Str(prefix.toString)),
        prefixSuccessor(prefix.toString).map(Bound.Str.apply)))
    case _ => Nil
  }

  /** A string greater (in UTF-8 byte order) than every string with this
    * prefix: increment the last non-maximal CODE POINT (UTF-8 order is
    * code-point order — incrementing UTF-16 chars instead would fabricate
    * unpaired surrogates, which Java's UTF-8 encoder mangles to '?' and
    * which a scalacheck property falsified), dropping what follows.
    * All-maximal prefixes have no successor -> unbounded above. An
    * increment landing in the surrogate block jumps to U+E000 (still an
    * upper bound); a prefix already containing lone surrogates is not
    * valid UTF-8 and gets no bound at all. Used INCLUSIVELY by the range
    * check, which only widens the kept set (conservative). */
  def prefixSuccessor(prefix: String): Option[String] = {
    val cps = prefix.codePoints().toArray
    if (cps.exists(cp => cp >= Character.MIN_SURROGATE && cp <= Character.MAX_SURROGATE))
      return None // lone surrogates don't UTF-8-encode in order
    var i = cps.length - 1
    while (i >= 0 && cps(i) >= Character.MAX_CODE_POINT) i -= 1
    if (i < 0) None
    else {
      val next0 = cps(i) + 1
      val next =
        if (next0 >= Character.MIN_SURROGATE && next0 <= Character.MAX_SURROGATE) 0xE000
        else next0
      val sb = new java.lang.StringBuilder()
      (0 until i).foreach(j => sb.appendCodePoint(cps(j)))
      sb.appendCodePoint(next)
      Some(sb.toString)
    }
  }
}
