package graft.streaming

import graft.log.{Action, AddFile, GwLog, GwTxn, Metadata, Protocol}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/**
 * Streaming append sink for the engine's transaction log: the `foreachBatch`
 * half of the pipeline — the gwdelta streaming SOURCE tails a table, this
 * writes one. Each micro-batch becomes exactly one commit (parquet files
 * under `<table>/_stream/<uuid>/` + `add` actions), so downstream consumers
 * — batch reads, time travel, `changesSince`, the streaming tail — see
 * atomic, per-batch versions. The first batch bootstraps the log
 * (protocol + metaData from the batch schema, CREATE TABLE).
 *
 * Usage: `df.writeStream.foreachBatch((b, _) => GwSink.append(b, path))` —
 * foreachBatch is Spark's idiomatic streaming-write escape hatch, and the
 * engine's commit is what provides the transactional boundary. At scale the
 * parquet write is the executors' work; the commit is one driver-side log
 * append, same as the indexer's.
 *
 * Exactly-once: pass `"<streamId>/<batchId>"` as `txnId`, where streamId
 * identifies the LOGICAL stream (stable across restarts of the same query,
 * distinct between different queries — e.g. the checkpoint location). A
 * batch replayed after a crash between sink write and stream checkpoint
 * re-arrives with the SAME id; only this stream's last committed batch can
 * be re-delivered, so the dedup walk runs backwards from the log tail and
 * stops at the FIRST commit carrying this stream's prefix — a match is the
 * replay (skip), a different batch id means fresh data (commit). Commits
 * from other writers (maintenance `compact()`/`vacuum()`, other streams)
 * are skipped on the way, bounded by a 64-version window; in steady state
 * the walk reads one or two commit files, not the whole log. Keying on the
 * stream identity is what keeps two different streams feeding one table
 * from colliding on equal batch ids (delta's app-id transaction pattern).
 * The walk is [[GwTxn.replayedVersion]]; every commit attempt re-checks the
 * stream's `txn` high-water mark ([[GwTxn]]).
 */
object GwSink {

  /** Append one batch to the table at `tablePath`; returns the committed
    * version, or -1 if the batch was empty (no commit written). With
    * `txnId` set (format `"<streamId>/<batchId>"`), a batch whose id
    * matches a recent commit's txnId is skipped (crash-replay idempotence)
    * and that version returned. Non-bootstrap appends require the batch
    * schema to match the table's logged schema (nullability ignored). */
  def append(df: DataFrame, tablePath: String, txnId: Option[String] = None,
      partitionBy: Seq[String] = Nil, mergeSchema: Boolean = false,
      bootstrapProps: Map[String, String] = Map.empty,
      userMetadata: Option[String] = None): Long = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val log = GwLog.forTable(conf, tablePath)
    GwTxn.replayedVersion(log, txnId).foreach(v => return v)
    val readMeta = tableMeta(log)
    val config = readMeta.map(_.configuration).getOrElse(bootstrapProps)
    // Delta mergeSchema: a widening batch (new nullable columns appended)
    // restates the schema ATOMICALLY with its files; overlapping columns
    // must still type-match, and without the option the strict check holds
    val widened: Option[org.apache.spark.sql.types.StructType] =
      if (!mergeSchema) { checkAppendSchema(readMeta, tablePath, df.schema); None }
      else widenedSchema(readMeta, tablePath, df.schema)
    val parts = effectivePartitioning(readMeta, df, partitionBy)
    val outDir = new Path(tablePath, s"_stream/${java.util.UUID.randomUUID()}")
    val physTarget = widened.orElse(readMeta.map(schemaOfMeta))
    // declared CHECK constraints bind here too — the path-based face must
    // not bypass what the catalog face enforces
    val checked = org.apache.spark.sql.graftbridge.GwConstraintRule.enforce(df, config)
    val arranged = maybeOptimizeWrite(checked, config, parts)
    stageWrite(physTarget.map(graft.log.ColumnMapping.toPhysicalDf(arranged, _))
      .getOrElse(arranged), outDir, parts,
      graft.log.Bloom.parquetWriteOptions(config, readMeta.map(_.schemaString), df.schema))
    val fs = outDir.getFileSystem(conf)
    val files: Seq[AddFile] =
      graft.sources.SchemaProbe.harvestPartitioned(conf, outDir,
        dataChange = true, parts, statsCols = statsColumnFilter(config, df.schema))
    if (files.isEmpty) { fs.delete(outDir, true); return -1L }
    // per-file Bloom build for tables declaring graft.bloom.columns (one
    // extra columnar pass over the fresh files; no-op otherwise)
    val withBlooms = graft.log.Bloom.augment(spark, config,
      readMeta.map(_.schemaString), tablePath, files)
    val v = commitAppend(log, df.schema, withBlooms, txnId, parts, readMeta,
      widened, bootstrapProps, userMetadata)
    maybeAutoCompact(spark, log, tablePath, config)
    v
  }


  /** Per-table stats-column control: `graft.stats.columns` (comma list,
    * Delta `delta.dataSkippingStatsColumns` also accepted) declares
    * exactly which columns harvest min/max/nullCount;
    * `graft.stats.numIndexedCols` (Delta
    * `delta.dataSkippingNumIndexedCols` also accepted) takes the
    * schema's FIRST n TOP-LEVEL fields instead — the count is over
    * top-level fields, not leaf columns (the harvest records stats for
    * top-level primitives only, so leaf-counting would buy nothing and
    * surprise on nested schemas). The explicit column list wins when
    * both spellings of both knobs appear, and the `graft.` spelling of
    * each knob wins over the `delta.` one. Absent all, every eligible
    * column harvests (None). At 100 TB width this is the knob that
    * keeps the log's stats JSON proportional to the columns queries
    * actually filter on. */
  def statsColumnFilter(config: Map[String, String],
      schema: org.apache.spark.sql.types.StructType): Option[Set[String]] = {
    def first(keys: String*): Option[String] =
      keys.flatMap(config.get).headOption
    first("graft.stats.columns", "delta.dataSkippingStatsColumns") match {
      case Some(cols) =>
        Some(cols.split(",").map(_.trim.toLowerCase).filter(_.nonEmpty).toSet)
      case None =>
        first("graft.stats.numIndexedCols",
          "delta.dataSkippingNumIndexedCols").map { n =>
          val k = n.trim.toInt
          require(k >= 0, s"stats numIndexedCols must be >= 0: $n")
          schema.fieldNames.take(k).map(_.toLowerCase).toSet
        }
    }
  }

  /** Optimized writes (Delta `autoOptimize.optimizeWrite` parity): with
    * the `graft.autoOptimize.optimizeWrite = true` table property (or the
    * `delta.` spelling), ingest batches shuffle ONCE before staging so
    * output file counts track the DATA, not the incoming task layout —
    * without it, a 32-task batch into a 5-value partitioned table writes
    * up to 160 files per commit, and a year of streaming micro-batches is
    * the small-file problem autoCompact then has to mop up. Partitioned
    * tables REBALANCE on the partition columns, unpartitioned ones
    * REBALANCE round-robin — the AQE-optimizable exchange (the same
    * primitive Delta's optimized writes use) whose size-based coalescing
    * packs outputs toward the advisory partition size and whose skew
    * splitting keeps one hot partition value from producing one giant
    * task. Applied on the INGEST paths (append / overwrite); DML rewrites
    * already size their outputs explicitly. */
  private def maybeOptimizeWrite(df: DataFrame,
      config: Map[String, String], parts: Seq[String]): DataFrame = {
    val on = Seq("graft.autoOptimize.optimizeWrite", "delta.autoOptimize.optimizeWrite")
      .exists(k => config.get(k).exists(_.trim.equalsIgnoreCase("true")))
    if (!on) df
    else if (parts.nonEmpty)
      // unresolved attributes: the REBALANCE hint resolver rejects
      // pre-resolved references
      df.hint("rebalance",
        parts.map(org.apache.spark.sql.functions.col): _*)
    else df.hint("rebalance")
  }

  /** Auto-compaction (Delta `autoOptimize.autoCompact` parity): with the
    * `graft.autoOptimize.autoCompact = true` table property, an append
    * that leaves at least `spark.graft.autoCompact.minNumFiles`
    * (default 50) small files triggers an inline OPTIMIZE — the
    * small-file problem self-heals at the ingest site instead of waiting
    * for a maintenance window. Best-effort by design: a concurrent
    * writer's conflict aborts the compaction silently (the append itself
    * is already committed; the next trigger retries), and declared
    * clustering (graft.clusterBy) applies automatically. */
  private def maybeAutoCompact(spark: org.apache.spark.sql.SparkSession,
      log: GwLog, tablePath: String, config: Map[String, String]): Unit = {
    // the flag is read from the configuration the append already resolved
    // (an append never changes it) — the common autoCompact-off path must
    // not pay a full snapshot replay per commit just to learn it is off
    if (!config.get("graft.autoOptimize.autoCompact").exists(_.toBoolean)) return
    val snap = try log.snapshot(None) catch { case scala.util.control.NonFatal(_) => return }
    val minFiles = spark.conf.getOption("spark.graft.autoCompact.minNumFiles")
      .map(_.toInt).getOrElse(50)
    val target = spark.conf.getOption("spark.graft.optimize.targetFileBytes")
      .map(_.toLong).getOrElse(128L * 1024 * 1024)
    if (snap.files.count(_.size < target) < minFiles) return
    try { graft.GwTable.forPath(spark, tablePath).compact(target); () }
    catch { case _: graft.log.GwConcurrentModificationException => () }
  }

  /** The union schema a `mergeSchema` append commits: existing fields
    * unchanged (mapping pins included), the batch's NEW fields appended
    * nullable — with a FRESH physical name when the logical name was
    * previously dropped (old bytes must not resurrect). Overlapping
    * columns must type-match exactly (this engine does not widen types);
    * a batch MISSING table columns is fine (its files null-fill on read).
    * Returns None when nothing widens. */
  private def widenedSchema(meta: Option[Metadata], tablePath: String,
      batch: org.apache.spark.sql.types.StructType):
      Option[org.apache.spark.sql.types.StructType] = {
    val m = meta.getOrElse(return None) // bootstrap: batch IS the schema
    val existing = schemaOfMeta(m)
    val byName = existing.fields.map(f => f.name.toLowerCase -> f).toMap
    batch.fields.foreach { bf =>
      byName.get(bf.name.toLowerCase).foreach { ef =>
        require(org.apache.spark.sql.graftbridge.Bridge.sameType(ef.dataType, bf.dataType),
          s"mergeSchema cannot change column '${ef.name}' from " +
            s"${ef.dataType.sql} to ${bf.dataType.sql} at $tablePath")
      }
    }
    val dropped = m.configuration.keys
      .filter(_.startsWith(graft.GwTable.DroppedPhysicalPrefix))
      .map(_.stripPrefix(graft.GwTable.DroppedPhysicalPrefix)).toSet
    val fresh = batch.fields.filterNot(bf => byName.contains(bf.name.toLowerCase))
      .map { bf =>
        val base = bf.copy(nullable = true)
        if (!dropped.contains(bf.name.toLowerCase)) base
        else base.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(base.metadata)
            .putString(graft.log.ColumnMapping.PhysicalNameKey,
              s"gwcm_${java.util.UUID.randomUUID().toString.replace("-", "")}")
            .build())
      }
    if (fresh.isEmpty) None
    else Some(org.apache.spark.sql.types.StructType(existing.fields ++ fresh))
  }

  /** Partitioning a write actually uses: an explicit `partitionBy` on a
    * table that already declares partitionColumns must MATCH them (one
    * layout per table); with no explicit columns the table's logged
    * partitioning applies automatically, so plain INSERT INTO / streaming
    * appends keep a partitioned table partitioned. */
  private def effectivePartitioning(meta: Option[Metadata], df: DataFrame,
      partitionBy: Seq[String]): Seq[String] = {
    val logged = meta.map(_.partitionColumns).getOrElse(Nil)
    if (partitionBy.nonEmpty && logged.nonEmpty)
      require(partitionBy == logged,
        s"partitionBy ${partitionBy.mkString(",")} does not match the table's " +
          s"partitionColumns ${logged.mkString(",")}")
    val parts = if (partitionBy.nonEmpty) partitionBy else logged
    parts.foreach(c => require(df.schema.fieldNames.contains(c),
      s"partition column '$c' is not in the write schema ${df.schema.fieldNames.mkString(",")}"))
    parts
  }

  /** Write the batch, hive-laying-out by `__gwp_<col>=` copies of the
    * partition columns so the REAL columns stay in the data files (see
    * SchemaProbe.PartitionDirPrefix for why). */
  private[graft] def stageWrite(df: DataFrame, outDir: Path, parts: Seq[String],
      writeOptions: Map[String, String] = Map.empty): Unit =
    if (parts.isEmpty)
      df.write.mode("overwrite").options(writeOptions).parquet(outDir.toString)
    else {
      import org.apache.spark.sql.functions.col
      val pfx = graft.sources.SchemaProbe.PartitionDirPrefix
      val staged = parts.foldLeft(df)((d, c) => d.withColumn(s"$pfx$c", col(c)))
      staged.write.mode("overwrite").options(writeOptions)
        .partitionBy(parts.map(pfx + _): _*).parquet(outDir.toString)
    }

  /** Commit ALREADY-WRITTEN parquet files as one atomic append — the V2
    * streaming write's epoch commit ([[org.apache.spark.sql.graftbridge]]
    * GwStreamingWrite). Same txnId replay dedup, schema check and bootstrap
    * rules as [[append]]; returns -1 when `files` is empty (no commit). */
  def commitHarvested(conf: org.apache.hadoop.conf.Configuration, tablePath: String,
      schema: org.apache.spark.sql.types.StructType, files: Seq[AddFile],
      txnId: Option[String], partitionColumns: Seq[String] = Nil): Long = {
    val log = GwLog.forTable(conf, tablePath)
    GwTxn.replayedVersion(log, txnId).foreach(v => return v)
    if (files.isEmpty) return -1L
    val readMeta = tableMeta(log)
    readMeta.foreach { m =>
      require(!graft.log.ColumnMapping.hasMapping(schemaOfMeta(m)),
        s"streaming writes into the column-mapped table at $tablePath are " +
          "not supported: the epoch's files were written before the commit " +
          "could apply the logical->physical rename; write via foreachBatch " +
          "+ GwSink.append instead")
    }
    checkAppendSchema(readMeta, tablePath, schema)
    commitAppend(log, schema, files, txnId, partitionColumns, readMeta)
  }

  /** The table's current metadata, or None before the bootstrap commit.
    * Every batch/stream WRITE resolves its target schema here, so this is
    * also the writer feature gate: a table whose protocol demands writer
    * features this engine lacks is refused before any bytes move. */
  private def tableMeta(log: GwLog): Option[Metadata] =
    log.latestSnapshot().flatMap { snap =>
      snap.protocol.foreach(p =>
        graft.log.Protocol.assertWritable(log.tablePath.toString, p))
      snap.metadata
    }

  /** Batches arrive in LOGICAL names; files land in the table's PHYSICAL
    * layout (column mapping — a no-op on unmapped tables). */
  private def physicalFrame(df: DataFrame, meta: Option[Metadata]): DataFrame =
    meta.map(m => graft.log.ColumnMapping.toPhysicalDf(df, schemaOfMeta(m)))
      .getOrElse(df)

  private def schemaOfMeta(m: Metadata): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(m.schemaString)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  /** Non-bootstrap appends must match the logged schema (fail BEFORE bytes
    * when possible: a mismatched append would read back with missing
    * columns null, new columns invisible, type changes failing at scan). */
  private[graft] def checkAppendSchema(meta: Option[Metadata], tablePath: String,
      schema: org.apache.spark.sql.types.StructType): Unit =
    meta.foreach { m =>
      // compare LOGICAL names with the mapping pins stripped — batches
      // never carry the mapping layer
      val existing = graft.log.ColumnMapping.stripMeta(schemaOfMeta(m))
      require(org.apache.spark.sql.graftbridge.Bridge.sameType(existing, schema),
        s"batch schema does not match the table schema at $tablePath\n" +
          s"  table: ${existing.catalogString}\n  batch: ${schema.catalogString}")
    }

  private def commitAppend(log: GwLog, schema: org.apache.spark.sql.types.StructType,
      files: Seq[AddFile], txnId: Option[String],
      partitionColumns: Seq[String] = Nil,
      readMeta: Option[Metadata] = None,
      widened: Option[org.apache.spark.sql.types.StructType] = None,
      bootstrapProps: Map[String, String] = Map.empty,
      userMetadata: Option[String] = None): Long =
    GwTxn(log, "WRITE", "Append", GwTxn.Append(readMeta), isBlindAppend = true,
      createTable = true, txnId = txnId, userMetadata = userMetadata)
      .commitOrCreate { fresh =>
        val freshMeta = fresh.flatMap(_.metadata)
        // a mergeSchema widening restates the metadata in THIS commit; the
        // identity advance (if any) builds on the widened copy so one
        // metadata action carries both
        val widenedMeta = (freshMeta, widened) match {
          case (Some(m), Some(w)) => Some(m.copy(schemaString = w.json))
          case _ => None
        }
        val idMeta = identityAdvance(log.tablePath.toString, files,
          widenedMeta.orElse(freshMeta))
        val metaAction: Option[Metadata] = idMeta.orElse(widenedMeta)
        val head: Seq[Action] =
          if (fresh.isEmpty) bootstrap(schema, partitionColumns, bootstrapProps)
          else Nil
        metaAction.toSeq ++ head ++ files
      }

  /** The protocol + metaData pair of a table's first commit. */
  private def bootstrap(schema: org.apache.spark.sql.types.StructType,
      partitionColumns: Seq[String], props: Map[String, String]): Seq[Action] =
    Seq(Protocol(), Metadata(
      id = java.util.UUID.randomUUID().toString,
      schemaString = schema.json,
      partitionColumns = partitionColumns,
      configuration = props,
      createdTime = System.currentTimeMillis()))

  /**
   * Identity-column commit support ([[graft.GwTable.IdentityPrefix]]): from
   * the batch's harvested footer stats, the furthest allocated value per
   * identity column. Two jobs, both inside every [[GwTxn]] attempt, on the
   * snapshot that attempt commits on top of:
   *
   *  - GUARD: the batch's nearest allocated value must lie strictly beyond
   *    the CURRENT watermark in the step's direction. The ids were computed
   *    at plan time from the relation's watermark; if another allocation
   *    landed since (even inside the analysis-to-commit window), committing
   *    would duplicate ids — abort typed instead
   *    ([[graft.log.MetadataChangedException]], same class the
   *    checkAppendState facet raises). This also fails loudly when a write
   *    path that bypasses the ingest rule (direct `df.write`) smuggles NULL
   *    identity values in: all-null stats carry no bounds.
   *  - ADVANCE: return the metadata action moving the watermark to the
   *    batch's furthest value, committed atomically WITH the files.
   */
  private def identityAdvance(table: String, files: Seq[AddFile],
      meta: Option[Metadata]): Option[Metadata] = {
    val m = meta.getOrElse(return None)
    val pfx = graft.GwTable.IdentityPrefix
    val cols = m.configuration.keys.toSeq
      .filter(k => k.startsWith(pfx) && !k.endsWith(".highWaterMark"))
      .map(_.stripPrefix(pfx)).sorted
    if (cols.isEmpty || files.isEmpty) return None
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    var conf = m.configuration
    var changed = false
    cols.foreach { col =>
      val (start, step) = graft.GwTable.parseIdentitySpec(conf(pfx + col))
      val hwKey = s"$pfx$col.highWaterMark"
      val hw = conf.get(hwKey).map(_.toLong).getOrElse(start - step)
      val bounds = files.map { f =>
        val root = mapper.readTree(f.stats.getOrElse(
          throw new IllegalStateException(
            s"identity column '$col' of $table requires footer stats on " +
              s"every committed file; ${f.path} has none")))
        val lo = root.path("minValues").path(col)
        val hi = root.path("maxValues").path(col)
        if (lo.isMissingNode || hi.isMissingNode)
          throw new IllegalStateException(
            s"identity column '$col' of $table has no stats bounds in " +
              s"${f.path} — NULL identity values can only come from a " +
              "write path that bypassed the ingest rule; rejected")
        (lo.asLong(), hi.asLong())
      }
      // nearest = the batch value closest to the watermark; far = furthest
      val (nearest, far) =
        if (step > 0) (bounds.map(_._1).min, bounds.map(_._2).max)
        else (bounds.map(_._2).max, bounds.map(_._1).min)
      val beyond = if (step > 0) nearest > hw else nearest < hw
      if (!beyond) throw new graft.log.MetadataChangedException(table)
      conf += hwKey -> far.toString
      changed = true
    }
    if (changed) Some(m.copy(configuration = conf)) else None
  }

  /** Truncating write (INSERT OVERWRITE): one commit that removes every
    * live file and adds the batch's files — readers switch atomically from
    * the old content to the new; the tombstoned files stay readable for
    * time travel until `vacuum`. An EMPTY batch is a plain TRUNCATE (the
    * remove-all commit still happens, unlike `append`'s no-op). */
  /** `dynamicPartitions = true` is Spark's
    * `partitionOverwriteMode=dynamic` contract: only the partitions the
    * incoming batch actually TOUCHES are replaced — untouched partitions'
    * files are not tombstoned (at 100 TB, restating one day of a
    * date-partitioned table tombstones that day, not the decade). Falls
    * back to the full overwrite on an unpartitioned table, matching
    * Spark's own datasource behavior. */
  def overwrite(df: DataFrame, tablePath: String,
      partitionBy: Seq[String] = Nil, txnId: Option[String] = None,
      bootstrapProps: Map[String, String] = Map.empty,
      userMetadata: Option[String] = None,
      setProps: Map[String, String] = Map.empty,
      dynamicPartitions: Boolean = false): Long = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val log = GwLog.forTable(conf, tablePath)
    GwTxn.replayedVersion(log, txnId).foreach(v => return v)
    val readMeta = tableMeta(log)
    val config = readMeta.map(_.configuration).getOrElse(bootstrapProps)
    checkAppendSchema(readMeta, tablePath, df.schema)
    val parts = effectivePartitioning(readMeta, df, partitionBy)
    val outDir = new Path(tablePath, s"_stream/${java.util.UUID.randomUUID()}")
    // path-face CHECK enforcement, same as append
    val checked = org.apache.spark.sql.graftbridge.GwConstraintRule.enforce(df, config)
    stageWrite(physicalFrame(maybeOptimizeWrite(checked, config, parts), readMeta),
      outDir, parts,
      graft.log.Bloom.parquetWriteOptions(config, readMeta.map(_.schemaString), df.schema))
    val files0: Seq[AddFile] =
      graft.sources.SchemaProbe.harvestPartitioned(conf, outDir,
        dataChange = true, parts, statsCols = statsColumnFilter(config, df.schema))
    if (files0.isEmpty) outDir.getFileSystem(conf).delete(outDir, true)
    val files = graft.log.Bloom.augment(spark, config,
      readMeta.map(_.schemaString), tablePath, files0)
    GwTxn(log, "WRITE", "Overwrite", GwTxn.Append(readMeta), createTable = true,
      txnId = txnId, userMetadata = userMetadata).commitOrCreate {
      case None => bootstrap(df.schema, parts, bootstrapProps) ++ files
      case Some(fresh) =>
        // the watermark only ever ADVANCES: an overwrite replaces content
        // but never reuses identity values (Delta's contract)
        val idMeta0 = identityAdvance(log.tablePath.toString, files, fresh.metadata)
        // property restatement ATOMIC with the content swap (`setProps`):
        // readers see old content + old properties or new + new, never a
        // mix — the REINDEX contract (e.g. an IVF rebuild landing retrained
        // centroids with their reassigned lists in one commit)
        val idMeta =
          if (setProps.isEmpty) idMeta0
          else idMeta0.orElse(fresh.metadata)
            .map(m => m.copy(configuration = m.configuration ++ setProps))
        graft.GwTable.assertNotAppendOnly(
          log.tablePath.toString, fresh, "INSERT OVERWRITE")
        // removes derive from the attempt's snapshot: a conflicting commit
        // may have changed the live set this overwrite must tombstone
        val victims =
          if (!dynamicPartitions || parts.isEmpty) fresh.files
          else {
            // dynamic mode tombstones ONLY the partitions the batch
            // touches; tokens compare exactly because old and new
            // AddFiles render partitionValues through the same harvest
            val touched = files.map(_.partitionValues).toSet
            fresh.files.filter(f => touched.contains(f.partitionValues))
          }
        val now = System.currentTimeMillis()
        idMeta.toSeq ++ victims.map(f => graft.log.RemoveFile(f.path, f.size, now)) ++ files
    }
  }
}
