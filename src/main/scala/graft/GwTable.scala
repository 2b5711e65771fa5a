package graft

import graft.log.{Action, AddFile, GwLog, GwTxn, Metadata, RemoveFile, Snapshot}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, not, sum, when}
import org.apache.spark.sql.graftbridge.GwFileIndex

/**
 * Query surface over an indexed table (SURVEY.md §3.3): log replay -> a
 * parquet scan over the logged files ([[GwFileIndex]]). The replay is pure
 * driver-side metadata work; the scan itself is Spark's own vectorized
 * parquet scan, so column pruning, predicate pushdown and AQE all apply
 * untouched. Time travel = `VERSION AS OF` semantics of the reference's
 * README.md:81-84.
 */
final class GwTable private (spark: SparkSession, tablePath: String) {
  private val gwLog = GwLog.forTable(spark.sparkContext.hadoopConfiguration, tablePath)

  def log: GwLog = gwLog

  def snapshot(versionAsOf: Option[Long] = None): Snapshot = gwLog.snapshot(versionAsOf)

  /** Latest version. */
  def toDF: DataFrame = asDF(None)

  def versionAsOf(version: Long): DataFrame = asDF(Some(version))

  /** Greatest version whose commit timestamp is <= `ts`. */
  def timestampAsOf(ts: Long): DataFrame =
    versionAsOf(gwLog.versionAtTimestamp(ts))

  /** Greatest version at or before `tsMillis` (the `TIMESTAMP AS OF` /
    * `RESTORE TO TIMESTAMP AS OF` clock — in-commit timestamps when the
    * table records them). */
  def versionAtTimestamp(tsMillis: Long): Long =
    gwLog.versionAtTimestamp(tsMillis)

  /** Incremental consumption: everything a downstream pipeline still has
    * to process after having consumed up to `sinceVersion`, computed by
    * walking the log's per-version actions (metadata only, no data read):
    *
    *  - normal case: the union of `dataChange = true` AddFiles committed in
    *    `(sinceVersion, latest]`. A later compaction may have REMOVED such
    *    a file from the live set, but its bytes survive until `vacuum`'s
    *    retention passes, so the increment is still served from the
    *    original files (consume within the retention window);
    *  - a restatement in the range (any `metaData` action — appends never
    *    carry one) replaced the table: an "increment" is undefined, so the
    *    call FAILS like the streaming source does — an appending consumer
    *    must truncate and reload `toDF` instead of stacking the restated
    *    table on top of stale rows. */
  def changesSince(sinceVersion: Long): DataFrame = {
    val latest = gwLog.snapshot(None)
    // a watermark beyond the log means the log was rebuilt under the
    // consumer (e.g. an Overwrite re-index) — silence here would read as
    // "caught up" and the consumer would permanently miss the rebuilt table
    require(sinceVersion <= latest.version,
      s"changesSince($sinceVersion) is beyond the log's latest version " +
        s"${latest.version} at $tablePath — the table was rebuilt; " +
        "restart consumption from a full snapshot")
    val range = (sinceVersion + 1) to latest.version
    val actions = range.flatMap(v => gwLog.readVersion(v))
    if (actions.exists(_.isInstanceOf[Metadata]))
      throw new IllegalStateException(
        s"changesSince($sinceVersion) at $tablePath crosses a schema " +
          "restatement: the table was replaced, so no increment exists — " +
          "truncate the sink and reload from toDF")
    // last add per path wins (a path re-asserted twice is one file). An add
    // carrying a deletion vector is a merge-on-read DELETE re-assertion —
    // no NEW data, so an appending consumer gets nothing from it (the same
    // contract as a copy-on-write delete's tombstones; deletes don't flow
    // through changesSince).
    val byPath = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    actions.foreach {
      case a: AddFile if a.dataChange && a.dv.isEmpty => byPath(a.path) = a
      case _ => ()
    }
    Dv.readLive(spark, latest.schema, byPath.values.toSeq)
  }

  /**
   * Compaction (OPTIMIZE): rewrite the snapshot's small files into
   * ~`targetFileBytes` files under `<table>/_compacted/`, committed as
   * `dataChange = false` adds/removes — readers see fewer files, while
   * streaming tails and `changesSince` correctly emit nothing.
   *
   * This is OPT-IN maintenance and the one place the engine writes data:
   * the indexer itself never moves bytes (shallow clone), but CDA drops
   * thousands of small files per table over time and a 100 TB reader pays
   * per-file open costs forever without consolidation.
   *
   * `clusterBy` additionally range-partitions and sorts the rewrite on the
   * given columns (the OPTIMIZE ... ZORDER role): each output file covers
   * a disjoint range, so its harvested min/max become tight and the
   * stats-based file skipping (`GwPruningScan`) can drop whole files for
   * selective predicates on those columns. CDA tables are commit-time
   * ordered but query-time filtered on BUSINESS time/keys — one clustered
   * rewrite converts that mismatch into file-level locality.
   *
   * Returns the committed version, or -1 if there was nothing to compact.
   */
  def compact(targetFileBytes: Long = 128L * 1024 * 1024,
      clusterBy: Seq[String] = Nil): Long =
    compact(targetFileBytes, clusterBy, None)

  /** [[compact]] with an optional partition predicate (the
    * `OPTIMIZE ... WHERE` surface): only files whose partition tuple
    * satisfies the predicate are rewritten — maintenance windows touch the
    * hot partitions without paying for the whole table. On a partitioned
    * table, compaction groups by partition tuple (a rewrite may never merge
    * rows across partition values) and the rewritten AddFiles carry their
    * group's `partitionValues`, so partition pruning and `numPartitions`
    * survive OPTIMIZE unchanged. The predicate may reference partition
    * columns only, and is evaluated driver-side over one row per distinct
    * live partition tuple — metadata scale, never a data scan. */
  def compact(targetFileBytes: Long, clusterBy: Seq[String],
      partitionPredicate: Option[Column]): Long = {
    import org.apache.spark.sql.functions.col
    val conf = spark.sparkContext.hadoopConfiguration
    val snap = gwLog.snapshot(None)
    val partCols = snap.metadata.map(_.partitionColumns).getOrElse(Nil)
    require(partitionPredicate.isEmpty || partCols.nonEmpty,
      "OPTIMIZE ... WHERE selects partition values, but the table is " +
        "unpartitioned — drop the WHERE clause")
    // liquid-style declared clustering: OPTIMIZE without an explicit
    // ZORDER BY applies the table's graft.clusterBy property
    val effectiveClusterBy =
      if (clusterBy.nonEmpty) clusterBy
      else snap.metadata.flatMap(_.configuration.get(GwTable.ClusterByProp))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    effectiveClusterBy.foreach { c =>
      require(snap.schema.fieldNames.contains(c),
        s"clusterBy column '$c' is not in the table schema " +
          s"(${snap.schema.fieldNames.mkString(", ")})")
    }
    val small0 = snap.files.filter(_.size < targetFileBytes)
    val small = partitionPredicate match {
      case None => small0
      case Some(p) =>
        val keptTuples = keepPartitionTuples(
          small0.map(f => partCols.map(c => f.partitionValues.getOrElse(c, null)))
            .distinct,
          partCols, snap.schema, p)
        small0.filter(f =>
          keptTuples.contains(partCols.map(c => f.partitionValues.getOrElse(c, null))))
    }
    // group by partition tuple: a rewrite must never merge rows across
    // partition values (and each group's AddFiles re-assert those values)
    val groups: Seq[(Map[String, String], Seq[AddFile])] =
      if (partCols.isEmpty) Seq(Map.empty[String, String] -> small)
      else small.groupBy(_.partitionValues).toSeq.sortBy(_._1.toSeq.mkString("|"))
    val groupsToDo = groups.filter(_._2.size >= 2)
    if (groupsToDo.isEmpty) return -1L
    val now = System.currentTimeMillis()
    val rewritten: Seq[Action] = GwTable.concurrentGroups(groupsToDo) { case (partVals, files) =>
      val outDir = new Path(tablePath, s"_compacted/${java.util.UUID.randomUUID()}")
      val nOut = math.max(1, math.ceil(
        files.map(_.size).sum.toDouble / targetFileBytes).toInt)
      // live rows only: compaction is what FOLDS deletion vectors away —
      // the rewritten files carry no DV and the originals tombstone out
      val base = Dv.readLive(spark, snap.schema, files)
      val arranged =
        if (effectiveClusterBy.isEmpty) base.repartition(nOut)
        else if (effectiveClusterBy.size == 1) base
          .repartitionByRange(nOut, effectiveClusterBy.map(col): _*)
          .sortWithinPartitions(effectiveClusterBy.map(col): _*)
        else {
          // multi-column clustering is true Z-ORDER: a lexicographic range
          // sort would leave every non-leading column spanning the full
          // range per file (no stats skipping on them); interleaving the
          // rank-bucket bits tiles the space so EVERY listed column gets
          // tight per-file min/max (graft.functions.ZOrder)
          val est = {
            val ns = files.map(Dv.numRecords)
            if (ns.forall(_.isDefined))
              ns.flatten.sum - files.flatMap(_.dv).map(_.cardinality).sum
            else base.count()
          }
          val z = graft.functions.ZOrder.zvalue(base, effectiveClusterBy, est)
          base.withColumn("__gw_zvalue", z)
            .repartitionByRange(nOut, col("__gw_zvalue"))
            .sortWithinPartitions(col("__gw_zvalue"))
            .drop("__gw_zvalue")
        }
      // parquet-native rowgroup blooms thread through the rewrite too —
      // rowgroup-level skipping inside the (large) compacted files, on
      // top of the file-level blooms rebuilt below
      graft.log.ColumnMapping.toPhysicalDf(arranged, snap.schema)
        .write.mode("overwrite")
        .options(graft.log.Bloom.parquetWriteOptions(
          snap.metadata.map(_.configuration).getOrElse(Map.empty),
          snap.metadata.map(_.schemaString), snap.schema))
        .parquet(outDir.toString)
      val adds0 = graft.sources.SchemaProbe
        .harvestPartitioned(conf, outDir, dataChange = false, Nil,
          statsCols = graft.streaming.GwSink.statsColumnFilter(
            snap.metadata.map(_.configuration).getOrElse(Map.empty), snap.schema))
        .map(_.copy(partitionValues = partVals))
      // REBUILD the engine-level file blooms on the rewritten files
      // (declared graft.bloom.columns): without this, every OPTIMIZE
      // permanently demotes point-lookup pruning from file-level to
      // rowgroup-level on the compacted mass — precisely the big, old,
      // many-times-compacted files a 100 TB table is mostly made of. One
      // extra columnar pass over the freshly rewritten files, the same
      // cost contract as the append-side build; no-op without the property.
      val adds = graft.log.Bloom.augment(spark,
        snap.metadata.map(_.configuration).getOrElse(Map.empty),
        snap.metadata.map(_.schemaString), tablePath, adds0)
      val removes = files.map(f =>
        RemoveFile(f.path, f.size, now, dataChange = false,
          partitionValues = f.partitionValues))
      adds ++ removes
    }
    // conflict-checked commit: a compaction re-adds every row of the files
    // it read, so a concurrent DML that removed one of them (or grew its
    // deletion vector) mid-rewrite would be silently UNDONE — rows
    // resurrected — if this committed blindly. Retry past benign winners
    // (appends land files this rewrite never touched); abort with the
    // typed taxonomy when the plan is invalidated (graft.log.Occ).
    GwTxn(gwLog, "OPTIMIZE", "Compact",
      GwTxn.Rewrite(Some(snap), deletes = groupsToDo.flatMap(_._2)))
      .commit(_ => rewritten)
  }

  /** Which of `tuples` (partition-column string values, in `partCols`
    * order) satisfy `predicate` — values cast to the table types first, so
    * `WHERE n_regionkey = 2` works on the stringly-stored tuple. One local
    * row per tuple; metadata scale. */
  private def keepPartitionTuples(tuples: Seq[Seq[String]], partCols: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      predicate: Column): Set[Seq[String]] = {
    import org.apache.spark.sql.functions.col
    if (tuples.isEmpty) return Set.empty
    val raw = org.apache.spark.sql.types.StructType(
      partCols.map(c => org.apache.spark.sql.types.StructField(
        s"__raw_$c", org.apache.spark.sql.types.StringType)))
    val rows: Seq[Row] = tuples.map(Row.fromSeq)
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), raw)
    val typed = partCols.foldLeft(df) { (d, c) =>
      d.withColumn(c, col(s"__raw_$c").cast(schema(c).dataType))
    }
    val kept =
      try typed.filter(predicate).collect()
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"OPTIMIZE ... WHERE may reference partition columns only " +
              s"(${partCols.mkString(", ")}): ${e.getMessage}", e)
      }
    kept.map(r => partCols.map(c => r.getAs[String](s"__raw_$c")))
      .map(_.toSeq).toSet
  }

  /**
   * Vacuum: physically delete engine-written data files whose REMOVAL from
   * the live set is older than `retentionMs` — retention is measured from
   * the remove tombstone's deletionTimestamp (like delta), NOT from the
   * file's mtime: an output written long ago but superseded only a minute
   * ago must survive the full window so time travel and in-flight
   * `changesSince` consumers can still read it. ONLY files under the
   * engine-owned namespaces — `<table>/_compacted/` (compaction rewrites),
   * `<table>/_stream/` (GwSink batches), `<table>/_dml/` (DELETE
   * rewrites) and `<table>/_clone/` (deep-clone copies) — are candidates:
   * the original
   * CDA files are a read-only source tree the engine shallow-clones and
   * must never delete. Engine outputs never referenced by any commit
   * (crash debris, e.g. a sink batch written but not committed) are swept
   * by file mtime. Returns the number of files deleted.
   */
  def vacuum(retentionMs: Long = 7L * 24 * 3600 * 1000): Int = {
    // Delta's retention guard: a vacuum under the time-travel/streaming
    // retention window can reap files a concurrent reader (or an
    // in-flight-but-uncommitted write) still needs. Short retention is a
    // deliberate act — disable the check explicitly, like Delta's
    // retentionDurationCheck.enabled.
    val checkOn = spark.conf
      .getOption("spark.graft.vacuum.retentionCheck").forall(_.toBoolean)
    require(!checkOn || retentionMs >= 7L * 24 * 3600 * 1000,
      s"vacuum retention ${retentionMs}ms is below the 7-day default; " +
        "readers time-traveling or streaming within the window could lose " +
        "files mid-query. Set spark.graft.vacuum.retentionCheck=false to " +
        "force a short retention deliberately")
    vacuumImpl(retentionMs, dryRun = false).size
  }

  /** `VACUUM ... DRY RUN`: the files a vacuum at `retentionMs` WOULD
    * delete, without touching anything — preview an aggressive retention
    * before committing to it, so the guard does not apply here. */
  /**
   * `GENERATE symlink_format_manifest FOR TABLE t` (Delta parity): write
   * the Hive-symlink manifest layout external engines (Presto / Trino /
   * Athena) read a Delta table through —
   * `_symlink_format_manifest/[<col>=<val>/...]manifest`, one text file
   * per live partition tuple listing its data files' absolute URIs, the
   * unpartitioned table as the single root manifest. Regeneration is a
   * full swap: the previous manifest tree is deleted first, so a
   * partition whose rows were all removed never leaves a stale manifest
   * behind pointing external readers at tombstoned files. Writes run
   * with the same bounded driver-side concurrency as the OPTIMIZE group
   * rewrites ([[GwTable.concurrentGroups]]) — one small file per
   * partition tuple, metadata scale. Returns the number of manifest
   * files written.
   *
   * The manifest is a SNAPSHOT export, not a live view: external readers
   * see the table as of generation until the next GENERATE (exactly
   * Delta's contract — pair it with a post-commit hook or scheduled
   * regeneration in production).
   */
  def generateSymlinkManifest(): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val snap = gwLog.snapshot(None)
    val root = new Path(tablePath, "_symlink_format_manifest")
    val fs = root.getFileSystem(conf)
    fs.delete(root, true)
    val partCols = snap.metadata.map(_.partitionColumns).getOrElse(Nil)
    val groups: Seq[(Seq[String], Seq[AddFile])] =
      if (partCols.isEmpty) Seq(Nil -> snap.files)
      else snap.files.groupBy(f => partCols.map(c =>
        s"$c=${f.partitionValues.getOrElse(c, "__HIVE_DEFAULT_PARTITION__")}"))
        .toSeq.sortBy(_._1.mkString("/"))
    val written = GwTable.concurrentGroups(groups.filter(_._2.nonEmpty)) {
      case (dirs, files) =>
        val dir = dirs.foldLeft(root)(new Path(_, _))
        fs.mkdirs(dir)
        val out = fs.create(new Path(dir, "manifest"), true)
        try files.map(f => fs.makeQualified(new Path(f.path)).toUri.toString)
          .sorted.foreach(u => out.write((u + "\n").getBytes("UTF-8")))
        finally out.close()
        Seq(1)
    }
    written.sum
  }

  /**
   * `ANALYZE TABLE t COMPUTE DELTA STATISTICS` parity: METADATA-ONLY
   * stats backfill for live files whose harvested stats predate the
   * table's current stats declaration — files committed before
   * `graft.stats.columns` was set (or adopted via CONVERT/index paths
   * with stats off, or carrying pre-micros v1 stats) keep their old
   * stats forever otherwise, so declaring skipping columns on an
   * existing 100 TB table would buy nothing until every file was
   * rewritten. This re-reads ONLY parquet footers (distributed, one
   * footer per target file — no data rewrite, no row movement) and
   * re-asserts the AddFiles with fresh stats in one `dataChange = false`
   * commit.
   *
   * A file is a target when it has no stats JSON, pre-v2 (raw-millis
   * timestamp) stats, or has never harvested one of the
   * currently-declared atomic columns; `allFiles = true` re-harvests
   * every live file regardless (Delta's ANALYZE semantics).
   *
   * Concurrency: the commit is OCC-checked and REBASED — each target's
   * CURRENT AddFile (fresh snapshot at commit time) receives the new
   * stats, so a concurrent MOR DELETE's deletion vector or row-tracking
   * metadata is never clobbered by this command's older view, and
   * targets removed mid-flight simply drop out.
   *
   * `maxFilesPerCommit` bounds the DRIVER: a commit's JSON must hold one
   * re-asserted AddFile per target, so a 10M-file backfill runs as a
   * sequence of bounded `dataChange=false` commits instead of one
   * driver-OOM-sized action list — partial progress is always valid
   * table state (stats derive from immutable file bytes), and a crashed
   * backfill just resumes with fewer remaining targets. Returns the
   * number of files whose stats were refreshed.
   */
  def computeStats(allFiles: Boolean = false,
      maxFilesPerCommit: Int = 1 << 20): Int = {
    require(maxFilesPerCommit >= 1,
      s"maxFilesPerCommit must be >= 1: $maxFilesPerCommit")
    val snap = snapshot()
    val tableConf = snap.metadata.map(_.configuration).getOrElse(Map.empty)
    if (snap.metadata.exists(_.schemaString
        .contains(graft.log.ColumnMapping.PhysicalNameKey)))
      throw new UnsupportedOperationException(
        "COMPUTE STATISTICS on a column-mapped table is not supported " +
          "(footer stats are keyed by physical names)")
    val statsCols = graft.streaming.GwSink.statsColumnFilter(tableConf, snap.schema)
    // the columns a complete harvest would cover: declared ∩ atomic
    // top-level schema fields (nested/array columns never carry
    // single-chunk footer stats and must not flag files forever)
    val want: Set[String] = {
      val atomic = snap.schema.fields.collect {
        case f if org.apache.spark.sql.graftbridge
          .GwRuntimeFilterTranslation.atomic(f.dataType) => f.name.toLowerCase
      }.toSet
      statsCols.map(_.intersect(atomic)).getOrElse(atomic)
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def needs(f: AddFile): Boolean = f.stats match {
      case None => true
      case Some(s) => scala.util.Try {
        val root = mapper.readTree(s)
        root.path("gwStatsV").asInt(0) < 2 || {
          val have = scala.jdk.CollectionConverters
            .IteratorHasAsScala(root.path("nullCount").fieldNames())
            .asScala.map(_.toLowerCase).toSet
          !want.subsetOf(have)
        }
      }.getOrElse(true)
    }
    val targets = if (allFiles) snap.files else snap.files.filter(needs)
    if (targets.isEmpty) return 0
    val sconf = new graft.SerializableHadoopConf(
      spark.sparkContext.hadoopConfiguration)
    // BATCHED commits (`maxFilesPerCommit`): the driver only ever holds
    // one batch's stats strings and one batch's AddFile re-assertions —
    // a 10M-file backfill is a sequence of bounded metadata commits, not
    // one driver-OOM-sized JSON. Each batch rebases onto the CURRENT
    // snapshot independently (stats derive from immutable file bytes, so
    // partial progress is always valid table state).
    var refreshed = 0
    targets.grouped(maxFilesPerCommit).foreach { batch =>
      // distributed footer re-harvest: executors read footers only and
      // ship one small JSON string per file back — metadata scale
      val paths = batch.map(_.path)
      val par = math.max(1, math.min(paths.size,
        spark.sparkContext.defaultParallelism))
      val harvested: Map[String, String] = spark.sparkContext
        .parallelize(paths, par)
        .mapPartitions { it =>
          it.flatMap(p => graft.sources.SchemaProbe
            .readStats(sconf.value, p, statsCols).map(p -> _))
        }.collect().toMap
      if (harvested.nonEmpty) {
        var committed = 0 // assigned per OCC attempt; added once on success
        try {
          GwTxn(gwLog, "COMPUTE STATISTICS", "Analyze", GwTxn.Rewrite(Some(snap)),
              numOutputBytes = Some(0L)).commit { fresh =>
            val liveNow = fresh.files.map(f => f.path -> f).toMap
            // rebase onto the files as they are NOW: stats derive from the
            // immutable file bytes, so they graft onto whatever
            // DV/row-tracking state the current AddFile carries
            val adds: Seq[Action] = harvested.keys.toSeq.sorted.flatMap(p =>
              liveNow.get(p).map(cur =>
                cur.copy(stats = Some(harvested(p)), dataChange = false)))
            if (adds.isEmpty) throw new GwTable.NothingToCommit
            committed = adds.size
            adds
          }
          refreshed += committed
        } catch { case _: GwTable.NothingToCommit => () }
      }
    }
    refreshed
  }

  def vacuumDryRun(retentionMs: Long = 7L * 24 * 3600 * 1000,
      lite: Boolean = false): Seq[String] =
    vacuumImpl(retentionMs, dryRun = true, lite = lite)

  /** `VACUUM ... LITE` (Delta 4.0 parity): reclaim ONLY what the log's
    * remove tombstones name — no filesystem listing at all. The debris
    * sweep (uncommitted crash output) is the part of a full vacuum whose
    * cost is a recursive LISTING of the table's owned namespaces; at
    * 100 TB that listing dominates, while the tombstone-driven deletes
    * are metadata-priced (candidates come from the log, deletes
    * distribute). LITE after every OPTIMIZE keeps storage bounded for
    * pennies; run a FULL vacuum occasionally to mop up crash debris.
    * Same retention guard as the full form. Returns files deleted. */
  def vacuumLite(retentionMs: Long = 7L * 24 * 3600 * 1000): Int = {
    val checkOn = spark.conf
      .getOption("spark.graft.vacuum.retentionCheck").forall(_.toBoolean)
    require(!checkOn || retentionMs >= 7L * 24 * 3600 * 1000,
      s"vacuum retention ${retentionMs}ms is below the 7-day default; " +
        "readers time-traveling or streaming within the window could lose " +
        "files mid-query. Set spark.graft.vacuum.retentionCheck=false to " +
        "force a short retention deliberately")
    vacuumImpl(retentionMs, dryRun = false, lite = true).size
  }

  private def vacuumImpl(retentionMs: Long, dryRun: Boolean,
      lite: Boolean = false): Seq[String] = {
    // vacuumProtocolCheck (Delta parity): vacuum deletes files, so it
    // must pass the WRITER protocol gate even though it commits nothing —
    // a downlevel writer that doesn't understand a feature (deletion
    // vectors, say) would otherwise reap sidecars the feature still
    // reads through. The table feature's whole point is forcing this
    // check; this engine performs it unconditionally.
    gwLog.snapshot(None).protocol.foreach(p =>
      graft.log.Protocol.assertWritable(tablePath.toString, p))
    val conf = spark.sparkContext.hadoopConfiguration
    val ownedDirs = Seq("_compacted", "_stream", "_dml", "_dv", "_change_data",
        "_clone", "_bloom")
      .map(new Path(tablePath, _))
    val fs = ownedDirs.head.getFileSystem(conf)
    val presentDirs = ownedDirs.filter(fs.exists)
    if (presentDirs.isEmpty) return Nil
    // ALL membership sets hold uriKeys: the log stores paths as written
    // (possibly scheme-less) while fs.listFiles returns fully-qualified
    // `file:/...` URIs — comparing raw strings would make every lookup
    // miss and the debris sweep would reap LIVE files (DV sidecars above
    // the age floor, most dangerously)
    val liveSnap = gwLog.snapshot(None)
    val live = liveSnap.files.map(f => GwTable.uriKey(f.path)).toSet
    val cutoff = System.currentTimeMillis() - retentionMs
    val markers = Seq("/_compacted/", "/_stream/", "/_dml/", "/_dv/",
      "/_change_data/", "/_clone/", "/_bloom/")
    def owned(p: String): Boolean = markers.exists(p.contains)
    // walk the log once: latest removal tombstone per engine-owned path (a
    // later re-add cancels it) + every owned path any commit ever referenced
    // — including on-disk DV sidecars, which carry no actions of their own
    // but must outlive every version whose adds point at them (time travel)
    val removedAt = scala.collection.mutable.Map.empty[String, Long]
    val referenced = scala.collection.mutable.Set.empty[String]
    // the LIVE snapshot's on-disk DV sidecars must be referenced from the
    // SNAPSHOT, not only the log walk: after metadata cleanup
    // (cleanupExpiredLogs) the add-commit that introduced a still-live DV
    // may be gone, and the sweep below must never reap a sidecar the
    // current table state reads through
    liveSnap.files.flatMap(_.dv).filter(_.isOnDisk)
      .foreach(d => referenced += GwTable.uriKey(d.pathOrInlineDv))
    // bloom sidecars referenced by the LIVE snapshot's stats, same reason
    liveSnap.files.flatMap(graft.log.Bloom.sidecarPaths)
      .foreach(p => referenced += GwTable.uriKey(p))
    gwLog.listVersions().foreach { v =>
      gwLog.readVersion(v).foreach {
        case r: graft.log.RemoveFile if owned(r.path) =>
          removedAt(r.path) = r.deletionTimestamp
        case a: AddFile =>
          if (owned(a.path)) {
            referenced += GwTable.uriKey(a.path)
            removedAt -= a.path
          }
          a.dv.filter(_.isOnDisk).foreach(d =>
            referenced += GwTable.uriKey(d.pathOrInlineDv))
          // bloom sidecars live as long as any log version's adds
          // reference them (the DV lifetime policy)
          graft.log.Bloom.sidecarPaths(a).foreach(p =>
            referenced += GwTable.uriKey(p))
        // change-data files are referenced by their commit for as long as
        // the log serves that version (same lifetime policy as on-disk DV
        // sidecars); only UNCOMMITTED cdc output is debris-swept
        case c: graft.log.CdcFile =>
          referenced += GwTable.uriKey(c.path)
        case _ => ()
      }
    }
    val affected = Seq.newBuilder[String]
    // tombstone-driven deletes: candidates come from the LOG (never a
    // listing); past the distribution threshold the deletes themselves
    // ship to executors — a post-OPTIMIZE vacuum at 100 TB has millions
    // of tombstones, and sequential driver-side object-store deletes at
    // ~50/s would take days
    val tombCands = removedAt.iterator.collect {
      case (p, removedTs)
        if !live.contains(GwTable.uriKey(p)) && removedTs < cutoff => p
    }.toSeq
    affected ++= GwTable.sweepPaths(spark, conf, tombCands, dryRun)
    // crash debris: data files in owned namespaces that no commit
    // references. mtime cannot distinguish true debris from an IN-FLIGHT
    // write (a sink batch written but not yet committed), so the sweep
    // applies a minimum age floor regardless of how short `retentionMs`
    // is — an uncommitted write older than the floor is a real crash.
    // The recursive LISTING is the other 100 TB cost: it shards by
    // top-level child (one cheap listStatus per owned dir), and past the
    // threshold each shard lists + filters + deletes on an executor.
    // LITE mode skips this stage entirely — log-named deletes only,
    // zero filesystem listing (Delta's VACUUM LITE contract).
    if (!lite) {
      val debrisCutoff = math.min(cutoff,
        System.currentTimeMillis() - GwTable.DebrisMinAgeMs)
      val shards = presentDirs.flatMap(dir =>
        fs.listStatus(dir).map(_.getPath.toString))
      affected ++= GwTable.sweepDebris(spark, conf, shards,
        referenced.toSet ++ live, debrisCutoff, dryRun)
    }
    affected.result()
  }

  /** Metadata retention: delete version JSONs below the newest checkpoint
    * that are older than `retentionMs`, plus superseded checkpoints —
    * bounds `_delta_log` growth on long-lived tables (the listing itself
    * is the bottleneck at thousands of commits/day). Runs automatically
    * at checkpoint cadence when `graft.enableExpiredLogCleanup = true`
    * (retention from `graft.logRetentionMs`, default 30 days). See
    * [[graft.log.GwLog.cleanupExpiredLogs]] for exact semantics. */
  def cleanupMetadata(retentionMs: Long = graft.log.GwLog.DefaultLogRetentionMs): Int =
    gwLog.cleanupExpiredLogs(retentionMs)

  /**
   * Row-level DELETE (copy-on-write): remove every row matching `cond` in
   * one atomic commit — the SQL `DELETE FROM t WHERE ...` surface routes
   * here through the connector's `SupportsDelete`. Work stays proportional
   * to the predicate, not the table:
   *
   *  1. stats pruning — files whose harvested min/max PROVE no row can
   *     match are never opened (the 100 TB majority under a selective
   *     predicate), exactly the read path's skipping logic;
   *  2. one distributed count pass over the surviving candidates
   *     classifies each file: untouched (0 hits), fully matching (every
   *     row hits — tombstoned metadata-only, no bytes move), or partial;
   *  3. only partial files are rewritten (their kept rows, under
   *     `<table>/_dml/`) and swapped in with the tombstones in a single
   *     commit, so readers switch atomically.
   *
   * `cond` evaluating to NULL keeps the row (SQL DELETE semantics).
   * Removed rows stay time-travelable until `vacuum`. Returns the
   * committed version, or -1 when no row matched (no commit written).
   */
  def delete(cond: Column): Long = delete(cond, mergeOnRead = false)

  /** [[delete]], selecting the rewrite strategy. `mergeOnRead = true` never
    * rewrites data: partially-matching files get a DELETION VECTOR — a
    * sidecar of deleted row positions re-asserted on the same AddFile — and
    * scans reconcile at read time. The right tool when the predicate is
    * broad relative to file layout (a copy-on-write DELETE at 100 TB can
    * rewrite most of the table in one commit); copy-on-write stays the
    * default, and `compact()` folds accumulated DVs back into clean files.
    * Fully-matching files tombstone metadata-only under BOTH strategies. */
  def delete(cond: Column, mergeOnRead: Boolean): Long = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val snap = gwLog.snapshot(None)
    if (snap.files.isEmpty) return -1L
    if (resolveCond(snap, cond) == Literal.TrueLiteral) return truncate()
    val (fullFiles, partialFiles, _) = classifyByPredicate(snap, cond)
    if (fullFiles.isEmpty && partialFiles.isEmpty) return -1L
    val hit = coalesce(cond, lit(false))
    // CDF: the deleted rows are exactly the matched LIVE rows — a fully
    // matching file contributes all its live rows, a partial one its hits
    val cdc: Seq[Action] =
      if (!Cdc.enabled(snap)) Nil
      else Cdc.write(spark, tablePath, snap,
        Dv.readLive(spark, snap.schema, fullFiles)
          .unionAll(Dv.readLive(spark, snap.schema, partialFiles).filter(hit))
          .withColumn(Cdc.ChangeTypeCol, lit(Cdc.Delete)))
    if (!mergeOnRead) {
      val newAdds: Seq[AddFile] =
        if (partialFiles.isEmpty) Nil
        else rewriteFiles(snap, partialFiles,
          df => df.filter(not(hit)).coalesce(math.max(1, partialFiles.size)))
      commitDml("DELETE", fullFiles ++ partialFiles, newAdds, Some(snap), cdc)
    } else {
      val dvAdds = buildDvAdds(snap, partialFiles, hit)
      // a DV now covering EVERY physical row upgrades to a plain remove
      val (emptied, kept) = dvAdds.partition { case (_, f) =>
        Dv.numRecords(f).exists(n => f.dv.exists(_.cardinality >= n))
      }
      commitMor("DELETE", fullFiles ++ emptied.map(_._1), kept, Nil,
        readSnap = Some(snap), cdc = cdc)
    }
  }

  /** Re-assert `files` with deletion vectors grown by the positions of
    * every row matching `hit` (rows an earlier DV already deleted union
    * in harmlessly). Each file's bitmap is built by the EXECUTORS
    * ([[graft.functions.DvPositionsAgg]], map-side combining, one
    * exchange of packed position blobs), and the sidecars are WRITTEN by
    * the executors too ([[Dv.writeDvsDistributed]], one per task); the
    * driver collects descriptors only — O(DV'd files), independent of how
    * many rows the predicate deletes.
    * Returns (original snapshot entry, DV'd re-assertion) pairs — the
    * commit needs the original to detect concurrent mutation. */
  private def buildDvAdds(snap: Snapshot, files: Seq[AddFile],
      hit: Column): Seq[(AddFile, AddFile)] =
    if (files.isEmpty) Nil
    else {
      import spark.implicits._
      val newRows = GwFileIndex.frame(spark, snap.schema, files)
        .filter(hit)
        .select(col("_metadata.file_path").as("enc_path"),
          col("_metadata.row_index").as("pos"))
        .join(org.apache.spark.sql.functions.broadcast(Dv.pathMapping(spark, files)),
          Seq("enc_path"))
        .select("dv_path", "pos")
      // ONE map-side-combining aggregate, not distinct()+groupByKey: each
      // input partition packs its positions per file locally and the
      // single exchange carries packed blobs, not per-row (path, pos)
      // Tungsten rows twice over; eval sorts+dedups, which is what the
      // distinct() bought (see DvPositionsAgg scaladoc)
      val perFile = newRows
        .unionByName(Dv.positionsDF(spark, files))
        .groupBy(col("dv_path"))
        .agg(graft.functions.DvPositionsAgg(col("pos")).as("dv"))
        .select(col("dv_path"), col("dv.bitmap"), col("dv.card"))
        .as[(String, Array[Byte], Long)]
      // sidecars written WHERE the bitmaps land (one per task); the driver
      // collects descriptors only — O(DV'd files), never O(deleted rows)
      val descs = Dv.writeDvsDistributed(spark, tablePath, perFile)
      files.map { f =>
        val d = descs.getOrElse(GwTable.uriKey(f.path),
          throw new IllegalStateException(
            s"no deletion vector built for classified file ${f.path} — " +
              "rows changed under the operation; re-run"))
        f -> f.copy(dv = Some(d))
      }
    }

  /** One atomic merge-on-read commit: tombstone `removes` (exact snapshot
    * entries), re-assert `dvPairs` (original -> DV'd copy), add `newAdds`
    * (UPDATE's updated-row files). The live entry for every removed or
    * re-asserted path must EQUAL the original this operation classified —
    * a concurrent commit that replaced a file (resurrect/double-remove) or
    * grew its deletion vector (whose deletes this re-assertion would
    * silently drop) aborts the operation instead. */
  private def commitMor(operation: String, removes: Seq[AddFile],
      dvPairs: Seq[(AddFile, AddFile)], newAdds: Seq[AddFile],
      verify: Seq[AddFile] = Nil, readSnap: Option[Snapshot] = None,
      cdc: Seq[Action] = Nil): Long =
    // tombstoned + DV-re-asserted files are this op's DELETES; untouched
    // candidates it only read classify separately (Occ taxonomy); the
    // re-asserted copies move no bytes
    GwTxn(gwLog, operation, "MergeOnRead",
      GwTxn.Rewrite(readSnap, deletes = removes ++ dvPairs.map(_._1), reads = verify),
      numOutputBytes = Some(newAdds.map(_.size).sum)).commit { fresh =>
      GwTable.assertNotAppendOnly(tablePath, fresh, operation)
      val now = System.currentTimeMillis()
      removes.map(f => RemoveFile(f.path, f.size, now)) ++ dvPairs.map(_._2) ++
        newAdds ++ cdc
    }

  /**
   * Connector commit hook for DELTA-BASED row-level SQL DML
   * (`SupportsDelta` — merge-on-read UPDATE / MERGE / DELETE,
   * [[org.apache.spark.sql.graftbridge.GwDeltaRowLevelOperation]]): the
   * write's tasks deliver each touched file's deleted positions as
   * COMPRESSED bitmap chunks; this merges every file's chunks with its
   * existing deletion vector IN EXECUTORS (one small job over the touched
   * files — the driver never materializes positions, only serialized
   * bitmaps), upgrades a DV that now covers every physical row to a plain
   * remove, and lands one atomic merge-on-read commit: grown-DV
   * re-assertions + `newAdds` (the update/insert rows' files).
   *
   * Concurrency: the live entry of EVERY file in `scanned` (the operation's
   * planned candidate set, untouched candidates included — a MERGE decides
   * inserts from rows it read there) must equal the planned entry, or the
   * commit aborts; same contract as the group-based `replaceFiles`.
   *
   * @param deletes logged data-file path -> this operation's serialized
   *                position-bitmap chunks (one per writing task)
   */
  def commitDeltaDml(operation: String, scanned: Seq[AddFile],
      deletes: Seq[(String, Seq[Array[Byte]])], newAdds: Seq[AddFile],
      readSnap: Option[Snapshot] = None): Long = {
    if (deletes.isEmpty && newAdds.isEmpty) return -1L
    val byKey = scanned.map(f => (GwTable.uriKey(f.path), f)).toMap
    val (removes: Seq[AddFile], dvPairs: Seq[(AddFile, AddFile)],
        freshItems: Seq[(String, Array[Byte])]) =
      if (deletes.isEmpty) (Nil, Nil, Nil) else {
      import spark.implicits._
      val conf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
      val items = deletes.map { case (path, chunks) =>
        val f = byKey.getOrElse(GwTable.uriKey(path), throw new IllegalStateException(
          s"delta $operation deleted rows of a file its scan never planned: $path"))
        (path, chunks, f.dv.map(d =>
          (d.storageType, d.pathOrInlineDv, d.offset.getOrElse(-1), d.sizeInBytes)))
      }
      val slices = math.max(1,
        math.min(items.size, spark.sparkContext.defaultParallelism))
      // executor-side: decode this op's chunks + the file's current DV,
      // union, re-serialize; only compressed bytes come back to the driver.
      // The FRESHLY deleted positions (ops minus existing) ride back too —
      // they are this commit's row-level deletes (change feed).
      val merged = spark.createDataset(items).repartition(slices)
        .map { case (path, chunks, dOpt) =>
          val existing = dOpt.map { case (st, pd, off, sz) =>
            Dv.readPositions(conf.value, graft.log.DvDescriptor(
              st, pd, if (off < 0) None else Some(off), sz, 0L))
          }.getOrElse(Array.emptyLongArray)
          java.util.Arrays.sort(existing)
          val ops = chunks.foldLeft(Array.emptyLongArray) { (acc, c) =>
            acc ++ graft.log.RoaringBitmapArray.deserialize(c)
          }
          java.util.Arrays.sort(ops)
          val fresh = ops.distinct
            .filter(p => java.util.Arrays.binarySearch(existing, p) < 0)
          val all = existing ++ fresh
          java.util.Arrays.sort(all)
          (path, graft.log.RoaringBitmapArray.serialize(all), all.length.toLong,
            graft.log.RoaringBitmapArray.serialize(fresh))
        }
        .collect().toSeq
      // a merged DV covering every physical row upgrades to a plain remove
      // BEFORE the sidecar write — no bitmap is framed for a dead file
      val (emptied, kept) = merged.partition { case (path, _, card, _) =>
        Dv.numRecords(byKey(GwTable.uriKey(path))).exists(card >= _)
      }
      val descs = Dv.writeDvs(
        spark.sparkContext.hadoopConfiguration, tablePath,
        kept.map { case (p, b, c, _) => (p, b, c) })
      (emptied.map { case (path, _, _, _) => byKey(GwTable.uriKey(path)) },
        kept.map { case (path, _, _, _) =>
          val f = byKey(GwTable.uriKey(path))
          f -> f.copy(dv = Some(descs(GwTable.uriKey(path))))
        },
        merged.map { case (path, _, _, fresh) => (path, fresh) })
    }
    // CDF: freshly-deleted positions' rows as deletes + the commit's new
    // files (update/insert rows) as inserts — the derived net-change form,
    // identical to what the batch reader's DV diff would produce, persisted
    // so the change-feed STREAM can serve this commit
    val snapForCdc = readSnap.getOrElse(gwLog.snapshot(None))
    val cdc: Seq[Action] =
      if (!Cdc.enabled(snapForCdc)) Nil
      else {
        import spark.implicits._
        val schema = snapForCdc.schema
        val delRows =
          if (freshItems.isEmpty) Dv.readLive(spark, schema, Nil)
          else {
            val files = freshItems.map { case (p, _) => byKey(GwTable.uriKey(p)) }
            val freshPos = spark.createDataset(freshItems)
              .flatMap { case (p, b) =>
                graft.log.RoaringBitmapArray.deserialize(b).map(pos => (p, pos))
              }.toDF("dv_path", "pos")
            Dv.rowsAt(spark, schema, files, freshPos, files, "left_semi")
          }
        val insRows = Dv.readLive(spark, schema, newAdds)
        Cdc.write(spark, tablePath, snapForCdc,
          delRows.withColumn(Cdc.ChangeTypeCol, lit(Cdc.Delete))
            .unionAll(insRows.withColumn(Cdc.ChangeTypeCol, lit(Cdc.Insert))))
      }
    val touchedKeys = (removes ++ dvPairs.map(_._1))
      .map(f => GwTable.uriKey(f.path)).toSet
    commitMor(operation, removes, dvPairs, newAdds,
      verify = scanned.filterNot(f => touchedKeys.contains(GwTable.uriKey(f.path))),
      readSnap = readSnap, cdc = cdc)
  }

  /**
   * Row-level UPDATE (copy-on-write): for every row matching `cond`, each
   * `set` assignment replaces the column's value (cast to the column's
   * logged type, so the table schema is preserved exactly); every other row
   * and column passes through untouched. Same three-tier file handling as
   * [[delete]] — stats pruning, a classifying count pass, rewrite of ONLY
   * the files containing matching rows — except a fully-matching file must
   * of course be rewritten too, not just tombstoned. Assignments may
   * reference any of the table's columns (the pre-update values, SQL UPDATE
   * semantics). Returns the committed version, or -1 when no row matched.
   */
  def update(cond: Column, set: Map[String, Column]): Long =
    update(cond, set, mergeOnRead = false)

  /** [[update]], selecting the rewrite strategy. `mergeOnRead = true` never
    * rewrites the matched files: their matched positions join the deletion
    * vector and the UPDATED copies of those rows land as a NEW file in the
    * same commit — write cost tracks the MATCHED rows, not the files they
    * sit in, which is what survives a broad-predicate UPDATE at 100 TB.
    * Copy-on-write (the default) remains the long-term layout-friendly
    * path; `compact()` folds either way. */
  def update(cond: Column, set: Map[String, Column], mergeOnRead: Boolean): Long = {
    require(set.nonEmpty, "UPDATE needs at least one SET assignment")
    val snap = gwLog.snapshot(None)
    if (snap.files.isEmpty) return -1L
    val fields = snap.schema.fields
    set.keys.foreach { k =>
      require(fields.exists(_.name == k),
        s"SET column '$k' is not in the table schema " +
          s"(${snap.schema.fieldNames.mkString(", ")})")
    }
    resolveCond(snap, cond) // fail on unresolvable predicates before any IO
    val (fullFiles, partialFiles, matchedBytes) = classifyByPredicate(snap, cond)
    val touched = fullFiles ++ partialFiles
    if (touched.isEmpty) return -1L
    val hit = coalesce(cond, lit(false))
    // CDF: preimage = the matched LIVE rows, postimage = the assignments
    // applied to them (pre-update references, SQL UPDATE semantics) —
    // true row pairing, which only the writer can know
    val cdc: Seq[Action] =
      if (!Cdc.enabled(snap)) Nil
      else {
        val pre = Dv.readLive(spark, snap.schema, touched).filter(hit)
        val post = pre.select(fields.map { f =>
          set.get(f.name) match {
            case Some(v) => v.cast(f.dataType).as(f.name)
            case None => col(f.name)
          }
        }.toIndexedSeq: _*)
        Cdc.write(spark, tablePath, snap,
          pre.withColumn(Cdc.ChangeTypeCol, lit(Cdc.UpdatePre))
            .unionAll(post.withColumn(Cdc.ChangeTypeCol, lit(Cdc.UpdatePost))))
      }
    if (!mergeOnRead) {
      // SQL UPDATE evaluates every assignment against the PRE-update row, so
      // one select with per-column conditionals is exactly the semantics
      val projected = fields.map { f =>
        set.get(f.name) match {
          case Some(v) => when(hit, v.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }
      val newAdds = rewriteFiles(snap, touched,
        df => df.select(projected.toIndexedSeq: _*)
          .coalesce(math.max(1, touched.size)))
      commitDml("UPDATE", touched, newAdds, Some(snap), cdc)
    } else {
      // updated copies of the matched LIVE rows (a row an earlier DV
      // deleted must not resurrect through the update)
      val projected = fields.map { f =>
        set.get(f.name) match {
          case Some(v) => v.cast(f.dataType).as(f.name)
          case None => col(f.name)
        }
      }
      // size the output by MATCHED volume (like compact()): a constant 1
      // would serialize exactly the broad-predicate case this mode exists
      // for and grow one giant file per commit
      val nOut = math.max(1, math.ceil(
        matchedBytes.toDouble / GwTable.TargetDmlFileBytes).toInt)
      val newAdds = writeDml(
        Dv.readLive(spark, snap.schema, touched).filter(hit)
          .select(projected.toIndexedSeq: _*).coalesce(nOut), snap)
      // pre-update versions of the matched rows leave via the deletion
      // vector; a DV covering a whole file upgrades to a plain remove
      val dvAdds = buildDvAdds(snap, touched, hit)
      val (emptied, kept) = dvAdds.partition { case (_, f) =>
        Dv.numRecords(f).exists(n => f.dv.exists(_.cardinality >= n))
      }
      commitMor("UPDATE", emptied.map(_._1), kept, newAdds,
        readSnap = Some(snap), cdc = cdc)
    }
  }

  /**
   * MERGE (upsert): join `source` against the table on `on` — matched
   * target rows take the `whenMatchedSet` assignments (each cast to the
   * column's logged type; values may reference both sides via the `t` /
   * `s` aliases), source rows matching nothing are appended when
   * `insertNotMatched` (their columns mapped to the target schema by
   * name) — all in one atomic copy-on-write commit.
   *
   * Aliases: inside `on` and the assignments, reference the target as
   * `t` and the source as `s`, e.g.
   * `on = col("t.o_orderkey") === col("s.o_orderkey")`,
   * `whenMatchedSet = Map("o_totalprice" -> col("s.o_totalprice"))`.
   *
   * Delta-parity conditional actions: `whenMatchedDeleteIf` is the WHEN
   * MATCHED [AND cond] THEN DELETE branch — a matched target row whose
   * joined row satisfies the condition (reference both sides via `t`/`s`)
   * is DROPPED instead of updated; `insertNotMatchedIf` is WHEN NOT
   * MATCHED AND cond THEN INSERT — source rows failing it never insert
   * (bare source column names, evaluated before the join). Together they
   * make one MERGE a complete CDC applier: upsert the postimages, drop
   * the deletes, skip inserting delete markers (st12).
   *
   * `schemaEvolution = true` is Delta's MERGE WITH SCHEMA EVOLUTION:
   * source columns absent from the target append to the schema (nullable,
   * ALTER ADD COLUMNS rules) in the SAME commit as the merged rows —
   * matched rows take them only via explicit `whenMatchedSet`, inserts by
   * name, untouched files null-fill at scan time. Off (default): extra
   * source columns are ignored. A merge that commits nothing (-1) evolves
   * nothing.
   *
   * Shape at scale: the match pass touches only (matched rows → their
   * files) with partial aggregation; only files that actually contain a
   * matched row are rewritten; the not-matched anti-join is the one
   * full-table join, exactly the cost Delta's MERGE pays. A target row
   * matched by more than one source row fails (non-deterministic update —
   * SQL MERGE cardinality rule; delete matches count too). Returns the
   * committed version, or -1 when nothing matched and nothing was
   * inserted.
   */
  def merge(source: DataFrame, on: Column,
      whenMatchedSet: Map[String, Column] = Map.empty,
      insertNotMatched: Boolean = true,
      whenMatchedDeleteIf: Option[Column] = None,
      insertNotMatchedIf: Option[Column] = None,
      schemaEvolution: Boolean = false,
      txnId: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.{first, max, monotonically_increasing_id}
    // exactly-once (same contract as GwSink.append): a merge whose txnId
    // already committed is a crash replay — skip every scan and return the
    // original version; every commit attempt re-checks it ([[GwTxn]])
    GwTxn.replayedVersion(gwLog, txnId)
      .foreach(v => return v)
    require(whenMatchedSet.nonEmpty || insertNotMatched || whenMatchedDeleteIf.nonEmpty,
      "MERGE needs a matched-update, matched-delete and/or not-matched-insert action")
    val snap0 = gwLog.latestSnapshot().getOrElse(throw new IllegalArgumentException(
      s"MERGE target has no transaction log at $tablePath"))
    require(!source.columns.exists(_.startsWith("__gw_")),
      "source columns must not use the reserved __gw_ prefix")
    // MERGE WITH SCHEMA EVOLUTION (Delta parity, API form): source columns
    // absent from the target append to the schema (forced nullable, fresh
    // physical name if a dropped name is being re-added — same rules as
    // ALTER ADD COLUMNS) and the restated Metadata rides the SAME commit
    // as the merged rows. Existing files simply lack the columns and
    // null-fill at scan time; matched rows take the new columns only
    // through explicit whenMatchedSet assignments, inserts map them by
    // name. Without the flag, extra source columns are ignored (the
    // documented by-name contract).
    val evolvedMeta: Option[Metadata] =
      if (!schemaEvolution) None
      else {
        val existing = snap0.schema.fieldNames.map(_.toLowerCase).toSet
        val newCols = source.schema.fields
          .filter(f => !existing.contains(f.name.toLowerCase))
        if (newCols.isEmpty) None
        else {
          val meta = snap0.metadata.getOrElse(throw new IllegalStateException(
            s"MERGE target has no schema in its log: $tablePath"))
          val dropped = meta.configuration.keys
            .filter(_.startsWith(GwTable.DroppedPhysicalPrefix))
            .map(_.stripPrefix(GwTable.DroppedPhysicalPrefix)).toSet
          val added = newCols.map { c =>
            val base = c.copy(nullable = true)
            if (!dropped.contains(c.name.toLowerCase)) base
            else base.copy(metadata =
              new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(base.metadata)
                .putString(graft.log.ColumnMapping.PhysicalNameKey,
                  s"gwcm_${java.util.UUID.randomUUID().toString.replace("-", "")}")
                .build())
          }
          Some(meta.copy(schemaString = org.apache.spark.sql.types
            .StructType(snap0.schema.fields ++ added).json))
        }
      }
    val snap = evolvedMeta match {
      case Some(m) => snap0.copy(metadata = Some(m))
      case None => snap0
    }
    val fields = snap.schema.fields
    whenMatchedSet.keys.foreach { k =>
      require(fields.exists(_.name == k),
        s"SET column '$k' is not in the table schema " +
          s"(${snap.schema.fieldNames.mkString(", ")})")
    }
    if (insertNotMatched) fields.foreach { f =>
      require(source.columns.contains(f.name),
        s"insertNotMatched requires source column '${f.name}' (by-name mapping)")
    }
    val tgtAll =
      if (snap.files.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], snap.schema)
      else Dv.readLive(spark, snap.schema, snap.files)
    // match pass: per-file max source-match count, over matched rows only
    // (partial-agg'd) — one row per touched file reaches the driver
    val perFile =
      if (snap.files.isEmpty) Array.empty[Row]
      else tgtAll
        .withColumn("__gw_file", col("_metadata.file_path"))
        .withColumn("__gw_rid", monotonically_increasing_id())
        .alias("t")
        .join(source.alias("s"), on, "inner")
        .groupBy(col("__gw_rid"))
        .agg(first(col("__gw_file")).as("f"), count(lit(1)).as("n"))
        .groupBy(col("f")).agg(max(col("n")).as("maxn"))
        .collect()
    perFile.find(_.getLong(1) > 1).foreach { r =>
      throw new IllegalStateException(
        s"MERGE matched a target row in ${r.getString(0)} with " +
          s"${r.getLong(1)} source rows — updates would be non-deterministic")
    }
    val byKey = snap.files.map(f => GwTable.uriKey(f.path) -> f).toMap
    val touched = perFile.toSeq.map(r => byKey.getOrElse(GwTable.uriKeyScanned(r.getString(0)),
      throw new IllegalStateException(s"matched file ${r.getString(0)} not in snapshot")))
    // delete-branch condition over the joined row; NULL keeps the row
    // (SQL condition semantics), unmatched rows never delete
    val delCond = whenMatchedDeleteIf
      .map(c => coalesce(c, lit(false))).getOrElse(lit(false))
    val rewritten: Option[DataFrame] =
      if (touched.isEmpty) None
      else {
        val matched = coalesce(col("__gw_matched"), lit(false))
        // LIVE rows only: a touched file carrying a deletion vector must
        // not resurrect its deleted rows through the rewrite
        Some(Dv.readLive(spark, snap.schema, touched)
          .alias("t")
          .join(source.withColumn("__gw_matched", lit(true)).alias("s"), on, "left")
          .filter(not(matched && delCond)) // WHEN MATCHED ... THEN DELETE
          .select(fields.map { f =>
            whenMatchedSet.get(f.name) match {
              case Some(v) =>
                when(matched, v.cast(f.dataType)).otherwise(col(s"t.${f.name}")).as(f.name)
              case None => col(s"t.${f.name}").as(f.name)
            }
          }.toIndexedSeq: _*))
      }
    val inserts: Option[DataFrame] =
      if (!insertNotMatched) None
      else {
        val src = insertNotMatchedIf.map(c => source.filter(coalesce(c, lit(false))))
          .getOrElse(source)
        val anti = src.alias("s").join(tgtAll.alias("t"), on, "left_anti")
        Some(anti.select(fields.map(f =>
          col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*))
      }
    val out = (rewritten, inserts) match {
      case (Some(r), Some(i)) => Some(r.unionByName(i))
      case (r, i) => r.orElse(i)
    }
    out match {
      case None => -1L
      case Some(df) =>
        val newAdds = writeDml(df.coalesce(math.max(1, touched.size + 1)), snap)
        if (touched.isEmpty && newAdds.isEmpty) -1L // no match, empty insert set
        else {
          // CDF: matched rows split on the delete branch — deleted
          // preimages tag 'delete', updated ones true pre/post pairs (the
          // cardinality check above guarantees each matched LIVE row joins
          // exactly one source row); not-matched source rows as inserts
          val cdc: Seq[Action] =
            if (!Cdc.enabled(snap)) Nil
            else {
              val joined =
                if (touched.isEmpty) None
                else Some(Dv.readLive(spark, snap.schema, touched)
                  .alias("t").join(source.alias("s"), on, "inner"))
              val tSide = fields.map(f => col(s"t.${f.name}").as(f.name)).toIndexedSeq
              val deletedPre = joined.filter(_ => whenMatchedDeleteIf.nonEmpty)
                .map(_.filter(delCond).select(tSide: _*)
                  .withColumn(Cdc.ChangeTypeCol, lit(Cdc.Delete)))
              val updPairs = joined.filter(_ => whenMatchedSet.nonEmpty).map { j =>
                val upd = j.filter(not(delCond))
                val pre = upd.select(tSide: _*)
                val post = upd.select(fields.map { f =>
                  whenMatchedSet.get(f.name) match {
                    case Some(v) => v.cast(f.dataType).as(f.name)
                    case None => col(s"t.${f.name}").as(f.name)
                  }
                }.toIndexedSeq: _*)
                pre.withColumn(Cdc.ChangeTypeCol, lit(Cdc.UpdatePre))
                  .unionAll(post.withColumn(Cdc.ChangeTypeCol, lit(Cdc.UpdatePost)))
              }
              val insertRows = inserts
                .map(_.withColumn(Cdc.ChangeTypeCol, lit(Cdc.Insert)))
              (deletedPre.toSeq ++ updPairs.toSeq ++ insertRows.toSeq)
                .reduceOption(_ unionAll _)
                .map(ch => Cdc.write(spark, tablePath, snap, ch))
                .getOrElse(Nil)
            }
          // OCC validates against the snapshot actually READ (snap0) —
          // the evolved copy differs from fresh by construction
          commitDml("MERGE", touched, newAdds, Some(snap0), cdc,
            metaRestate = evolvedMeta, txnId = txnId)
        }
    }
  }

  /** Resolve a predicate against the table schema (typed literals, real
    * AttributeReferences) so the scan path's stats pruning can read its
    * conjuncts; an unresolvable column fails here, before any IO. */
  private def resolveCond(snap: Snapshot, cond: Column):
      org.apache.spark.sql.catalyst.expressions.Expression =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], snap.schema)
      .filter(cond).queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.getOrElse(throw new IllegalArgumentException(
        s"could not resolve predicate $cond"))

  /** One distributed count pass over the stats-surviving candidate files:
    * (fully matching, partially matching, estimated MATCHED bytes — each
    * file's size scaled by its hit fraction, what a merge-on-read UPDATE
    * will roughly rewrite). One row per file — metadata scale on the
    * driver. */
  private def classifyByPredicate(snap: Snapshot, cond: Column):
      (Seq[AddFile], Seq[AddFile], Long) = {
    val ranges = graft.log.ColumnMapping.physRanges(snap.schema,
      org.apache.spark.sql.graftbridge.GwStatsPruning
        .ranges(Seq(resolveCond(snap, cond))))
    val candidates = if (ranges.isEmpty) snap.files else snap.filesForConstraints(ranges)
    if (candidates.isEmpty) return (Nil, Nil, 0L)
    val hit = coalesce(cond, lit(false))
    val counts = GwFileIndex.frame(spark, snap.schema, candidates)
      .groupBy(col("_metadata.file_path").as("f"))
      .agg(count(lit(1)).as("total"), sum(when(hit, 1L).otherwise(0L)).as("hits"))
      .collect()
    val byKey = candidates.map(f => GwTable.uriKey(f.path) -> f).toMap
    val full = Seq.newBuilder[AddFile]
    val partial = Seq.newBuilder[AddFile]
    var matchedBytes = 0L
    counts.foreach { r =>
      val add = byKey.getOrElse(GwTable.uriKeyScanned(r.getString(0)),
        throw new IllegalStateException(s"scanned file ${r.getString(0)} not in snapshot"))
      val (total, hits) = (r.getLong(1), r.getLong(2))
      if (hits > 0 && total > 0)
        matchedBytes += (add.size.toDouble * hits / total).toLong
      if (hits == total && total > 0) full += add
      else if (hits > 0) partial += add
    }
    (full.result(), partial.result(), matchedBytes)
  }

  /** Rewrite `files` through `transform` into a fresh `_dml/` dir and
    * harvest the outputs (footer stats included) as AddFiles. Reads LIVE
    * rows only — a file carrying a deletion vector must not resurrect its
    * deleted rows in the rewrite. */
  private def rewriteFiles(snap: Snapshot, files: Seq[AddFile],
      transform: DataFrame => DataFrame): Seq[AddFile] =
    writeDml(transform(Dv.readLive(spark, snap.schema, files)), snap)

  /** Write a DML output batch under `<table>/_dml/` and harvest it; the
    * frame arrives in LOGICAL names and lands in the table's PHYSICAL
    * layout (column mapping). */
  private def writeDml(df: DataFrame, snap: Snapshot): Seq[AddFile] = {
    val outDir = new Path(tablePath, s"_dml/${java.util.UUID.randomUUID()}")
    val config = snap.metadata.map(_.configuration).getOrElse(Map.empty)
    val schemaJson = snap.metadata.map(_.schemaString)
    graft.log.ColumnMapping.toPhysicalDf(df, snap.schema)
      .write.mode("overwrite")
      .options(graft.log.Bloom.parquetWriteOptions(config, schemaJson, snap.schema))
      .parquet(outDir.toString)
    // copy-on-write rewrites rebuild the file blooms like every other
    // write path — without this a declared-bloom table loses file-level
    // point-lookup pruning on exactly the rows DML just touched
    graft.log.Bloom.augment(spark, config, schemaJson, tablePath,
      graft.sources.SchemaProbe.harvestPartitioned(
        spark.sparkContext.hadoopConfiguration, outDir, dataChange = true, Nil,
        statsCols = graft.streaming.GwSink.statsColumnFilter(config, snap.schema)))
  }

  /** One atomic DML commit: tombstone `removes`, add `newAdds`. Retries past
    * foreign version conflicts (benign blind appends — WriteSerializable),
    * but aborts with the typed taxonomy ([[graft.log.Occ]]) if a
    * concurrent commit replaced OR MUTATED any file this operation
    * classified — `removes` are the exact snapshot entries the operation
    * read, so the equality check also catches a concurrent merge-on-read
    * delete growing a file's deletion vector (whose rows this rewrite
    * would silently resurrect/drop) — or restated the metadata/protocol
    * this operation's replacement rows were shaped against (`readSnap`,
    * the snapshot the operation planned on). */
  private def commitDml(operation: String, removes: Seq[AddFile],
      newAdds: Seq[AddFile], readSnap: Option[Snapshot] = None,
      cdc: Seq[Action] = Nil, metaRestate: Option[Metadata] = None,
      txnId: Option[String] = None): Long =
    // a parseable "<app>/<batch>" txnId is exactly-once, like the sink's
    // appends: a raced replay is a no-op and the commit carries the txn
    GwTxn(gwLog, operation, "CopyOnWrite", GwTxn.Rewrite(readSnap, deletes = removes),
      txnId = txnId).commit { fresh =>
      if (removes.nonEmpty) // MERGE with inserts only stays append-legal
        GwTable.assertNotAppendOnly(tablePath, fresh, operation)
      val now = System.currentTimeMillis()
      // schema evolution rides the SAME commit as its data (a reader can
      // never see evolved rows under the old schema or vice versa); OCC's
      // metadata check aborts if anyone else restated mid-flight, so the
      // planning-time restatement can never clobber foreign DDL
      metaRestate.toSeq ++ removes.map(f => RemoveFile(f.path, f.size, now)) ++
        newAdds ++ cdc
    }

  /** Connector commit hook for SQL UPDATE / MERGE INTO (`ReplaceData`,
    * group-based row-level operations): one atomic copy-on-write commit
    * that tombstones exactly `removePaths` (the files the operation's scan
    * was planned over) and adds `newAdds` (the rewritten groups plus any
    * merge-inserted rows). Same concurrency contract as the API DML:
    * retries past foreign version conflicts (WriteSerializable — benign
    * blind appends never abort the operation), raises the typed
    * [[graft.log.Occ]] taxonomy if a classified file was removed/replaced
    * or the metadata restated mid-operation (`readSnap`: the snapshot the
    * operation's scan was planned on). No-ops (nothing scanned, nothing
    * written) commit nothing and return -1. */
  def replaceFiles(operation: String, removePaths: Set[String],
      newAdds: Seq[AddFile], scannedFiles: Seq[AddFile] = Nil,
      readSnap: Option[Snapshot] = None): Long = {
    val keys = removePaths.map(GwTable.uriKey)
    val current = gwLog.snapshot(None)
    val liveByKey = current.files
      .map(f => GwTable.uriKey(f.path) -> f).toMap
    // a planned file no longer live = a winner removed what this operation
    // tombstones (its rewritten rows would double back without the
    // winner's delete — the classic lost-update)
    keys.find(k => !liveByKey.contains(k)).foreach { k =>
      throw new graft.log.ConcurrentDeleteDeleteException(tablePath, k)
    }
    val removes = keys.toSeq.map(liveByKey)
    // when the caller supplies the exact AddFiles its scan planned, a file
    // whose deletion vector changed under the operation (concurrent MOR
    // delete — its deletes would vanish in this rewrite) aborts too
    if (scannedFiles.nonEmpty) {
      val planned = scannedFiles.map(f => GwTable.uriKey(f.path) -> f).toMap
      removes.find(f => !planned.get(GwTable.uriKey(f.path)).contains(f))
        .foreach { f =>
          throw new graft.log.ConcurrentDeleteDeleteException(tablePath, f.path)
        }
    }
    if (removes.isEmpty && newAdds.isEmpty) -1L
    else {
      // CDF: a group-based rewrite can't pair rows, so the change batch is
      // the DERIVED net diff (removed live rows minus rewritten rows →
      // delete; the reverse → insert) — the same rows the batch reader's
      // bag-difference would produce, persisted once at write time so the
      // CHANGE-FEED STREAM can serve this commit (a stream can't diff)
      val cdc: Seq[Action] =
        if (!Cdc.enabled(current)) Nil
        else {
          val removed = Dv.readLive(spark, current.schema, removes)
          val added = Dv.readLive(spark, current.schema, newAdds)
          Cdc.write(spark, tablePath, current,
            removed.exceptAll(added)
              .withColumn(Cdc.ChangeTypeCol, lit(Cdc.Delete))
              .unionAll(added.exceptAll(removed)
                .withColumn(Cdc.ChangeTypeCol, lit(Cdc.Insert))))
        }
      commitDml(operation, removes, newAdds, readSnap, cdc)
    }
  }

  /**
   * `df.write.mode("overwrite").option("replaceWhere", pred)` — Delta's
   * predicate-scoped overwrite: ONE atomic commit replaces exactly the
   * rows matching `cond` with `df`, leaving everything outside the
   * predicate untouched. The partition-window reload shape at 100 TB:
   * reprocess a day, overwrite that day, never touch the other 10 years.
   *
   * Semantics (Delta's contract): every incoming row must satisfy the
   * predicate (checked BEFORE any IO — one scan of the batch); live files
   * classify through the same stats-pruned three-tier split as DELETE
   * (fully-matching files tombstone without being read, straddling files
   * rewrite keeping only their non-matching LIVE rows, untouched files
   * are never read); new data stages partitioned like any append. CDF
   * tables log matched live rows as 'delete' and the batch as 'insert'.
   * Conflict contract = the DML taxonomy: the commit aborts typed if a
   * classified file was removed or mutated mid-flight.
   */
  def replaceWhere(df: DataFrame, cond: Column): Long = {
    val snap = gwLog.snapshot(None)
    val meta = snap.metadata.getOrElse(throw new IllegalStateException(
      s"replaceWhere needs an existing table at $tablePath — the predicate " +
        "would have nothing to replace; use a plain overwrite to bootstrap"))
    graft.streaming.GwSink.checkAppendSchema(Some(meta), tablePath.toString, df.schema)
    require(!meta.configuration.keys.exists(_.startsWith(GwTable.IdentityPrefix)),
      s"replaceWhere on identity-column tables is not supported at $tablePath")
    resolveCond(snap, cond) // unresolvable predicates fail before any IO
    val hit = coalesce(cond, lit(false))
    require(df.filter(not(hit)).isEmpty,
      s"replaceWhere: the written batch contains rows that do not satisfy " +
        s"the predicate ($cond) — Delta's contract is that an overwrite " +
        "may only write inside the window it replaces")
    val (fullFiles, partialFiles, _) = classifyByPredicate(snap, cond)
    val rewrites: Seq[AddFile] =
      if (partialFiles.isEmpty) Nil
      else rewriteFiles(snap, partialFiles,
        d => d.filter(not(hit)).coalesce(math.max(1, partialFiles.size)))
    val parts = meta.partitionColumns
    val outDir = new Path(tablePath, s"_stream/${java.util.UUID.randomUUID()}")
    // replaceWhere ingests NEW rows: declared CHECK constraints bind here
    // exactly like append/overwrite
    val checked = org.apache.spark.sql.graftbridge.GwConstraintRule
      .enforce(df, meta.configuration)
    graft.streaming.GwSink.stageWrite(
      graft.log.ColumnMapping.toPhysicalDf(checked, snap.schema), outDir, parts,
      graft.log.Bloom.parquetWriteOptions(meta.configuration,
        Some(meta.schemaString), snap.schema))
    val conf = spark.sparkContext.hadoopConfiguration
    val newAdds0: Seq[AddFile] = graft.sources.SchemaProbe
      .harvestPartitioned(conf, outDir, dataChange = true, parts,
        statsCols = graft.streaming.GwSink.statsColumnFilter(
          meta.configuration, snap.schema))
    if (newAdds0.isEmpty) outDir.getFileSystem(conf).delete(outDir, true)
    // the replacement batch carries blooms like any other committed files
    val newAdds = graft.log.Bloom.augment(spark, meta.configuration,
      Some(meta.schemaString), tablePath, newAdds0)
    val cdc: Seq[Action] =
      if (!Cdc.enabled(snap)) Nil
      else {
        val deleted = Dv.readLive(spark, snap.schema, fullFiles)
          .unionAll(Dv.readLive(spark, snap.schema, partialFiles).filter(hit))
          .withColumn(Cdc.ChangeTypeCol, lit(Cdc.Delete))
        val changes =
          if (newAdds.isEmpty) deleted
          else deleted.unionAll(GwFileIndex.frame(spark, snap.schema, newAdds)
            .withColumn(Cdc.ChangeTypeCol, lit(Cdc.Insert)))
        Cdc.write(spark, tablePath, snap, changes)
      }
    commitDml("REPLACE WHERE", fullFiles ++ partialFiles,
      rewrites ++ newAdds, Some(snap), cdc)
  }

  /** TRUNCATE: one metadata-only commit tombstoning every live file — no
    * data is read or written; the content stays time-travelable until
    * `vacuum`. Returns the committed version, or -1 on an empty log. */
  def truncate(): Long =
    GwTxn(gwLog, "DELETE", "Truncate").commitOrCreate { fresh =>
      val snap = fresh.getOrElse(return -1L)
      GwTable.assertNotAppendOnly(tablePath, snap, "TRUNCATE")
      val now = System.currentTimeMillis()
      snap.files.map(f => RemoveFile(f.path, f.size, now))
    }

  /**
   * RESTORE: make the live state equal the snapshot at `version` with ONE
   * metadata-scale commit — removes files the target lacks, re-asserts
   * files the target has that the live set lost or mutated (deletion-vector
   * state included: a file whose DV grew since the target is re-asserted
   * with the target's DV), and re-commits the target's `metaData` when the
   * schema was restated since. No data moves; the restore itself is a new
   * version, so the pre-restore state stays time-travelable, and the file
   * diff gives CDF exactly the rows the restore brought back/dropped.
   *
   * Files re-added after a `vacuum` may no longer exist — that would
   * resurrect a dangling entry, so existence is verified (distributed, one
   * stat per candidate file) and the restore fails fast listing the first
   * missing file. Returns the committed version, or -1 if the live state
   * already equals the target.
   */
  def restore(version: Long): Long = {
    val target = gwLog.snapshot(Some(version)) // fails on unknown version
    val cur0 = gwLog.snapshot(None)
    if (cur0.version == version) return -1L
    val tgtByPath = target.files.map(f => f.path -> f).toMap
    // files to re-assert: in the target but missing-or-mutated live now
    val curByPath0 = cur0.files.map(f => f.path -> f).toMap
    val candidates = target.files.filterNot(f => curByPath0.get(f.path).contains(f))
    if (candidates.nonEmpty) {
      val conf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
      val missing = spark.sparkContext
        .parallelize(candidates.map(_.path),
          math.max(1, math.min(candidates.size, spark.sparkContext.defaultParallelism)))
        .filter(p => !new Path(p).getFileSystem(conf.value).exists(new Path(p)))
        .take(1)
      require(missing.isEmpty,
        s"cannot RESTORE $tablePath to version $version: data file " +
          s"${missing.headOption.getOrElse("")} no longer exists (vacuumed); " +
          "restore to a newer version")
    }
    // re-asserted files move no bytes
    GwTxn(gwLog, "RESTORE", s"toVersion=$version",
        numOutputBytes = Some(0L)).commit { cur =>
      GwTable.assertNotAppendOnly(tablePath, cur, "RESTORE")
      val now = System.currentTimeMillis()
      val curByPath = cur.files.map(f => f.path -> f).toMap
      val removes: Seq[Action] = cur.files
        .filterNot(f => tgtByPath.get(f.path).contains(f))
        .map(f => RemoveFile(f.path, f.size, now))
      val adds: Seq[Action] = target.files
        .filterNot(f => curByPath.get(f.path).contains(f))
        // a re-assertion is a data change for consumers even when the
        // original add was a compaction's dataChange=false — rows reappear
        .map(_.copy(dataChange = true))
      // the row-tracking high-water mark must stay MONOTONE across
      // RESTORE: restating the target's metadata verbatim would rewind it
      // and let assignRowIds re-issue id ranges already bound to files
      // committed after the target version — the same __gw_row_id would
      // then name two different rows. Carry forward the max of both marks
      // (Delta keeps the mark monotone across RESTORE for the same reason).
      val hwKey = "graft.rowTracking.highWaterMark"
      def hwOf(m: Option[graft.log.Metadata]): Option[Long] =
        m.flatMap(_.configuration.get(hwKey)).flatMap(s =>
          scala.util.Try(s.toLong).toOption)
      val restatedTarget = target.metadata.map { tm =>
        (hwOf(cur.metadata), hwOf(Some(tm))) match {
          case (Some(curHw), tgtHw) if tgtHw.forall(_ < curHw) =>
            tm.copy(configuration = tm.configuration + (hwKey -> curHw.toString))
          case _ => tm
        }
      }
      val meta: Seq[Action] =
        if (restatedTarget == cur.metadata) Nil else restatedTarget.toSeq
      // metadata domains revert with the rest of the state: re-assert the
      // target's domains where they differ, tombstone domains created
      // since the target version (Delta RESTORE semantics)
      val doms: Seq[Action] =
        target.domains.toSeq.collect {
          case (d, c) if !cur.domains.get(d).contains(c) =>
            graft.log.DomainMetadata(d, c)
        } ++ (cur.domains.keySet -- target.domains.keySet).toSeq.sorted.map(
          d => graft.log.DomainMetadata(d, "", removed = true))
      meta ++ doms ++ removes ++ adds
    }
  }

  /**
   * SHALLOW CLONE: bootstrap a NEW table at `targetPath` whose first
   * commit re-asserts this table's snapshot (at `versionAsOf`, default
   * latest) — zero data copied; the log stores absolute paths, so the
   * clone reads the source's files (deletion-vector state included)
   * directly. The clone then evolves independently: its DML/compaction
   * writes land under ITS directory, and its vacuum only ever lists its
   * own tree, so source files are never reclaimed by the clone. The
   * standing caveat is the mirror image: a source `vacuum` can reclaim
   * files a clone still references (same contract as Delta's shallow
   * clones) — clone for dev/test/branching, not archival. Returns the
   * clone's bootstrap version (0).
   */
  def cloneTo(targetPath: String, versionAsOf: Option[Long] = None): Long = {
    val snap = gwLog.snapshot(versionAsOf)
    val conf = spark.sparkContext.hadoopConfiguration
    val tgt = graft.log.GwLog.forTable(conf, targetPath)
    require(tgt.listVersions().isEmpty,
      s"cannot SHALLOW CLONE into $targetPath: a table already exists there")
    // the clone references the source's files: no bytes written
    commitClone(tgt, targetPath, snap, s"from=$tablePath@v${snap.version}",
      snap.files.map(_.copy(dataChange = true)), outputBytes = 0L)
  }

  /** A clone's one commit at `targetPath`: protocol, fresh-id metadata, the
    * source's metadata domains (Delta spec) and `adds`. Refuses an attempt
    * that finds the target already created. */
  private def commitClone(tgt: GwLog, targetPath: String, snap: Snapshot,
      mode: String, adds: Seq[AddFile], outputBytes: Long): Long =
    GwTxn(tgt, "CLONE", mode, isBlindAppend = true,
        numOutputBytes = Some(outputBytes)).commitOrCreate { fresh =>
      if (fresh.isDefined) throw new IllegalStateException(
        s"concurrent table creation at $targetPath raced the clone; re-run")
      val now = System.currentTimeMillis()
      val meta = snap.metadata
        .map(m => m.copy(id = java.util.UUID.randomUUID().toString, createdTime = now))
        .getOrElse(graft.log.Metadata(
          id = java.util.UUID.randomUUID().toString,
          schemaString = snap.schema.json, createdTime = now))
      Seq(graft.log.Protocol(), meta) ++
        snap.domains.toSeq.map { case (d, c) => graft.log.DomainMetadata(d, c) } ++ adds
    }

  /**
   * DEEP CLONE: bootstrap a NEW table at `targetPath` that owns a physical
   * COPY of this table's snapshot (at `versionAsOf`, default latest) — the
   * archival complement to [[cloneTo]]: the clone references only files
   * under its own tree, so a source `vacuum` (or the source disappearing
   * entirely) can never break it. Deletion-vector state is preserved
   * as-is: each distinct on-disk DV sidecar is copied ONCE into the
   * clone's `_dv/` and every descriptor remaps to it (offsets unchanged —
   * sidecars are copied whole); inline DVs ride through untouched. File
   * stats and partition values carry over, so the clone plans with the
   * same pruning the source had.
   *
   * Scale: the byte copy is one distributed job — a task per file batch,
   * each task streaming source→target through the Hadoop FS API; only
   * (path, size, mtime) triples return to the driver (metadata scale).
   * Copies land before the commit; a crash mid-copy leaves debris under
   * an uncommitted target, never a half-valid table. Returns the clone's
   * bootstrap version (0).
   */
  def deepCloneTo(targetPath: String, versionAsOf: Option[Long] = None): Long = {
    val snap = gwLog.snapshot(versionAsOf)
    val conf0 = spark.sparkContext.hadoopConfiguration
    val tgt = graft.log.GwLog.forTable(conf0, targetPath)
    require(tgt.listVersions().isEmpty,
      s"cannot DEEP CLONE into $targetPath: a table already exists there")
    val tgtQual = new Path(targetPath).getFileSystem(conf0)
      .makeQualified(new Path(targetPath))
    // distinct on-disk DV sidecars: copy once, remap every descriptor
    val dvDst: Map[String, String] = snap.files.flatMap(_.dv).filter(_.isOnDisk)
      .map(_.pathOrInlineDv).distinct
      .map(s => s -> new Path(tgtQual,
        s"_dv/${java.util.UUID.randomUUID()}.bin").toString)
      .toMap
    // distinct bloom sidecars: copy once into the clone's _bloom/ and
    // remap every stats descriptor (offsets unchanged — sidecars copy
    // whole), same pattern as the DVs — a source vacuum must never be
    // able to degrade the clone's point-lookup pruning
    val bloomDst: Map[String, String] = snap.files
      .flatMap(graft.log.Bloom.sidecarPaths).distinct
      .map(s => s -> new Path(tgtQual,
        s"_bloom/${java.util.UUID.randomUUID()}.bin").toString)
      .toMap
    val dataDst: Seq[(AddFile, String)] = snap.files.zipWithIndex.map {
      case (f, i) =>
        f -> new Path(tgtQual,
          s"_clone/part-$i-${new Path(f.path).getName}").toString
    }
    val sconf = new SerializableHadoopConf(conf0)
    val copies = dataDst.map { case (f, d) => (f.path, d) } ++ dvDst.toSeq ++
      bloomDst.toSeq
    val copied: Map[String, (Long, Long)] = // dst -> (size, mtime)
      if (copies.isEmpty) Map.empty
      else spark.sparkContext
        .parallelize(copies, math.max(1, math.min(copies.size,
          spark.sparkContext.defaultParallelism)))
        .map { case (src, dst) =>
          val c = sconf.value
          val sp = new Path(src); val dp = new Path(dst)
          org.apache.hadoop.fs.FileUtil.copy(
            sp.getFileSystem(c), sp, dp.getFileSystem(c), dp,
            false, true, c)
          val st = dp.getFileSystem(c).getFileStatus(dp)
          (dst, (st.getLen, st.getModificationTime))
        }.collect().toMap
    val adds = dataDst.map { case (f, d) =>
      val (sz, mt) = copied(d)
      f.copy(path = d, size = sz, modificationTime = mt, dataChange = true,
        dv = f.dv.map(v =>
          if (v.isOnDisk) v.copy(pathOrInlineDv = dvDst(v.pathOrInlineDv))
          else v),
        stats = f.stats.map(graft.log.Bloom.remapStats(_, bloomDst)))
    }
    // output bytes count every copied object, sidecars included
    commitClone(tgt, targetPath, snap, s"from=$tablePath@v${snap.version} mode=deep",
      adds, outputBytes = copied.map(_._2._1).sum)
  }

  /** Row-level change feed (CDF): the inserted/deleted ROWS per commit in
    * `(sinceVersion, latest]`, derived from the log's file diff — no
    * change-tracking columns are stored. Per version, inserted =
    * bag-difference(added files, removed files) and deleted = the reverse,
    * so a copy-on-write rewrite's surviving rows cancel out and only the
    * true row changes remain (an UPDATE surfaces as delete + insert of the
    * changed rows). Output = table columns + `_change_type`
    * ('insert'|'delete') + `_commit_version`.
    *
    * Scale: each version's diff touches only that commit's files (bounded
    * by the write, not the table); the bag-difference shuffles those files
    * once. `dataChange = false` commits (compaction) contribute nothing by
    * construction and are skipped without reading. Crossing a restatement
    * or schema change fails fast, like [[changesSince]]. */
  def rowChanges(sinceVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val latest = gwLog.snapshot(None)
    require(sinceVersion <= latest.version,
      s"rowChanges($sinceVersion) is beyond the log's latest version " +
        s"${latest.version} at $tablePath — the table was rebuilt; " +
        "restart consumption from a full snapshot")
    val since = gwLog.snapshot(Some(sinceVersion))
    val schema = since.schema
    var curMeta = since.metadata
    val parts = ((sinceVersion + 1) to latest.version).flatMap { v =>
      val actions = gwLog.readVersion(v)
      // a metadata restatement that keeps the schema + partitioning (a
      // property change: enabling CDF itself, constraints, clustering…)
      // is benign for row identity and passes through; a SCHEMA change
      // still stops the feed
      actions.collectFirst { case m: Metadata => m }.foreach { m =>
        val benign = curMeta.exists(c => c.schemaString == m.schemaString &&
          c.partitionColumns == m.partitionColumns)
        if (!benign)
          throw new IllegalStateException(
            s"rowChanges($sinceVersion) at $tablePath crosses a schema change " +
              s"at version $v: row identity is undefined across schemas — " +
              "restart consumption from a full snapshot")
        curMeta = Some(m)
      }
      // a commit carrying change-data files IS its own change feed — read
      // it directly (bounded by the DML's changed rows); no diff needed
      val cdcs = actions.collect { case c: graft.log.CdcFile => c }
      if (cdcs.nonEmpty) {
        Seq(Cdc.read(spark, schema, cdcs)
          .withColumn("_commit_version", lit(v)))
      } else {
      // a DV re-assertion is a merge-on-read DELETE: the change is exactly
      // the positions in the NEW deletion vector that the file's PREVIOUS
      // vector (if any) did not already cover — read those rows and emit
      // them as deletes; nothing was inserted
      val (dvAdds, plainAdds) = actions
        .collect { case a: AddFile if a.dataChange => a }
        .partition(_.dv.isDefined)
      val rms = actions.collect { case r: RemoveFile if r.dataChange => r }
      val dvParts: Seq[DataFrame] = if (dvAdds.isEmpty) Nil else {
        val prev = gwLog.snapshot(Some(v - 1)).files
          .map(f => f.path -> f).toMap
        val newPos = Dv.positionsDF(spark, dvAdds)
        val oldPos = Dv.positionsDF(spark,
          dvAdds.flatMap(a => prev.get(a.path)).filter(_.dv.isDefined))
        val freshly = newPos.exceptAll(oldPos) // (dv_path, pos)
        Seq(Dv.rowsAt(spark, schema, dvAdds, freshly, dvAdds, "left_semi")
          .withColumn("_change_type", lit("delete"))
          .withColumn("_commit_version", lit(v)))
      }
      val filedParts =
        if (plainAdds.isEmpty && rms.isEmpty) Nil
        else {
          val prev = gwLog.snapshot(Some(v - 1)).files.map(f => f.path -> f).toMap
          val added = Dv.readLive(spark, schema, plainAdds)
          // a removed file that carried a DV contributes only its rows that
          // were LIVE at v-1 — its already-deleted rows were reported at
          // their own deleting commit
          val removedFiles = rms.map(r =>
            prev.getOrElse(r.path, AddFile(r.path, r.size, 0L)))
          val removed = Dv.readLive(spark, schema, removedFiles)
          Seq(
            added.exceptAll(removed).withColumn("_change_type", lit("insert")),
            removed.exceptAll(added).withColumn("_change_type", lit("delete")))
            .map(_.withColumn("_commit_version", lit(v)))
        }
      filedParts ++ dvParts
      }
    }
    if (parts.isEmpty)
      Dv.readLive(spark, schema, Nil).withColumn("_change_type", lit(""))
        .withColumn("_commit_version", lit(0L)).limit(0)
    else parts.reduce(_ unionAll _)
  }

  /** ALTER TABLE ADD COLUMNS — a metadata-only schema-evolution commit:
    * the new fields append (forced nullable) to the snapshot schema, and
    * existing parquet files simply lack the columns — the vectorized
    * reader null-fills them at scan time, so no data is read or
    * rewritten. Streams tailing the log and `changesSince` treat the
    * Metadata action as a schema change and stop (deliberately: a
    * downstream consumer must re-derive its schema). Returns the
    * committed version. */
  def addColumns(cols: org.apache.spark.sql.types.StructField*): Long = {
    require(cols.nonEmpty, "no columns to add")
    GwTxn(gwLog, "ADD COLUMNS", "Upgrade").commit { snap =>
      val meta = alterable(snap)
      val existing = snap.schema.fieldNames.map(_.toLowerCase).toSet
      cols.map(_.name).find(n => existing.contains(n.toLowerCase)).foreach(n =>
        throw new IllegalArgumentException(s"column already exists: $n"))
      // also reject duplicates WITHIN the new columns themselves —
      // ADD COLUMNS (a INT, a STRING) would otherwise commit a schema with
      // duplicate field names and corrupt every subsequent read
      cols.groupBy(_.name.toLowerCase).collectFirst {
        case (_, dupes) if dupes.size > 1 => dupes.head.name
      }.foreach(n =>
        throw new IllegalArgumentException(s"duplicate column in ADD COLUMNS: $n"))
      val dropped = meta.configuration.keys
        .filter(_.startsWith(GwTable.DroppedPhysicalPrefix))
        .map(_.stripPrefix(GwTable.DroppedPhysicalPrefix)).toSet
      val added = cols.map { c =>
        val base = c.copy(nullable = true)
        // a re-added name binds to a FRESH on-file column; the dropped
        // bytes stay dead (old files simply lack the new physical name)
        if (!dropped.contains(c.name.toLowerCase)) base
        else base.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(base.metadata)
            .putString(graft.log.ColumnMapping.PhysicalNameKey,
              s"gwcm_${java.util.UUID.randomUUID().toString.replace("-", "")}")
            .build())
      }
      val widened = org.apache.spark.sql.types.StructType(
        snap.schema.fields ++ added)
      Seq(meta.copy(schemaString = widened.json))
    }
  }

  /** The metadata an ALTER restates; refuses a log without a schema. */
  private def alterable(snap: Snapshot): Metadata =
    snap.metadata.getOrElse(throw new IllegalStateException(
      s"cannot ALTER a table with no schema in its log: $tablePath"))

  /**
   * `REORG TABLE ... APPLY (PURGE)`: physically rebase the table — rewrite
   * the live files that still carry old physical layouts (renamed
   * columns), possibly-dropped column bytes, or deletion vectors, and
   * CLEAR the mapping layer in the same commit (physical pins dropped from
   * the schema, dropped-name tombstones removed from the properties).
   * After a REORG the table is mapping-free: SQL row-level DML and
   * streaming work again, and a later `vacuum` physically sheds the
   * dropped columns' bytes — Delta's `REORG ... APPLY (PURGE)` contract.
   *
   * Under a mapping (or dropped-name tombstones) EVERY live file rewrites
   * (the log does not record which era wrote a file's layout); otherwise
   * only DV'd files rewrite (pure purge). Grouped per partition tuple like
   * `compact`; `dataChange = false` (no logical row changes — streams and
   * changesSince stay silent about the rewrite, though the metadata
   * restatement itself stops streams, as every schema restatement does).
   * Returns the committed version, or -1 when nothing needs reorging.
   */
  def reorg(targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    import graft.log.ColumnMapping
    val conf = spark.sparkContext.hadoopConfiguration
    val snap = gwLog.snapshot(None)
    val meta = snap.metadata.getOrElse(return -1L)
    val mapped = ColumnMapping.hasMapping(snap.schema)
    val tombs = meta.configuration.keys
      .filter(_.startsWith(GwTable.DroppedPhysicalPrefix)).toSeq
    val toRewrite =
      if (mapped || tombs.nonEmpty) snap.files
      else snap.files.filter(_.dv.isDefined)
    val cleanSchema = ColumnMapping.stripMeta(snap.schema)
    val cleanConf = meta.configuration -- tombs
    val metaChanged = mapped || tombs.nonEmpty
    if (toRewrite.isEmpty && !metaChanged) return -1L
    val partCols = meta.partitionColumns
    val now = System.currentTimeMillis()
    val groups: Seq[(Map[String, String], Seq[AddFile])] =
      if (partCols.isEmpty) Seq(Map.empty[String, String] -> toRewrite)
      else toRewrite.groupBy(_.partitionValues).toSeq.sortBy(_._1.toSeq.mkString("|"))
    val rewritten: Seq[Action] = GwTable.concurrentGroups(groups.filter(_._2.nonEmpty)) {
      case (partVals, files) =>
        val outDir = new Path(tablePath, s"_compacted/${java.util.UUID.randomUUID()}")
        val nOut = math.max(1, math.ceil(
          files.map(_.size).sum.toDouble / targetFileBytes).toInt)
        // logical rows out, CLEAN logical layout in the files (the commit
        // below clears the mapping, so logical IS the new physical)
        Dv.readLive(spark, snap.schema, files).coalesce(nOut)
          .write.mode("overwrite").parquet(outDir.toString)
        val adds = graft.sources.SchemaProbe
          .harvestPartitioned(conf, outDir, dataChange = false, Nil,
            statsCols = graft.streaming.GwSink.statsColumnFilter(
              snap.metadata.map(_.configuration).getOrElse(Map.empty), snap.schema))
          .map(_.copy(partitionValues = partVals))
        val removes = files.map(f =>
          RemoveFile(f.path, f.size, now, dataChange = false,
            partitionValues = f.partitionValues))
        adds ++ removes
    }
    val newMeta: Seq[Action] =
      if (!metaChanged) Nil
      else Seq(meta.copy(schemaString = cleanSchema.json, configuration = cleanConf))
    GwTxn(gwLog, "REORG", "Purge", GwTxn.Rewrite(Some(snap), deletes = toRewrite))
      .commit(_ => newMeta ++ rewritten)
  }

  /** Guardrail shared by RENAME/DROP COLUMN: the column must exist, must
    * not key the partition layout, and must not be referenced by any
    * engine table property (CHECK constraint / generated / identity) —
    * those expressions would silently dangle. Returns the field. */
  private def mappableColumn(meta: Metadata,
      schema: org.apache.spark.sql.types.StructType,
      name: String, op: String): org.apache.spark.sql.types.StructField = {
    val field = schema.fields.find(_.name.equalsIgnoreCase(name))
      .getOrElse(throw new IllegalArgumentException(
        s"cannot $op column '$name': not in the table schema " +
          s"(${schema.fieldNames.mkString(", ")})"))
    require(!meta.partitionColumns.exists(_.equalsIgnoreCase(name)),
      s"cannot $op partition column '$name' — partition values and the " +
        "directory layout are keyed by it; repartition via CTAS instead")
    val token = java.util.regex.Pattern.compile(
      "(?i)\\b" + java.util.regex.Pattern.quote(field.name) + "\\b")
    meta.configuration.foreach { case (k, v) =>
      val engineKey = k.startsWith(GwTable.ConstraintPrefix) ||
        k.startsWith(GwTable.GeneratedPrefix) || k.startsWith(GwTable.IdentityPrefix)
      // referenced BY KEY (the column is the declared target) or BY VALUE
      // (the column appears as a token in a declared SQL expression)
      val byKey = k.equalsIgnoreCase(GwTable.GeneratedPrefix + field.name) ||
        k.equalsIgnoreCase(GwTable.IdentityPrefix + field.name) ||
        k.equalsIgnoreCase(s"${GwTable.IdentityPrefix}${field.name}.highWaterMark")
      val references = engineKey && (byKey || token.matcher(v).find())
      require(!references,
        s"cannot $op column '$name': table property $k = '$v' references " +
          "it — UNSET the property first")
    }
    field
  }

  /** `ALTER TABLE ... RENAME COLUMN old TO new` — a METADATA-ONLY commit
    * (Delta column-mapping `name` mode): the logical name changes, the
    * ON-FILE name is pinned in the field's metadata
    * ([[graft.log.ColumnMapping.PhysicalNameKey]]), and no data file
    * moves. Old versions keep the old name via time travel; scans on the
    * new schema read the same bytes under the new name. */
  def renameColumn(oldName: String, newName: String): Long = {
    require(newName.nonEmpty && newName.forall(c =>
      !c.isWhitespace && !"=,;{}()".contains(c)),
      s"invalid column name: '$newName'")
    GwTxn(gwLog, "RENAME COLUMN", s"$oldName->$newName").commit { snap =>
      val meta = alterable(snap)
      val field = mappableColumn(meta, snap.schema, oldName, "rename")
      require(!snap.schema.fieldNames.exists(_.equalsIgnoreCase(newName)),
        s"cannot rename '$oldName' to '$newName': the name is taken")
      val renamed = org.apache.spark.sql.types.StructType(snap.schema.fields.map { f =>
        if (f.name != field.name) f
        else f.copy(name = newName, metadata =
          new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
            .putString(graft.log.ColumnMapping.PhysicalNameKey,
              graft.log.ColumnMapping.physicalName(f))
            .build())
      })
      Seq(meta.copy(schemaString = renamed.json))
    }
  }

  /** `ALTER TABLE ... ALTER COLUMN c TYPE t` — Delta's typeWidening
    * feature: a METADATA-ONLY commit restating the column at a LOSSLESS
    * wider type ([[GwTable.isWidening]] — integral up-casts, float→double,
    * date→timestamp_ntz, decimal growth). No file rewrites: Spark's
    * parquet reader up-converts old files' narrow physical values at scan
    * time (int32 pages read into long/double/decimal vectors), new writes
    * land at the wide type, and stats-based pruning stays sound because
    * bounds compare numerically. The commit pins the change in the
    * field's metadata (`gwTypeChanges`, audit parity with Delta's
    * `delta.typeChanges`) and flips `graft.enableTypeWidening`, which
    * rides the protocol as the typeWidening reader+writer feature — a
    * foreign reader that would misread narrow physical bytes must refuse
    * the table instead. Narrowing or any lossy change is refused typed. */
  def widenColumn(name: String, to: org.apache.spark.sql.types.DataType): Long = {
    // the logged mode names the widened-from type, so the commit is
    // planned on this snapshot and aborts if its metadata changes
    val planned = gwLog.snapshot(None)
    val field = mappableColumn(alterable(planned), planned.schema, name, "widen")
    require(GwTable.isWidening(field.dataType, to),
      s"cannot ALTER COLUMN '$name' TYPE ${to.sql}: only lossless " +
        s"widenings of ${field.dataType.sql} are supported (narrowing " +
        "or cross-family changes would misread existing file bytes)")
    GwTxn(gwLog, "ALTER COLUMN", s"$name ${field.dataType.sql}->${to.sql}",
        GwTxn.Rewrite(Some(planned))).commit { snap =>
      val meta = alterable(snap)
      val widened = org.apache.spark.sql.types.StructType(
        snap.schema.fields.map { f =>
          if (f.name != field.name) f
          else f.copy(dataType = to, metadata =
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
              .putString("gwTypeChanges",
                Option(f.metadata).filter(_.contains("gwTypeChanges"))
                  .map(_.getString("gwTypeChanges") + ";").getOrElse("") +
                  s"${field.dataType.typeName}->${to.typeName}@v${snap.version + 1}")
              .build())
        })
      Seq(meta.copy(schemaString = widened.json,
        configuration = meta.configuration + ("graft.enableTypeWidening" -> "true")))
    }
  }

  /** `ALTER TABLE ... ALTER COLUMN c SET DEFAULT expr | DROP DEFAULT`
    * (Delta `allowColumnDefaults`): a METADATA-ONLY commit recording the
    * default in the field's metadata (Spark's `CURRENT_DEFAULT` key, the
    * form the analyzer reads back through the catalog) — `None` drops it.
    * Defaults materialize in the ANALYZER at insert time (the catalog
    * declares `SUPPORT_COLUMN_DEFAULT_VALUE`), so files always carry the
    * column physically and the scan never fills anything; changing a
    * default therefore never rewrites or reinterprets existing rows. The
    * expression must be a constant-foldable literal castable to the
    * column's type — validated here, before the commit. */
  def setColumnDefault(name: String, defaultSql: Option[String]): Long = {
    GwTxn(gwLog, "ALTER COLUMN", defaultSql.map(s => s"$name SET DEFAULT $s")
        .getOrElse(s"$name DROP DEFAULT")).commit { snap =>
      val meta = alterable(snap)
      val field = snap.schema.fields.find(_.name.equalsIgnoreCase(name))
        .getOrElse(throw new IllegalArgumentException(
          s"cannot set default on column '$name': not in the table schema " +
            s"(${snap.schema.fieldNames.mkString(", ")})"))
      defaultSql.foreach { sql =>
        val lit = try {
          val e = spark.sessionState.sqlParser.parseExpression(sql)
          require(e.foldable, s"not constant-foldable: $sql")
          org.apache.spark.sql.catalyst.expressions.Cast(
            e, field.dataType, ansiEnabled = true).eval(null)
        } catch { case ex: Exception =>
          throw new IllegalArgumentException(
            s"invalid DEFAULT for column '$name' ${field.dataType.sql}: " +
              s"'$sql' must be a constant expression castable to the " +
              s"column type (${ex.getMessage})")
        }
        require(lit != null || field.nullable,
          s"DEFAULT NULL on non-nullable column '$name'")
      }
      val updated = org.apache.spark.sql.types.StructType(
        snap.schema.fields.map { f =>
          if (f.name != field.name) f
          else {
            val b = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
            defaultSql match {
              case Some(sql) =>
                b.putString("CURRENT_DEFAULT", sql)
                // EXISTS_DEFAULT is what a read-time fill WOULD use; our
                // defaults are insert-time only, but the key must parse —
                // keep it aligned with the current default for interop
                b.putString("EXISTS_DEFAULT", sql)
              case None =>
                b.remove("CURRENT_DEFAULT")
                b.remove("EXISTS_DEFAULT")
            }
            f.copy(metadata = b.build())
          }
        })
      Seq(meta.copy(schemaString = updated.json))
    }
  }

  /** `ALTER TABLE ... DROP COLUMN` — a METADATA-ONLY commit: the field
    * leaves the logical schema; the bytes stay in the files (pre-drop
    * versions read them via time travel), new scans never request them. */
  def dropColumn(name: String): Long = {
    GwTxn(gwLog, "DROP COLUMN", name).commit { snap =>
      val meta = alterable(snap)
      val field = mappableColumn(meta, snap.schema, name, "drop")
      require(snap.schema.fields.length > 1,
        s"cannot drop '$name': it is the table's only column")
      val narrowed = org.apache.spark.sql.types.StructType(
        snap.schema.fields.filterNot(_.name == field.name))
      // tombstone the ON-FILE name: a later ADD COLUMNS reusing the logical
      // name must get a FRESH physical name, or old files' bytes would
      // resurrect as the "new" column
      val dropKey = GwTable.DroppedPhysicalPrefix +
        graft.log.ColumnMapping.physicalName(field).toLowerCase
      Seq(meta.copy(schemaString = narrowed.json,
        configuration = meta.configuration + (dropKey -> "true")))
    }
  }

  /** ALTER TABLE SET/UNSET TBLPROPERTIES — a metadata-only commit that
    * merges `set` into (and drops `unset` from) the snapshot's
    * configuration map. Properties under `graft.constraints.<name>` are
    * CHECK constraints: their value is a boolean SQL expression every
    * ingested row must satisfy (null passes, SQL-standard), enforced on
    * the write path by the injected analysis rule
    * ([[org.apache.spark.sql.graftbridge.GwConstraintRule]]). Constraint
    * expressions are validated (parse + bind against the current schema)
    * HERE, at set time, so a typo fails the ALTER and not some later
    * INSERT. Returns the committed version. */
  def updateProperties(set: Map[String, String], unset: Seq[String] = Nil): Long = {
    val snapForValidate =
      if (set.keys.exists(k => k.startsWith(GwTable.ConstraintPrefix) ||
        k.startsWith(GwTable.GeneratedPrefix))) Some(snapshot()) else None
    set.foreach { case (k, v) =>
      if (k.startsWith(GwTable.ConstraintPrefix))
        org.apache.spark.sql.graftbridge.GwConstraintRule
          .validate(spark, k.stripPrefix(GwTable.ConstraintPrefix), v,
            snapForValidate.get.schema)
      else if (k == graft.log.Bloom.ColumnsProp) {
        val schemaV = snapshot().schema
        graft.log.Bloom.columnsOf(Map(k -> v)).foreach { c =>
          val field = schemaV.fields.find(_.name.equalsIgnoreCase(c))
            .getOrElse(throw new IllegalArgumentException(
              s"bloom column '$c' is not in the table schema " +
                s"(${schemaV.fieldNames.mkString(", ")})"))
          require(graft.log.Bloom.hashableType(field.dataType),
            s"bloom column '$c' must be an integral or string " +
            s"type (canonical-string hashing), got ${field.dataType.sql}")
        }
      }
      else if (k == GwTable.ClusterByProp) {
        val cols = v.split(",").map(_.trim).filter(_.nonEmpty)
        val schemaV = snapshot().schema
        require(cols.nonEmpty, "graft.clusterBy needs at least one column")
        cols.foreach(c => require(schemaV.fieldNames.contains(c),
          s"CLUSTER BY column '$c' is not in the table schema " +
            s"(${schemaV.fieldNames.mkString(", ")})"))
      }
      else if (k.startsWith(GwTable.IdentityPrefix)) {
        if (!k.endsWith(".highWaterMark")) {
          val colName = k.stripPrefix(GwTable.IdentityPrefix)
          GwTable.parseIdentitySpec(v)
          val snapI = snapshot()
          val field = snapI.schema.fields.find(_.name.equalsIgnoreCase(colName))
            .getOrElse(throw new IllegalArgumentException(
              s"identity column '$colName' is not in the table schema " +
                s"(${snapI.schema.fieldNames.mkString(", ")})"))
          require(field.dataType == org.apache.spark.sql.types.LongType ||
            field.dataType == org.apache.spark.sql.types.IntegerType,
            s"identity column '$colName' must be BIGINT or INT, " +
              s"got ${field.dataType.sql}")
          // the NULL-slot-means-allocate convention needs a nullable slot:
          // on a NOT NULL column Spark's own null assertion fires before
          // the allocator can run
          require(field.nullable,
            s"identity column '$colName' must be nullable (the omitted " +
              "column arrives as a NULL slot and is allocated in-flight)")
        }
      }
      else if (k.startsWith("graft.feature.") || k.startsWith("delta.feature.")) {
        // Delta's generic feature-enable property: validate at SET time so
        // a typo'd feature name fails the ALTER, not some later vacuum
        val name = k.stripPrefix("graft.feature.").stripPrefix("delta.feature.")
        require(graft.log.Protocol.SupportedReaderFeatures.contains(name) ||
          graft.log.Protocol.SupportedWriterFeatures.contains(name),
          s"unknown table feature '$name' — this engine supports: " +
            (graft.log.Protocol.SupportedReaderFeatures ++
              graft.log.Protocol.SupportedWriterFeatures).toSeq.sorted.mkString(", "))
        require(Seq("supported", "enabled", "true")
          .exists(v.trim.equalsIgnoreCase),
          s"feature property $k must be 'supported', got '$v'")
      }
      else if (k.startsWith(GwTable.GeneratedPrefix)) {
        // every generated name in play: this ALTER's plus the table's
        val existing = snapForValidate.get.metadata
          .map(_.configuration.keys.toSeq).getOrElse(Nil)
          .filter(_.startsWith(GwTable.GeneratedPrefix))
          .map(_.stripPrefix(GwTable.GeneratedPrefix))
        val declared = set.keys.filter(_.startsWith(GwTable.GeneratedPrefix))
          .map(_.stripPrefix(GwTable.GeneratedPrefix))
        org.apache.spark.sql.graftbridge.GwConstraintRule
          .validateGenerated(spark, k.stripPrefix(GwTable.GeneratedPrefix), v,
            snapForValidate.get.schema, (existing ++ declared).toSet)
      }
    }
    // Second pass, AFTER every static check: rows written BEFORE a
    // generated-column declaration were never enforced, yet
    // GwGeneratedPruning will prune files assuming P = expr holds for
    // EVERY row — a declaration that pre-existing data does not satisfy
    // would silently drop matching files from scans. Delta avoids the
    // hole by only allowing generation expressions at CREATE; we allow
    // the (re)declaration but make it PROVE the invariant over existing
    // data first, with the exact write-enforcement predicate (NULL-safe
    // equality against the expression cast to the column type). One
    // column-pruned scan at ALTER time; empty tables skip it.
    set.foreach { case (k, v) =>
      if (k.startsWith(GwTable.GeneratedPrefix) &&
          snapForValidate.exists(_.files.nonEmpty)) {
        val colName = k.stripPrefix(GwTable.GeneratedPrefix)
        val field = snapForValidate.get.schema.fields
          .find(_.name.equalsIgnoreCase(colName)).get // validated above
        import org.apache.spark.sql.functions.{col, expr, not}
        val violating = toDF.filter(
          not(col(s"`${field.name}`") <=> expr(v).cast(field.dataType)))
        require(violating.isEmpty,
          s"cannot declare generated column '$colName' = ($v): existing " +
            "rows violate the generation invariant (scans would " +
            "silently prune files containing matching rows) — backfill " +
            "the column to match the expression first, e.g. " +
            s"UPDATE ... SET $colName = $v")
      }
    }
    // Each GwTxn attempt commits at exactly its snapshot's version + 1, so
    // a concurrent append landing anywhere inside the validate-to-commit
    // window (the re-validation scan below can take long on a big table)
    // loses this attempt the version race and the next attempt re-runs the
    // validation on a snapshot that includes it.
    GwTxn(gwLog, if (set.nonEmpty) "SET TBLPROPERTIES" else "UNSET TBLPROPERTIES",
        "Upgrade").commit { snap =>
      val meta = alterable(snap)
      // The generated-column invariant above was proven against
      // `snapForValidate`'s FILE SET; a concurrent append planned under
      // pre-ALTER metadata can land rows after that scan that are neither
      // validated nor write-enforced, which GwGeneratedPruning would then
      // silently prune against. Any growth of the file set re-proves the
      // invariant over this attempt's snapshot before the ALTER may
      // commit; committing on top of exactly that snapshot then guarantees
      // no unvalidated file predates the declaration.
      val genKeys = set.keys.filter(_.startsWith(GwTable.GeneratedPrefix)).toSeq
      if (genKeys.nonEmpty && snap.files.nonEmpty) {
        val validated = snapForValidate
          .map(_.files.map(_.path).toSet).getOrElse(Set.empty)
        if (snap.files.exists(f => !validated.contains(f.path))) {
          genKeys.foreach { k =>
            val colName = k.stripPrefix(GwTable.GeneratedPrefix)
            val field = snap.schema.fields
              .find(_.name.equalsIgnoreCase(colName)).get // validated above
            import org.apache.spark.sql.functions.{col, expr, not}
            val violating = versionAsOf(snap.version).filter(
              not(col(s"`${field.name}`") <=> expr(set(k)).cast(field.dataType)))
            require(violating.isEmpty,
              s"cannot declare generated column '$colName' = (${set(k)}): " +
                "rows appended concurrently with this ALTER violate the " +
                "generation invariant — backfill the column to match the " +
                "expression first")
          }
        }
      }
      Seq(meta.copy(configuration = meta.configuration ++ set -- unset))
    }
  }

  /** Live metadata domains (Delta `domainMetadata`): domain name →
    * configuration JSON, at the current snapshot. */
  def domainMetadata: Map[String, String] = snapshot().domains

  /** Set (create or overwrite) a metadata domain — Delta's `domainMetadata`
    * writer feature: an opaque per-table configuration slot keyed by a
    * domain name, the extension point features like clustering hang state
    * on. One metadata-only commit; the first use upgrades the protocol
    * with the `domainMetadata` writer feature in the SAME commit. Returns
    * the committed version. */
  def setDomainMetadata(domain: String, configuration: String): Long = {
    require(domain.nonEmpty, "domain name must be non-empty")
    GwTxn(gwLog, "SET DOMAIN METADATA", "Upgrade")
      .commit(_ => Seq(graft.log.DomainMetadata(domain, configuration)))
  }

  /** Remove a metadata domain by committing its tombstone (`removed =
    * true`) — replaying past it can never resurrect the old configuration.
    * Removing an absent domain fails loudly (a silent no-op would mask a
    * misspelled domain in an operational runbook). Returns the committed
    * version. */
  def removeDomainMetadata(domain: String): Long = {
    GwTxn(gwLog, "REMOVE DOMAIN METADATA", "Upgrade").commit { snap =>
      require(snap.domains.contains(domain),
        s"no metadata domain '$domain' on $tablePath (live domains: " +
          s"${snap.domains.keys.mkString(", ")})")
      Seq(graft.log.DomainMetadata(domain, "", removed = true))
    }
  }

  /**
   * `ALTER TABLE ... DROP FEATURE <name> [TRUNCATE HISTORY]` — the
   * protocol DOWNGRADE path (Delta's drop-feature contract, the exit door
   * the auto-upgrade in [[graft.log.GwLog]] has no reverse for). Dropping
   * is refused until the feature is genuinely unused:
   *
   *  1. The CURRENT snapshot must carry no trace (live deletion vectors,
   *     a mapped schema, an enabling table property, live domains, ...) —
   *     each refusal names the maintenance step that clears it (REORG,
   *     UNSET TBLPROPERTIES, ...).
   *  2. For READER features the retained HISTORY must be trace-free too: a
   *     downgraded reader replays old commits, and an add carrying a
   *     deletion vector (or a mapped schema, NTZ column, v2-checkpoint
   *     policy) in any retained version would be misread. `TRUNCATE
   *     HISTORY` clears this the way Delta does — checkpoint the head,
   *     expire every older version (time travel below the checkpoint is
   *     deliberately lost) — and is required exactly when traces remain.
   *     Writer-only features skip this: an old reader never ran the
   *     write-path enforcement in the first place.
   *
   * The downgrade itself is one metadata-scale commit (a [[graft.log.Protocol]]
   * with the feature removed from both lists), re-validated against the
   * fresh snapshot on every OCC retry so a concurrent writer re-using the
   * feature aborts the drop instead of being stranded unreadable. History
   * walks are one small-object read per retained version — maintenance
   * cost, independent of data size. Returns the committed version.
   */
  def dropFeature(feature: String, truncateHistory: Boolean = false): Long = {
    import graft.log.Protocol
    val snap0 = gwLog.snapshot(None)
    val p0 = snap0.protocol.getOrElse(throw new IllegalArgumentException(
      s"$tablePath uses the legacy protocol — it lists no table features to drop"))
    def listed(p: Protocol): Boolean =
      p.readerFeatures.getOrElse(Nil).contains(feature) ||
        p.writerFeatures.getOrElse(Nil).contains(feature)
    require(listed(p0),
      s"feature '$feature' is not in $tablePath's protocol (reader: " +
        s"${p0.readerFeatures.getOrElse(Nil).mkString(", ")}; writer: " +
        s"${p0.writerFeatures.getOrElse(Nil).mkString(", ")})")
    GwTable.featureTraceInSnapshot(feature, snap0).foreach(msg =>
      throw new IllegalStateException(
        s"cannot drop feature '$feature' from $tablePath: $msg"))
    var truncated = false
    if (p0.readerFeatures.getOrElse(Nil).contains(feature)) {
      def traced: Seq[Long] = gwLog.listVersions().filter(v =>
        gwLog.readVersion(v).exists(GwTable.actionUsesFeature(feature, _)))
      val before = traced
      if (before.nonEmpty && !truncateHistory)
        throw new IllegalStateException(
          s"cannot drop reader feature '$feature' from $tablePath: retained " +
            s"history still carries it (version${if (before.size == 1) "" else "s"} " +
            s"${before.take(8).mkString(", ")}${if (before.size > 8) ", ..." else ""}) " +
            "and a downgraded reader would misread those versions. Re-run as " +
            s"ALTER TABLE ... DROP FEATURE $feature TRUNCATE HISTORY to " +
            "checkpoint the head and expire them (time travel below the new " +
            "checkpoint is lost)")
      if (truncateHistory && before.nonEmpty) {
        gwLog.latestVersion().foreach(gwLog.writeCheckpoint)
        cleanupMetadata(retentionMs = 0L)
        val after = traced
        require(after.isEmpty,
          s"TRUNCATE HISTORY left feature traces at version" +
            s"${if (after.size == 1) "" else "s"} ${after.mkString(", ")} — " +
            "the head commit itself still uses the feature; clear the " +
            "current state first")
        truncated = true
      }
    }
    GwTxn(gwLog, "DROP FEATURE", "Downgrade").commit { snap =>
      GwTable.featureTraceInSnapshot(feature, snap).foreach(msg =>
        throw new IllegalStateException(
          s"cannot drop feature '$feature' from $tablePath: a concurrent " +
            s"commit re-introduced it ($msg)"))
      val p = snap.protocol.getOrElse(Protocol())
      val down0 = p.copy(
        readerFeatures = p.readerFeatures.map(_.filterNot(_ == feature)),
        writerFeatures = p.writerFeatures.map(_.filterNot(_ == feature)))
      // checkpointProtection (Delta 4.x): a truncating drop leaves the
      // boundary checkpoint as the ONLY safe bootstrap point for
      // downgraded readers — the SAME commit marks every version up to
      // and including this downgrade as protected
      // (`requireCheckpointProtectionBeforeVersion` = this commit + 1),
      // so later metadata cleanup must clear past the boundary in one
      // run or touch nothing ([[graft.log.GwLog.cleanupExpiredLogs]])
      val down =
        if (!truncated) down0
        else down0.copy(writerFeatures = Some(
          (down0.writerFeatures.getOrElse(Nil).toSet + "checkpointProtection")
            .toSeq.sorted))
      val metaRestate: Seq[Action] =
        if (!truncated) Nil
        else snap.metadata.toSeq.map(m => m.copy(configuration =
          m.configuration + ("delta.requireCheckpointProtectionBeforeVersion"
            -> (snap.version + 2).toString)))
      metaRestate :+ down
    }
  }

  /** Commit history as a DataFrame (version, timestamp, operation, ...). */
  def history: DataFrame = {
    import spark.implicits._
    gwLog.history().map {
      // the effective timestamp IS the time-travel clock: the monotonic
      // in-commit timestamp when the table enables ICT, wall clock else
      case (v, Some(c)) =>
        (v, c.effectiveTimestamp, c.operation, c.mode, c.numFiles, c.numOutputBytes,
          c.isBlindAppend, c.userMetadata.orNull)
      case (v, None) => (v, 0L, "UNKNOWN", "", 0L, 0L, false, null: String)
    }.toDF("version", "timestamp", "operation", "mode", "numFiles", "numOutputBytes", "isBlindAppend",
      "userMetadata")
  }

  /** Reads go through the `gwdelta` connector so they inherit stats-based
    * file skipping on top of Catalyst's pushdown/pruning; the connector
    * resolves the snapshot exactly once per read (empty file sets included —
    * covered by GwDeltaSourceSpec). */
  private def asDF(version: Option[Long]): DataFrame = {
    val reader = spark.read.format("gwdelta")
    version.foreach(v => reader.option("versionAsOf", v))
    reader.load(tablePath)
  }
}

object GwTable {
  def forPath(spark: SparkSession, tablePath: String): GwTable = new GwTable(spark, tablePath)

  /**
   * `CONVERT TO GWDELTA parquet.`<dir>`` — in-place conversion of a plain
   * parquet directory into a gwdelta table (Delta's CONVERT TO DELTA
   * parity): ONE bootstrap commit whose adds point at the existing files
   * where they lie — zero bytes move, and the directory is instantly a
   * transactional table (time travel from v0, DML, streaming, OPTIMIZE).
   * Per-file footer stats are harvested during the listing, so the very
   * first query plans with stats-based file skipping. The schema is
   * Spark's own parquet inference over the directory (footer-based).
   *
   * The original files keep the same contract as indexed CDA sources:
   * they are the read-only bootstrap data, never vacuum candidates —
   * maintenance rewrites land under the engine's owned namespaces.
   * Hive-partitioned layouts (`col=value` dirs, where the column exists
   * only in the directory name) are refused with guidance: the engine's
   * partition model keeps real columns in the data files.
   */
  def convert(spark: SparkSession, dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val log = graft.log.GwLog.forTable(conf, dir)
    require(!log.exists(),
      s"$dir is already a gwdelta table — CONVERT is for plain parquet " +
        "directories")
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    require(fs.exists(root), s"CONVERT: no such directory $dir")
    fs.listStatus(root).find(st => st.isDirectory &&
        st.getPath.getName.contains("=")).foreach(st =>
      throw new IllegalArgumentException(
        s"CONVERT: $dir is hive-partitioned (${st.getPath.getName}); the " +
          "engine keeps partition columns in the data files — rewrite via " +
          "CTAS with PARTITIONED BY instead"))
    val adds = graft.sources.CdaLayout.listParquetFiles(conf, root.toString,
      withStats = true).toSeq
    require(adds.nonEmpty, s"CONVERT: no parquet files under $dir")
    val schema = spark.read.parquet(dir).schema
    GwTxn(log, "CONVERT", s"parquet.$dir", isBlindAppend = true)
      .commitOrCreate { fresh =>
        if (fresh.isDefined) throw new IllegalStateException(
          s"concurrent table creation at $dir raced the CONVERT; the " +
            "directory is already a table")
        Seq(graft.log.Protocol(), graft.log.Metadata(
          id = java.util.UUID.randomUUID().toString,
          schemaString = schema.json,
          createdTime = System.currentTimeMillis())) ++ adds
      }
  }

  /** Delta `delta.appendOnly` (the appendOnly writer feature): row removal
    * of any kind — DELETE/UPDATE/MERGE-with-matches, TRUNCATE, OVERWRITE,
    * RESTORE, deletion vectors — is refused on an append-only table.
    * Maintenance rewrites (`dataChange = false`) stay legal, per spec. */
  private[graft] def assertNotAppendOnly(tablePath: String,
      snap: graft.log.Snapshot, operation: String): Unit = {
    val conf = snap.metadata.map(_.configuration).getOrElse(Map.empty)
    val on = Seq("graft.appendOnly", "delta.appendOnly")
      .exists(k => conf.get(k).exists(_.trim.equalsIgnoreCase("true")))
    require(!on,
      s"$operation on $tablePath is forbidden: the table is append-only " +
        "(appendOnly); unset the property to allow row removal")
  }

  /** Table-property namespace whose values are CHECK constraint SQL
    * expressions (Delta stores its constraints the same way, under
    * `delta.constraints.*`). */
  val ConstraintPrefix = "graft.constraints."

  /** Declared clustering columns (liquid-clustering role): applied by
    * every OPTIMIZE that has no explicit ZORDER BY. Set via
    * `CREATE TABLE ... CLUSTER BY (a, b)` or TBLPROPERTIES. */
  val ClusterByProp = "graft.clusterBy"

  /** Table-property namespace recording the ON-FILE names of DROPPED
    * columns (column mapping): a re-added logical name gets a fresh
    * physical name so dropped bytes never resurrect. */
  val DroppedPhysicalPrefix = "graft.columnMapping.dropped."

  /** Table-property namespace declaring IDENTITY columns: the value is
    * `"<start>,<step>"` (Delta `GENERATED ALWAYS AS IDENTITY (START WITH s
    * INCREMENT BY k)`); the engine maintains
    * `graft.identity.<col>.highWaterMark` — the furthest allocated value —
    * and advances it atomically inside every allocating commit. */
  val IdentityPrefix = "graft.identity."

  /** Parse an identity spec `"<start>,<step>"`; step must be nonzero. */
  def parseIdentitySpec(spec: String): (Long, Long) = {
    val parts = spec.split(",").map(_.trim)
    require(parts.length == 2 && parts.forall(p => scala.util.Try(p.toLong).isSuccess),
      s"identity spec must be '<start>,<step>', got: '$spec'")
    val (start, step) = (parts(0).toLong, parts(1).toLong)
    require(step != 0L, "identity step must be nonzero")
    (start, step)
  }

  /** Table-property namespace declaring GENERATED columns: the value is
    * the generation SQL expression over the row's non-generated columns
    * (Delta's `GENERATED ALWAYS AS`, property form — enforced/computed on
    * the ingest path by the injected rule, see
    * [[org.apache.spark.sql.graftbridge.GwConstraintRule]]). */
  val GeneratedPrefix = "graft.generated."

  /** Does the CURRENT snapshot still use `feature`? Some(guidance) when it
    * does — every refusal names the maintenance step that clears the trace
    * — None when the feature is droppable as far as current state goes. */
  private[graft] def featureTraceInSnapshot(
      feature: String, snap: Snapshot): Option[String] = {
    val conf = snap.metadata.map(_.configuration).getOrElse(Map.empty)
    def propOn(base: String): Boolean = Seq(s"graft.$base", s"delta.$base")
      .exists(k => conf.get(k).exists(_.trim.equalsIgnoreCase("true")))
    def unsetMsg(base: String): Option[String] =
      if (propOn(base))
        Some(s"table property graft.$base is still true — " +
          s"ALTER TABLE ... UNSET TBLPROPERTIES ('graft.$base') first")
      else None
    def prefixed(prefix: String, what: String): Option[String] = {
      val ks = conf.keys.filter(_.startsWith(prefix)).toSeq.sorted
      if (ks.nonEmpty)
        Some(s"$what still declared (${ks.take(4).mkString(", ")}" +
          s"${if (ks.size > 4) ", ..." else ""}) — unset them first")
      else None
    }
    def hasNtz(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.TimestampNTZType => true
      case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => hasNtz(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hasNtz(a.elementType)
      case m: org.apache.spark.sql.types.MapType => hasNtz(m.keyType) || hasNtz(m.valueType)
      case _ => false
    }
    feature match {
      case "deletionVectors" =>
        val n = snap.files.count(_.dv.isDefined)
        if (n > 0)
          Some(s"$n live file${if (n == 1) "" else "s"} still carry deletion " +
            "vectors — run REORG TABLE ... APPLY (PURGE) first")
        else None
      case "columnMapping" =>
        if (graft.log.ColumnMapping.hasMapping(snap.schema) ||
            conf.keys.exists(_.startsWith(DroppedPhysicalPrefix)))
          Some("the schema is still mapped (or dropped-column tombstones " +
            "remain) — run REORG TABLE ... APPLY (PURGE) first")
        else None
      case "timestampNtz" =>
        val cols = snap.schema.fields.filter(f => hasNtz(f.dataType)).map(_.name)
        if (cols.nonEmpty)
          Some(s"column${if (cols.length == 1) "" else "s"} " +
            s"${cols.mkString(", ")} still typed TIMESTAMP_NTZ — change the " +
            "type (or drop the column) first")
        else None
      case "typeWidening" =>
        unsetMsg("enableTypeWidening").orElse {
          val widened = snap.schema.fields
            .filter(f => Option(f.metadata).exists(_.contains("gwTypeChanges")))
            .map(_.name)
          if (widened.nonEmpty)
            Some(s"column${if (widened.length == 1) "" else "s"} " +
              s"${widened.mkString(", ")} carr${if (widened.length == 1) "ies" else "y"} " +
              "recorded type changes; files written under the narrow type " +
              "still need up-conversion — REORG TABLE ... APPLY (PURGE) " +
              "rewrites them and clears the records")
          else None
        }
      case "v2Checkpoint" =>
        if (Seq("graft.checkpointPolicy", "delta.checkpointPolicy")
            .exists(k => conf.get(k).exists(_.trim.equalsIgnoreCase("v2"))))
          Some("checkpointPolicy is still 'v2' — ALTER TABLE ... UNSET " +
            "TBLPROPERTIES ('graft.checkpointPolicy') first")
        else None
      case "changeDataFeed" => unsetMsg("enableChangeDataFeed")
      case "inCommitTimestamp" => unsetMsg("enableInCommitTimestamps")
      case "appendOnly" => unsetMsg("appendOnly")
      case "rowTracking" => unsetMsg("enableRowTracking")
      case "checkConstraints" => prefixed(ConstraintPrefix, "CHECK constraints")
      case "generatedColumns" => prefixed(GeneratedPrefix, "generated columns")
      case "identityColumns" => prefixed(IdentityPrefix, "identity columns")
      case "allowColumnDefaults" =>
        if (snap.metadata.exists(_.schemaString.contains("CURRENT_DEFAULT")))
          Some("columns still declare defaults — ALTER TABLE ... ALTER " +
            "COLUMN ... DROP DEFAULT first")
        else None
      case "domainMetadata" =>
        if (snap.domains.nonEmpty)
          Some(s"live metadata domains remain (${snap.domains.keys.mkString(", ")}) " +
            "— remove them first")
        else None
      case "checkpointProtection" =>
        val ks = Seq("graft.requireCheckpointProtectionBeforeVersion",
          "delta.requireCheckpointProtectionBeforeVersion").filter(conf.contains)
        if (ks.nonEmpty)
          Some(s"table property ${ks.head} is still set — the history " +
            "below it still needs its boundary checkpoint; UNSET " +
            s"TBLPROPERTIES ('${ks.head}') only once every retained " +
            "checkpoint sits at or above that version")
        else None
      case "vacuumProtocolCheck" =>
        val ks = Seq("graft.feature.vacuumProtocolCheck",
          "delta.feature.vacuumProtocolCheck").filter(conf.contains)
        if (ks.nonEmpty)
          Some(s"table property ${ks.head} is still set — ALTER TABLE ... " +
            s"UNSET TBLPROPERTIES ('${ks.head}') first")
        else None
      case other =>
        Some(s"this engine does not know how to verify '$other' is unused; " +
          "refusing to downgrade blindly")
    }
  }

  /** Does one LOGGED action use `feature`? The retained-history scan
    * behind reader-feature drops: any true hit in any retained version
    * means a downgraded reader would misread that version. */
  private[graft] def actionUsesFeature(feature: String, a: Action): Boolean =
    (feature, a) match {
      case ("deletionVectors", add: AddFile) => add.dv.isDefined
      case ("columnMapping", m: Metadata) =>
        m.schemaString.contains(graft.log.ColumnMapping.PhysicalNameKey) ||
          m.configuration.keys.exists(_.startsWith(DroppedPhysicalPrefix))
      case ("timestampNtz", m: Metadata) =>
        m.schemaString.contains("timestamp_ntz")
      case ("typeWidening", m: Metadata) =>
        m.schemaString.contains("gwTypeChanges") ||
          Seq("graft.enableTypeWidening", "delta.enableTypeWidening")
            .exists(k => m.configuration.get(k).exists(_.trim.equalsIgnoreCase("true")))
      case ("v2Checkpoint", m: Metadata) =>
        Seq("graft.checkpointPolicy", "delta.checkpointPolicy")
          .exists(k => m.configuration.get(k).exists(_.trim.equalsIgnoreCase("v2")))
      case _ => false
    }

  /** Per-partition-group rewrite jobs with BOUNDED driver-side
    * concurrency: OPTIMIZE/REORG rewrite each partition tuple as its own
    * Spark job (a rewrite may never merge rows across partition values),
    * and running those jobs one by one serializes the whole maintenance
    * pass on driver round trips — at 10k stale partitions that is 10k
    * sequential job submissions, hours of pure orchestration on a 100 TB
    * table while the cluster idles. Spark schedules concurrent jobs from
    * one session fine (FIFO within the pool); 8 in flight keeps the
    * cluster fed without flooding the scheduler. Results keep `items`'
    * order, so commit action order stays deterministic; a failing group
    * rethrows its ORIGINAL exception (typed OCC/validation errors
    * surface unwrapped). */
  private[graft] def concurrentGroups[A, B](items: Seq[A], maxConcurrent: Int = 8)(
      f: A => Seq[B]): Seq[B] =
    if (items.size <= 1) items.flatMap(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(maxConcurrent, items.size))
      try {
        val futs = items.map(a => pool.submit(
          new java.util.concurrent.Callable[Seq[B]] { def call(): Seq[B] = f(a) }))
        futs.flatMap { fut =>
          try fut.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              throw Option(e.getCause).getOrElse(e)
          }
        }
      } finally pool.shutdownNow()
    }

  /** Run `body` with the vacuum retention guard disabled (scoped): the
    * explicit opt-in for DELIBERATE short-retention vacuums — CI cleanup,
    * storage-pressure maintenance on a quiesced table. */
  def withRetentionCheckDisabled[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.graft.vacuum.retentionCheck"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Minimum age before an UNREFERENCED engine-owned file counts as crash
    * debris for `vacuum` — must exceed the longest plausible gap between a
    * sink's parquet write and its log commit (tombstoned files are exempt:
    * a tombstone proves the write completed and was superseded). */
  val DebrisMinAgeMs: Long = 15L * 60 * 1000

  /** Target output-file size for DML rewrites sized by matched volume
    * (merge-on-read UPDATE's updated-row files) — same default as
    * `compact()`. */
  val TargetDmlFileBytes: Long = 128L * 1024 * 1024

  /** Below this many paths/shards a vacuum sweep stays a driver loop (a
    * Spark job's fixed cost dwarfs a handful of deletes); at or above it
    * the sweep ships to executors. Package-visible so tests can pin both
    * paths. */
  private[graft] val VacuumDistributeMin = 256

  /** Control-flow sentinel: a rebase left nothing to commit (all backfill
    * targets were concurrently removed) — abort the commit, return 0. */
  private[graft] final class NothingToCommit extends RuntimeException

  /** Delete (or dry-run probe) `paths`, returning the ones that existed
    * and were affected. Driver loop below [[VacuumDistributeMin]]; a
    * distributed foreach above it — object-store deletes are ~50/s
    * sequential, so a post-OPTIMIZE million-tombstone vacuum needs the
    * cluster. Results collect back as paths only (metadata scale). */
  private[graft] def sweepPaths(spark: org.apache.spark.sql.SparkSession,
      conf: Configuration, paths: Seq[String], dryRun: Boolean): Seq[String] = {
    def sweepLocal(fs: FileSystem, ps: Iterator[String]): Iterator[String] =
      ps.filter { p =>
        val path = new Path(p)
        fs.exists(path) && (dryRun || fs.delete(path, false))
      }
    if (paths.isEmpty) Nil
    else if (paths.size < VacuumDistributeMin) {
      val fs = new Path(paths.head).getFileSystem(conf)
      sweepLocal(fs, paths.iterator).toSeq
    } else {
      val sconf = new SerializableHadoopConf(conf)
      val slices = math.min(paths.size, 64)
      spark.sparkContext.parallelize(paths, slices)
        .mapPartitions { ps =>
          val buf = ps.toArray
          if (buf.isEmpty) Iterator.empty
          else sweepLocal(new Path(buf.head).getFileSystem(sconf.value),
            buf.iterator)
        }.collect().toSeq
    }
  }

  /** Debris sweep over the engine-owned namespaces, sharded by top-level
    * child: each shard recursively lists its subtree and reaps data files
    * (`*.parquet` / DV `*.bin`) that no commit references and that are
    * older than `floor`. Driver loop below [[VacuumDistributeMin]] shards;
    * distributed above it — the LISTING of a 100 TB table's millions of
    * files is the cost, and it parallelizes per shard. `keep` holds every
    * referenced-or-live uriKey (broadcast once, read by all shards). */
  private[graft] def sweepDebris(spark: org.apache.spark.sql.SparkSession,
      conf: Configuration, shards: Seq[String], keep: Set[String],
      floor: Long, dryRun: Boolean): Seq[String] =
    if (shards.isEmpty) Nil
    else if (shards.size < VacuumDistributeMin) {
      val fs = new Path(shards.head).getFileSystem(conf)
      shards.flatMap(s => VacuumSweep.sweepShard(fs, s, keep, floor, dryRun))
    } else {
      val sconf = new SerializableHadoopConf(conf)
      val keepBc = spark.sparkContext.broadcast(keep)
      val slices = math.min(shards.size, 64)
      try spark.sparkContext.parallelize(shards, slices)
        .mapPartitions { ss =>
          val buf = ss.toArray
          if (buf.isEmpty) Iterator.empty
          else {
            val fs = new Path(buf.head).getFileSystem(sconf.value)
            buf.iterator.flatMap(s =>
              VacuumSweep.sweepShard(fs, s, keepBc.value, floor, dryRun))
          }
        }.collect().toSeq
      finally keepBc.unpersist(blocking = false)
    }

  /** Scheme-insensitive identity for a file path: the scan's
    * `_metadata.file_path` comes back as a full URI (`file:///t/p.parquet`)
    * while log paths may be plain (`/t/p.parquet`) — both must key equal. */
  def uriKey(p: String): String = {
    val u = new Path(p).toUri
    Option(u.getAuthority).getOrElse("") + u.getPath
  }

  /** Lossless type widenings the parquet scan up-converts in place
    * (verified against Spark 4.1's vectorized reader): integral up-casts,
    * integral→double, float→double, date→timestamp_ntz, and decimal
    * targets with enough integer digits to hold every source value. */
  def isWidening(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    def intDigits(dt: DataType): Int = dt match {
      case ByteType => 3; case ShortType => 5; case IntegerType => 10
      case LongType => 19; case _ => Int.MaxValue
    }
    (from, to) match {
      case (a, b) if a == b => false
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case (DateType, TimestampNTZType) => true
      case (f @ (ByteType | ShortType | IntegerType | LongType), d: DecimalType) =>
        d.precision - d.scale >= intDigits(f)
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale && t.precision - t.scale >= f.precision - f.scale
      case _ => false
    }
  }

  /** Key for a path that came back from `_metadata.file_path`, which is the
    * URL-ENCODED rendering (space -> %20, literal %xx -> %25xx). Decoding
    * through java.net.URI converges it onto [[uriKey]]'s raw form — without
    * this, files inside partition directories whose values needed escaping
    * (e.g. `grp=a%2Fb c`) fail the snapshot lookup. */
  def uriKeyScanned(p: String): String =
    scala.util.Try(uriKey(new Path(new java.net.URI(p)).toString)).getOrElse(uriKey(p))
}

/** Executor-side worker for `GwTable.sweepDebris`: its own top-level module
  * (Serializable) so the distributed closure captures IT, not the GwTable
  * companion. One shard = one recursive listing = one task. */
private[graft] object VacuumSweep extends Serializable {
  def sweepShard(fs: FileSystem, shard: String, keep: Set[String],
      floor: Long, dryRun: Boolean): Seq[String] = {
    val out = Seq.newBuilder[String]
    val it = fs.listFiles(new Path(shard), /* recursive = */ true)
    while (it.hasNext) {
      val st = it.next()
      val key = GwTable.uriKey(st.getPath.toString)
      val n = st.getPath.getName
      // .bin = DV sidecars: crash debris too when no commit references them
      val isData = !n.startsWith(".") && !n.startsWith("_") &&
        (n.endsWith(".parquet") || n.endsWith(".bin"))
      if (st.isFile && isData && !keep.contains(key) &&
        st.getModificationTime < floor) {
        if (dryRun || fs.delete(st.getPath, false))
          out += st.getPath.toString
      }
    }
    out.result()
  }
}
