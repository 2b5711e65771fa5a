package graft

import graft.log._
import graft.sources.{CdaLayout, Manifest, ManifestEntry, SchemaProbe}
import java.util.UUID
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, max}

/** One CDA commit folder -> one log version (reference package.scala:27-32). */
final case class Batch(
    schemaId: String,
    commitTimestamp: Long,
    filesToAdd: Seq[AddFile],
    metadata: Option[Metadata])

/** Checkpoint row (reference package.scala:34-38). */
final case class BatchResult(
    tableName: String,
    processedSchema: String,
    processedTimestamp: Long,
    processedFiles: Int)

/**
 * The indexer — reference `Guidewire.index` re-expressed Spark-first
 * (SURVEY.md §3.1). Metadata-only: lists CDA folders, probes parquet
 * footers for schema, generates the transaction log; never moves or reads
 * data pages. Parallelism is one Spark task per table (the reference's D1
 * fan-out, Guidewire.scala:71-74) — at 100 TB / thousands of tables the
 * unit of work stays listing-scale, so this distributes linearly.
 *
 * The log is the watermark: every indexed folder commits with the label
 * `gwindex/<schema>/<ts>` ([[indexTxnId]]), so each task reads its table's
 * high-watermark from the newest labelled commit of its own log. An Append
 * run therefore runs one Spark job before the checkpoint save — the
 * fan-out — where the reference first aggregates `_checkpoints` (R1,
 * Guidewire.scala:270-271). `_checkpoints` is still written every run,
 * and is read only for a table whose log carries no label (see
 * [[loadCheckpoints]]).
 */
object Indexer {
  val CheckpointsTable = "_checkpoints"

  /** Metadata.configuration key recording which schema fingerprint a
    * restatement commit belongs to. */
  val FingerprintKey = "gwFingerprint"

  /** Prefix of the txnId every indexed folder commits under. */
  private val IndexTxnPrefix = "gwindex/"

  def index(
      manifestUri: String,
      databasePath: String,
      saveMode: SaveMode = SaveMode.Append,
      enforceGuidewireTimestamp: Boolean = true)(implicit spark: SparkSession): Map[String, Seq[BatchResult]] = {
    require(
      saveMode == SaveMode.Append || saveMode == SaveMode.Overwrite,
      s"Only Append and Overwrite save modes are supported, got $saveMode")
    val manifest = Manifest.read(spark.sparkContext.hadoopConfiguration, manifestUri)
    val fromLogs = processManifest(manifest, Map.empty, databasePath, saveMode, enforceGuidewireTimestamp)
    // a table whose log holds commits but no indexer label committed
    // nothing: rerun it once with its `_checkpoints` watermark
    val unlabelled = fromLogs.collect { case (t, Left(m)) if m == unlabelledLog(t) => t }.toSet
    val outcomes =
      if (unlabelled.isEmpty) fromLogs
      else {
        val checkpoints = loadCheckpoints(databasePath)
        fromLogs ++ processManifest(manifest.filter { case (t, _) => unlabelled(t) },
          unlabelled.map(t => t -> checkpoints.getOrElse(t, -1L)).toMap,
          databasePath, saveMode, enforceGuidewireTimestamp)
      }
    // per-table failure isolation: commits of healthy tables are already
    // durable, so their watermarks are checkpointed even when a sibling
    // table failed
    val ok = outcomes.collect { case (t, Right(r)) => t -> r }
    saveCheckpoints(ok, databasePath, saveMode)
    val errors = outcomes.collect { case (_, Left(msg)) => msg }
    if (errors.nonEmpty)
      throw new IllegalStateException(
        s"indexing failed for ${errors.size} table(s): ${errors.mkString("; ")}")
    ok
  }

  /** JVM proxy-related system properties currently set on this JVM — the
    * settings executor-side FileSystem listings need in proxied
    * environments, which exist only on the driver unless shipped
    * (reference D2 behavior, Guidewire.scala:76-93). */
  def proxyProperties(): Map[String, String] =
    sys.props.toMap.filter { case (k, _) =>
      val lower = k.toLowerCase
      k == "java.net.useSystemProxies" ||
        ((lower.startsWith("http.") || lower.startsWith("https.") ||
          lower.startsWith("ftp.") || lower.startsWith("socks")) &&
          // case-insensitive: the SOCKS keys are socksProxyHost/Port
          (lower.contains("proxy") || lower.contains("nonproxyhosts")))
    }

  /** The `Left` of a table whose log holds commits but no indexer label
    * within [[IndexTxnWalkWindow]] versions — a log the reference wrote, or
    * a longer tail of maintenance commits. */
  private def unlabelledLog(tableName: String): String =
    s"$tableName: no $IndexTxnPrefix commit among the last $IndexTxnWalkWindow " +
      "versions of its log, so its watermark must come from checkpoints"

  /** Fan out one task per table; discovery + commit run executor-side.
    * A table's watermark is its entry in `checkpoints` when it has one,
    * else its own log's ([[logWatermark]]); a table whose log carries no
    * label commits nothing and returns `Left(unlabelledLog(table))`.
    * Failures are isolated per table (Left(error)) so one bad table cannot
    * abort the job before healthy siblings' watermarks are checkpointed. */
  def processManifest(
      manifest: Map[String, ManifestEntry],
      checkpoints: Map[String, Long],
      databasePath: String,
      saveMode: SaveMode,
      enforceGuidewireTimestamp: Boolean)(
      implicit spark: SparkSession): Map[String, Either[String, Seq[BatchResult]]] = {
    if (manifest.isEmpty) return Map.empty
    val sc = spark.sparkContext
    val confB = sc.broadcast(new SerializableHadoopConf(sc.hadoopConfiguration))
    val dbPath = databasePath.stripSuffix("/")
    val proxy = proxyProperties()
    val overwrite = saveMode == SaveMode.Overwrite
    val enforce = enforceGuidewireTimestamp
    try sc.makeRDD(manifest.toSeq, numSlices = manifest.size)
      .map { case (tableName, entry) =>
        proxy.foreach { case (k, v) => System.setProperty(k, v) }
        val outcome =
          try indexTable(confB.value.value, s"$dbPath/$tableName", tableName, entry,
            checkpoints.get(tableName), overwrite, enforce)
          catch {
            case scala.util.control.NonFatal(e) =>
              Left(s"$tableName: ${e.getMessage}")
          }
        tableName -> outcome
      }
      .collect()
      .toMap
    finally confB.destroy()
  }

  /** One table's fan-out task. The log is resolved once: its listing
    * gives the watermark walk its versions, and its snapshot the
    * committed fingerprint. Overwrite skips both and bootstraps. */
  private def indexTable(
      conf: Configuration,
      tablePath: String,
      tableName: String,
      entry: ManifestEntry,
      checkpoint: Option[Long],
      overwrite: Boolean,
      enforce: Boolean): Either[String, Seq[BatchResult]] = {
    val gwLog = GwLog.forTable(conf, tablePath)
    val seg = if (overwrite) LogSegment.of(Nil) else gwLog.segment()
    val head = if (seg.versions.isEmpty) None else Some(gwLog.snapshotIn(seg, None))
    // a missing or empty log has no watermark: the table bootstraps
    val watermark =
      if (head.isEmpty) Some(-1L) else checkpoint.orElse(logWatermark(gwLog, seg.versions))
    watermark match {
      case None => Left(unlabelledLog(tableName))
      case Some(w) =>
        val batches = discoverBatches(conf, entry, w, enforce)
        Right(commitBatches(conf, gwLog, tableName, batches,
          head.flatMap(_.metadata).flatMap(_.configuration.get(FingerprintKey)),
          bootstrap = overwrite || w <= 0L))
    }
  }

  /** The table's high-watermark from its own log: `<ts>` of the newest
    * commit labelled `gwindex/<schema>/<ts>`, walking back from the latest
    * version. Folders commit in timestamp order (CDA timestamps increase
    * across fingerprints, SURVEY §2.6.4), so this is the reference's
    * `max(processedTimestamp)`. The label, not `CommitInfo.timestamp`, is
    * read: in-commit timestamps may adjust the latter. None when the
    * newest [[IndexTxnWalkWindow]] versions carry no label. */
  private def logWatermark(gwLog: GwLog, versions: Seq[Long]): Option[Long] =
    versions.reverseIterator.take(IndexTxnWalkWindow)
      .map(v => gwLog.readVersion(v).collectFirst { case ci: CommitInfo => ci.txnId })
      .collectFirst { case Some(id) if id.startsWith(IndexTxnPrefix) =>
        id.substring(id.lastIndexOf('/') + 1).toLong
      }

  /** Backstop on the backward label walk (a log whose tail is all
    * maintenance commits). */
  private val IndexTxnWalkWindow = 64

  /**
   * Per-table batch assembly (reference D4-D9, Guidewire.scala:111-181):
   * fingerprints in schemaHistory-timestamp order; folders sorted; gated by
   * the manifest watermark (EDGE CASE#1) and the incremental watermark;
   * Metadata attached only to the first folder of each fingerprint. Every
   * in-window folder is listed first, then all of the window's footers are
   * harvested in one parallel call.
   */
  def discoverBatches(
      conf: Configuration,
      entry: ManifestEntry,
      lastProcessedTimestamp: Long,
      enforceGuidewireTimestamp: Boolean): Seq[Batch] = {
    val manifestGate = if (enforceGuidewireTimestamp) entry.lastWriteTs else Long.MaxValue
    final case class Folder(schemaId: String, ts: Long, fingerprintStart: Boolean, files: Array[AddFile])
    val folders = entry.schemaHistory.toList.sortBy(_._2.toLong).map(_._1).flatMap { schemaId =>
      val schemaDir = s"${entry.dataPath}/$schemaId"
      CdaLayout.listTimestampDirectories(conf, schemaDir).sorted.zipWithIndex
        .filter { case (ts, _) => ts <= manifestGate && ts > lastProcessedTimestamp }
        .map { case (ts, j) =>
          Folder(schemaId, ts, j == 0, CdaLayout.listParquetFiles(conf, s"$schemaDir/$ts"))
        }
    }
    val harvested = CdaLayout.withFooterStats(conf, folders.flatMap(_.files).toIndexedSeq)
    // the fingerprint's schema commit belongs on its chronologically first
    // folder — but if that folder is record-less (dropped below), the
    // restatement must ride the first folder that HAS files, else the
    // fingerprint would blind-append under the previous schema
    val needMetadata = scala.collection.mutable.Set(
      folders.filter(_.fingerprintStart).map(_.schemaId): _*)
    folders.zip(folders.scanLeft(0)(_ + _.files.length)).flatMap { case (f, at) =>
      val files = harvested.slice(at, at + f.files.length)
      if (files.isEmpty) None // record-less folder: no batch, not checkpointed
      else {
        val metadata =
          if (!needMetadata.remove(f.schemaId)) None
          else {
            val schemaDir = s"${entry.dataPath}/${f.schemaId}"
            val schema = SchemaProbe.readSchemaFromFiles(conf, files).getOrElse(
              throw new IllegalStateException(
                s"cannot probe a schema for fingerprint ${f.schemaId} from any file of " +
                  s"$schemaDir/${f.ts} — refusing to commit the fingerprint without its " +
                  "restatement metadata"))
            Some(Metadata(
              id = UUID.randomUUID().toString,
              schemaString = schema.json,
              // the fingerprint travels with the schema commit so a
              // later run can detect an uncommitted restatement
              configuration = Map(FingerprintKey -> f.schemaId),
              createdTime = f.ts))
          }
        Some(Batch(f.schemaId, f.ts, files, metadata))
      }
    }
  }

  /** txnId stamped on a folder's commit: the folder IS the batch identity
    * (schema fingerprint + epoch-ms folder name are unique per table), so a
    * later run reads its watermark back from the log. The `gwindex/` prefix
    * namespaces indexer commits away from sink/maintenance txnIds. */
  def indexTxnId(batch: Batch): String =
    s"$IndexTxnPrefix${batch.schemaId}/${batch.commitTimestamp}"

  /** Commit batches oldest->newest; one folder = one log version (K1-K3).
    * `committedFingerprint` is the table's before this run (None on an
    * empty log); it is tracked through this run's own commits.
    *
    * Crash recovery (a documented deviation from the reference, SURVEY
    * §2.6.5): the next run's watermark comes from this log, not from
    * `_checkpoints`. After a crash between a table's commits and the
    * checkpoint save, the reference re-delivers the committed folders and
    * re-commits them as duplicate versions; here the rerun neither
    * re-commits nor re-reports them, and `_checkpoints` catches up when the
    * table's next folder lands. */
  def commitBatches(
      conf: Configuration,
      gwLog: GwLog,
      tableName: String,
      batches: Seq[Batch],
      committedFingerprint: Option[String],
      bootstrap: Boolean): Seq[BatchResult] = {
    if (batches.isEmpty) return Nil
    if (bootstrap) gwLog.delete()
    var fingerprint = if (bootstrap) None else committedFingerprint
    batches.map { raw =>
      val batch = promoteUncommittedRestatement(conf, fingerprint, raw)
      commitBatch(gwLog, batch)
      if (batch.metadata.isDefined) fingerprint = Some(batch.schemaId)
      BatchResult(tableName, batch.schemaId, batch.commitTimestamp, batch.filesToAdd.size)
    }
  }

  /**
   * Cross-run restatement guard: discovery only attaches Metadata when the
   * fingerprint's chronologically-first folder is inside the current
   * incremental window — but that folder can be record-less and fall below
   * the watermark in an earlier run. If the table's committed fingerprint
   * (stamped in `Metadata.configuration`) differs from this batch's, the
   * restatement never landed: probe the schema from THIS batch's files and
   * commit it as the restatement instead of blind-appending files of a new
   * fingerprint under the old schema.
   */
  private def promoteUncommittedRestatement(
      conf: Configuration, committedFp: Option[String], batch: Batch): Batch = {
    if (batch.metadata.isDefined || !committedFp.exists(_ != batch.schemaId)) return batch
    val schema = SchemaProbe.readSchemaFromFiles(conf, batch.filesToAdd)
      .getOrElse(throw new IllegalStateException(
        s"fingerprint ${batch.schemaId} differs from the table's committed " +
          s"fingerprint ${committedFp.get} but no schema could be probed from " +
          s"its files (ts=${batch.commitTimestamp}) — refusing to blind-append"))
    batch.copy(metadata = Some(Metadata(
      id = UUID.randomUUID().toString,
      schemaString = schema.json,
      configuration = Map(FingerprintKey -> batch.schemaId),
      createdTime = batch.commitTimestamp)))
  }

  /**
   * K1 (blind append) / K2 (schema change = restatement: remove every live
   * file, golden v2) / K3 (bootstrap: protocol + metaData, golden v0).
   *
   * Commit operations mirror the reference's runtime behavior
   * (Guidewire.scala:231-240 via delta-standalone `Operation`): CREATE
   * TABLE for the bootstrap commit, UPGRADE SCHEMA for a fingerprint
   * restatement, WRITE for appends. (The reference repo's hand-made golden
   * fixtures say WRITE everywhere; its runtime does not — we match the
   * runtime, so `GwTable.history` shows the real operation per commit.)
   */
  def commitBatch(gwLog: GwLog, batch: Batch): Long = {
    // the folder's txnId labels the commit for the watermark walk; it is
    // no stream tag, so the log carries no txn action for it
    val txn = GwTxn(gwLog, "WRITE", "Append", isBlindAppend = true,
      txnId = Some(indexTxnId(batch)), exactlyOnce = false,
      timestamp = Some(batch.commitTimestamp))
    batch.metadata match {
      case Some(md) =>
        txn.copy(operation = "UPGRADE SCHEMA", mode = "Overwrite",
          isBlindAppend = false, createTable = true).commitOrCreate { fresh =>
          val now = System.currentTimeMillis()
          val removes = fresh.toSeq.flatMap(_.files).map(f => RemoveFile(f.path, f.size, now))
          val protocol: Seq[Action] = if (fresh.isEmpty) Seq(Protocol()) else Nil
          protocol ++ Seq(md) ++ batch.filesToAdd ++ removes
        }
      case None =>
        txn.commitOrCreate { fresh =>
          // fail fast instead of writing a log whose snapshot has no
          // protocol/metaData (unreadable table) — the invariant
          // delta-standalone enforces for the reference at commit time
          if (fresh.isEmpty) throw new IllegalStateException(
            s"refusing bootstrap blind-append at ${gwLog.tablePath}: first commit of a " +
              s"table needs a schema, but none could be probed for fingerprint ${batch.schemaId} " +
              s"(ts=${batch.commitTimestamp})")
          batch.filesToAdd
        }
    }
  }

  // ---- checkpoints (reference Guidewire.scala:248-282) ----

  def checkpointsPath(databasePath: String): String =
    s"${databasePath.stripSuffix("/")}/$CheckpointsTable"

  /** Legacy pre-log checkpoint layouts kept plain parquet files directly in
    * the directory; engine dirs (`_delta_log`, `_stream`) don't count — a
    * crash that wrote a `_stream` batch but never its bootstrap commit
    * must read as "no checkpoints yet", not poison every later load. */
  private def hasLegacyParquet(databasePath: String)(implicit spark: SparkSession): Boolean = {
    val path = new Path(checkpointsPath(databasePath))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(path) && fs.listStatus(path).exists { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith(".") && !n.startsWith("_")
    }
  }

  /** Per-table high-watermark: groupBy(max) over the checkpoint table (R1).
    * An Append run reads it only as a fallback, once, for the tables whose
    * logs carry no indexer label (tables migrated from the reference);
    * every other table's watermark comes from its own log. */
  def loadCheckpoints(databasePath: String)(implicit spark: SparkSession): Map[String, Long] = {
    val log = GwLog.forTable(
      spark.sparkContext.hadoopConfiguration, checkpointsPath(databasePath))
    if (!log.exists() && !hasLegacyParquet(databasePath)) Map.empty
    else {
      import spark.implicits._
      checkpointsDF(databasePath)
        .groupBy("tableName")
        .agg(max("processedTimestamp").alias("processedTimestamp"))
        .as[(String, Long)]
        .collect()
        .toMap
    }
  }

  /**
   * Checkpoints ride the engine's OWN transaction log (a gwdelta table,
   * like the reference persists `_checkpoints` as a Delta table,
   * Guidewire.scala:261): each run's rows are one atomic `GwSink.append`
   * commit, so a crash mid-write can no longer leave a partial parquet
   * file that poisons every later `loadCheckpoints` — readers only see
   * committed files. Append mode accumulates history exactly like the
   * reference; Overwrite drops the table first.
   */
  def saveCheckpoints(
      results: Map[String, Seq[BatchResult]],
      databasePath: String,
      saveMode: SaveMode)(implicit spark: SparkSession): Unit = {
    val rows = results.values.flatten.toSeq
    if (rows.isEmpty) return
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val path = checkpointsPath(databasePath)
    if (saveMode == SaveMode.Overwrite) GwLog.forTable(conf, path).delete()
    var df = rows.toDF("tableName", "processedSchema", "processedTimestamp", "processedFiles")
    // legacy migration: a pre-log plain-parquet checkpoint dir would become
    // invisible the moment a log bootstraps next to it — fold its rows into
    // the bootstrap commit (duplicates are harmless under groupBy/max)
    if (saveMode == SaveMode.Append && !GwLog.forTable(conf, path).exists() &&
        hasLegacyParquet(databasePath)) {
      val legacy = spark.read.parquet(path).select(df.columns.map(col): _*)
      df = df.unionByName(legacy)
    }
    graft.streaming.GwSink.append(df, path)
    ()
  }

  /** The checkpoint table through its log; legacy plain-parquet checkpoint
    * directories (pre-log layouts) read via a raw parquet scan. A dir
    * holding neither (only crash debris) has no rows to serve. */
  def checkpointsDF(databasePath: String)(implicit spark: SparkSession): DataFrame = {
    val path = checkpointsPath(databasePath)
    val log = GwLog.forTable(spark.sparkContext.hadoopConfiguration, path)
    if (log.exists()) GwTable.forPath(spark, path).toDF
    else {
      require(hasLegacyParquet(databasePath),
        s"no checkpoint table at $path (neither a transaction log nor legacy parquet)")
      spark.read.parquet(path)
    }
  }
}
