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
 */
object Indexer {
  val CheckpointsTable = "_checkpoints"

  /** Metadata.configuration key recording which schema fingerprint a
    * restatement commit belongs to. */
  val FingerprintKey = "gwFingerprint"

  def index(
      manifestUri: String,
      databasePath: String,
      saveMode: SaveMode = SaveMode.Append,
      enforceGuidewireTimestamp: Boolean = true)(implicit spark: SparkSession): Map[String, Seq[BatchResult]] = {
    require(
      saveMode == SaveMode.Append || saveMode == SaveMode.Overwrite,
      s"Only Append and Overwrite save modes are supported, got $saveMode")
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val checkpoints: Map[String, Long] =
      if (saveMode == SaveMode.Append) loadCheckpoints(databasePath) else Map.empty
    val manifest = Manifest.read(hadoopConf, manifestUri)
    val outcomes = processManifest(manifest, checkpoints, databasePath, saveMode, enforceGuidewireTimestamp)
    // per-table failure isolation: commits of healthy tables are already
    // durable, so their watermarks MUST be checkpointed even when a sibling
    // table failed — otherwise the next run re-commits their folders and
    // incremental consumers see the rows twice
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

  /** Fan out one task per table; discovery + commit run executor-side.
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
    val checkpointsB = sc.broadcast(checkpoints)
    val dbPathB = sc.broadcast(databasePath)
    val proxyB = sc.broadcast(proxyProperties())
    val overwrite = saveMode == SaveMode.Overwrite
    val enforce = enforceGuidewireTimestamp
    sc.makeRDD(manifest.toSeq, numSlices = manifest.size)
      .map { case (tableName, entry) =>
        proxyB.value.foreach { case (k, v) => System.setProperty(k, v) }
        val conf = confB.value.value
        val lastProcessed = checkpointsB.value.getOrElse(tableName, -1L)
        val outcome =
          try {
            val batches = discoverBatches(conf, entry, lastProcessed, enforce)
            Right(commitBatches(
              conf, s"${dbPathB.value.stripSuffix("/")}/$tableName", tableName, batches,
              bootstrap = overwrite || lastProcessed <= 0L))
          } catch {
            case scala.util.control.NonFatal(e) =>
              Left(s"$tableName: ${e.getMessage}")
          }
        tableName -> outcome
      }
      .collect()
      .toMap
  }

  /**
   * Per-table batch assembly (reference D4-D9, Guidewire.scala:111-181):
   * fingerprints in schemaHistory-timestamp order; folders sorted; gated by
   * the manifest watermark (EDGE CASE#1) and the incremental checkpoint;
   * Metadata attached only to the first folder of each fingerprint.
   */
  def discoverBatches(
      conf: Configuration,
      entry: ManifestEntry,
      lastProcessedTimestamp: Long,
      enforceGuidewireTimestamp: Boolean): Seq[Batch] = {
    val manifestGate = if (enforceGuidewireTimestamp) entry.lastWriteTs else Long.MaxValue
    val fingerprints = entry.schemaHistory.toList.sortBy(_._2.toLong).map(_._1).zipWithIndex
    val indexed = fingerprints.flatMap { case (schemaId, i) =>
      val schemaDir = s"${entry.dataPath}/$schemaId"
      val timestamps = CdaLayout.listTimestampDirectories(conf, schemaDir).sorted.zipWithIndex
      val inWindow = timestamps
        .filter { case (ts, _) => ts <= manifestGate && ts > lastProcessedTimestamp }
      // the fingerprint's schema commit belongs on its chronologically first
      // folder — but if that folder is record-less (dropped below), the
      // restatement must ride the first folder that HAS files, else the
      // fingerprint would blind-append under the previous schema
      val isFingerprintStart = inWindow.headOption.exists(_._2 == 0)
      var needMetadata = isFingerprintStart
      inWindow
        .flatMap { case (ts, j) =>
          val files = CdaLayout.listParquetFiles(conf, s"$schemaDir/$ts", withStats = true)
          if (files.isEmpty) None // record-less folder: no batch, not checkpointed
          else {
            val metadata =
              if (needMetadata) {
                // the fingerprint's restatement MUST ride its first folder
                // with files; committing that folder without a schema would
                // blind-append new-fingerprint files under the old schema
                val probed = SchemaProbe.readSchemaFromFiles(conf, files.toSeq)
                if (probed.isEmpty) throw new IllegalStateException(
                  s"cannot probe a schema for fingerprint $schemaId from any file of " +
                    s"$schemaDir/$ts — refusing to commit the fingerprint without its " +
                    "restatement metadata")
                needMetadata = false
                probed.map { schema =>
                  Metadata(
                    id = UUID.randomUUID().toString,
                    schemaString = schema.json,
                    // the fingerprint travels with the schema commit so a
                    // later run can detect an uncommitted restatement
                    configuration = Map(FingerprintKey -> schemaId),
                    createdTime = ts)
                }
              }
              else None
            Some(((i, j), Batch(schemaId, ts, files.toSeq, metadata)))
          }
        }
    }
    indexed.sortBy(_._1).map(_._2)
  }

  /** txnId stamped on a folder's commit: the folder IS the batch identity
    * (schema fingerprint + epoch-ms folder name are unique per table), so a
    * rerun can recognize its own earlier commit. The `gwindex/` prefix
    * namespaces indexer commits away from sink/maintenance txnIds. */
  def indexTxnId(batch: Batch): String =
    s"gwindex/${batch.schemaId}/${batch.commitTimestamp}"

  /** Commit batches oldest->newest; one folder = one log version (K1-K3).
    *
    * Re-commit idempotence (documented deviation from the reference,
    * SURVEY §2.6.5): checkpoints are saved only after every table
    * succeeds, so a crash between a table's commits and the checkpoint
    * write re-delivers already-committed folders on rerun. The reference
    * re-commits them as duplicate versions (snapshot converges, history
    * polluted); here the folder's txnId is matched against the recent log
    * tail and an already-committed folder is SKIPPED — but still reported
    * in `BatchResult`s so this run's checkpoint write repairs the
    * watermark. */
  def commitBatches(
      conf: Configuration,
      tablePath: String,
      tableName: String,
      batches: Seq[Batch],
      bootstrap: Boolean): Seq[BatchResult] = {
    if (batches.isEmpty) return Nil
    val gwLog = GwLog.forTable(conf, tablePath)
    if (bootstrap) gwLog.delete()
    // lazy BACKWARD walk with early stop: indexer commits land in folder-
    // timestamp order (CDA timestamps increase, §2.6.4), so the first
    // gwindex commit older than the oldest candidate proves nothing
    // earlier can match — in the steady state this reads ONE version
    // file, not a 64-version tail; the window stays as a backstop
    val committedTxns = scala.collection.mutable.Set.empty[String]
    val versions = gwLog.listVersions().reverseIterator
    if (versions.hasNext) {
      val oldestCandidate = batches.map(_.commitTimestamp).min
      val window = math.max(IndexTxnWalkWindow, batches.size + 8)
      var inspected = 0
      var stop = false
      while (versions.hasNext && !stop && inspected < window) {
        val v = versions.next()
        inspected += 1
        gwLog.readVersion(v).collectFirst { case ci: CommitInfo => ci }.foreach { ci =>
          if (ci.txnId.startsWith("gwindex/")) {
            committedTxns += ci.txnId
            if (ci.timestamp < oldestCandidate) stop = true
          }
        }
      }
    }
    batches.map { raw =>
      val batch = promoteUncommittedRestatement(conf, gwLog, raw)
      if (!committedTxns.contains(indexTxnId(batch))) commitBatch(gwLog, batch)
      BatchResult(tableName, batch.schemaId, batch.commitTimestamp, batch.filesToAdd.size)
    }
  }

  /** Backstop on the backward txn walk when the early-stop condition never
    * fires (e.g. a log whose tail is all maintenance commits). */
  private val IndexTxnWalkWindow = 64

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
      conf: Configuration, gwLog: GwLog, batch: Batch): Batch = {
    if (batch.metadata.isDefined) return batch
    val committedFp = gwLog.latestSnapshot().flatMap(_.metadata)
      .flatMap(_.configuration.get(FingerprintKey))
    if (!committedFp.exists(_ != batch.schemaId)) return batch
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
    // the folder's txnId labels the commit for the backward walk above; it
    // is no stream tag, so the log carries no txn action for it
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

  /** Per-table high-watermark: groupBy(max) over the checkpoint table (R1). */
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
