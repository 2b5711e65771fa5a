package graft.log

import java.nio.charset.StandardCharsets
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/**
 * Transaction-log reader/writer over the Hadoop FileSystem API.
 *
 * Log layout mirrors the Delta protocol (as fixed by the reference's golden
 * files, SURVEY.md §2.3): `<tablePath>/_delta_log/<%020d-version>.json`,
 * JSON-lines, one action per line. Works on `file://`, `hdfs://`, `s3a://`.
 *
 * Commit concurrency control is optimistic and scheme-aware (see
 * [[GwLog.commitAt]]): atomic create-no-overwrite where the filesystem
 * provides it (file/hdfs); on object stores a CONDITIONAL PUT
 * (If-None-Match, negotiated via Hadoop's createFile() builder must-key)
 * lets the store itself elect the winner, with write-temp + rename-claim
 * as the fallback where the capability is absent.
 * The indexer's fan-out guarantees a single writer per table
 * (reference behavior: one Spark task per table, Guidewire.scala:71-74),
 * so conflicts only arise from concurrent maintenance writers; losers get
 * a [[VersionConflictException]] rather than a silent clobber. Writers
 * commit through [[GwTxn]], which re-validates and retries the loser.
 */
class GwLog(val tablePath: Path, conf: Configuration,
    checkpointInterval: Int = GwLog.DefaultCheckpointInterval,
    private val shareSnapshots: Boolean = false) {
  private val logDir = new Path(tablePath, GwLog.LogDirName)
  private def fs: FileSystem = logDir.getFileSystem(conf)
  private[log] def hadoopConf: Configuration = conf

  def logPathFor(version: Long): Path = new Path(logDir, f"$version%020d.json")

  /** Delta version-checksum naming: `<version>.crc`. */
  def checksumPathFor(version: Long): Path = new Path(logDir, f"$version%020d.crc")

  /** Write `version`'s state summary ([[VersionChecksum]]). Two paths:
    *
    *  - **Incremental** (the hot path): a BLIND append's AddFile paths are
    *    fresh by construction (the engine stages every append under a
    *    UUID directory), so when the previous version's crc exists the new
    *    one is prev + this commit's adds — one small-object read, zero
    *    replay. Guarded strictly: any remove, any DV-carrying or
    *    non-dataChange add, or a non-blind CommitInfo falls through (those
    *    commits can re-assert live paths, which incremental accounting
    *    would double-count).
    *  - **Replay**: everything else recomputes from `snapshot(version)` —
    *    which resumes from the nearest checkpoint/compacted segment like
    *    any reader's, so the non-append write paths re-validate the exact
    *    read path as they go.
    *
    * Without the incremental path a busy table pays O(checkpoint-interval)
    * log reads per commit just for its own summary — at object-store
    * latency that doubles commit round trips. Idempotent: an existing crc
    * (a retried commit, a reader's backfill) is left in place. `post` is
    * the snapshot at `version` when the caller already holds it. */
  def writeChecksum(version: Long, committed: Option[Seq[Action]] = None,
      post: Option[Snapshot] = None): Unit =
      LogMetrics.timed(LogMetrics.checksumNanos, LogMetrics.checksums) {
    val f = fs
    val target = checksumPathFor(version)
    if (f.exists(target)) return
    val crc = incrementalChecksum(version, committed)
      .getOrElse(VersionChecksum.of(post.getOrElse(snapshot(Some(version)))))
    val line = VersionChecksum.toJson(crc)
    val out = f.create(target, false)
    try out.write((line + "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** prev crc + this commit's actions, ONLY when the commit is provably a
    * blind append of fresh paths (see [[writeChecksum]]). */
  private def incrementalChecksum(version: Long,
      committed: Option[Seq[Action]]): Option[VersionChecksum] = {
    if (version == 0) return None
    val actions = committed.getOrElse(readVersion(version))
    val blind = actions.collectFirst { case ci: CommitInfo => ci.isBlindAppend }
      .getOrElse(false)
    val adds = actions.collect { case a: AddFile => a }
    val safe = blind && adds.nonEmpty &&
      adds.forall(a => a.dataChange && a.dv.isEmpty) &&
      !actions.exists(_.isInstanceOf[RemoveFile]) &&
      !actions.exists(_.isInstanceOf[Metadata]) &&
      !actions.exists(_.isInstanceOf[Protocol])
    if (!safe) return None
    readChecksum(version - 1).map { prev =>
      prev.copy(
        tableSizeBytes = prev.tableSizeBytes + adds.map(_.size).sum,
        numFiles = prev.numFiles + adds.size)
    }
  }

  /** The stored checksum at `version` — None when absent OR unparseable
    * (a damaged crc reads as absent; it is advisory, never load-bearing). */
  def readChecksum(version: Long): Option[VersionChecksum] =
    try VersionChecksum.fromJson(readText(checksumPathFor(version)).trim)
    catch { case _: java.io.FileNotFoundException => None }

  private def readText(p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  /** Cross-check this engine's replay of `version` against the stored
    * checksum. Returns the verified checksum when one exists and matches;
    * None when no (parseable) crc is stored; THROWS when a stored crc
    * disagrees with the replay — that means either the log was corrupted
    * after commit or a replay bug is serving a wrong snapshot, and both
    * must stop a pipeline loudly rather than silently mis-serve 100 TB. */
  def verifyChecksum(version: Long): Option[VersionChecksum] =
    readChecksum(version).map { stored =>
      val replayed = VersionChecksum.of(snapshot(Some(version)))
      if (replayed != stored)
        throw new IllegalStateException(
          s"version checksum mismatch at $tablePath v$version: " +
            s"stored $stored but replay computed $replayed — the log was " +
            "damaged after commit or a replay bug is live; do not trust " +
            "this snapshot")
      stored
    }

  def checkpointPathFor(version: Long): Path =
    new Path(logDir, f"$version%020d.checkpoint.parquet")

  /** Delta multi-part checkpoint naming: part `part` of `numParts`
    * (1-based), `<v>.checkpoint.<part>.<numParts>.parquet`. */
  def checkpointPartPathFor(version: Long, part: Int, numParts: Int): Path =
    new Path(logDir, f"$version%020d.checkpoint.$part%010d.$numParts%010d.parquet")

  /** Delta V2 checkpoint naming: `<v>.checkpoint.<uuid>.parquet` — the
    * manifest holding protocol/metadata/txns + checkpointMetadata +
    * sidecar refs; file actions live under [[sidecarDir]]. */
  def checkpointV2PathFor(version: Long, uuid: String): Path =
    new Path(logDir, f"$version%020d.checkpoint.$uuid.parquet")

  /** V2-checkpoint sidecar namespace (Delta `_delta_log/_sidecars/`). */
  def sidecarDir: Path = new Path(logDir, "_sidecars")

  /** One listing of `_delta_log`, parsed ([[LogSegment]]): the only place
    * the log directory is listed; every listing answer below projects one. */
  private[graft] def segment(): LogSegment = LogSegment.list(fs, logDir)

  /** The checkpoint's parquet files at `version`, in part order, as
    * [[LogSegment]] resolves them (Nil for a torn multi-part set). */
  private[graft] def checkpointFilesFor(version: Long): Seq[Path] =
    segment().checkpointFiles(version).map(_.getPath)

  private def lastCheckpointPath: Path = new Path(logDir, "_last_checkpoint")

  /** Sorted list of committed versions; empty when the table has no log. */
  def listVersions(): Seq[Long] = segment().versions

  def latestVersion(): Option[Long] = listVersions().lastOption

  def readVersion(version: Long): Seq[Action] = readActionsAt(logPathFor(version))

  private def readActionsAt(path: Path): Seq[Action] = LogMetrics.timed(
      LogMetrics.readVersionNanos, LogMetrics.readVersions) {
    readText(path).split("\n").iterator.map(_.trim).filter(_.nonEmpty)
      .flatMap(Actions.fromJson).toSeq
  }

  /** Delta minor-log-compaction naming: `<start>.<end>.compacted.json`
    * holds the reconciled actions of commit range [start, end]. */
  def compactedPathFor(start: Long, end: Long): Path =
    new Path(logDir, f"$start%020d.$end%020d.compacted.json")

  /** Committed compacted segments as (start, end) ranges, start-ordered. */
  def listCompacted(): Seq[(Long, Long)] = segment().compactedRanges

  /**
   * Minor log compaction (Delta's `<start>.<end>.compacted.json`): fold
   * the commit range [start, end] into ONE reconciled segment that
   * replays exactly like the range it covers — latest protocol/metadata
   * in range, live adds, surviving remove tombstones, per-app txn
   * high-water marks; commit-scoped actions (commitInfo, cdc) drop, which
   * is sound because history / CDF / time-travel readers keep reading the
   * original version JSONs (compaction deletes nothing — retention does).
   *
   * Why it exists at 100 TB: a busy table commits thousands of times
   * between checkpoints, and every snapshot pays one small-object read
   * per commit in the tail — on an object store that is thousands of
   * round trips for KBs each. The reconciled segment collapses the tail
   * to O(1) reads, the same lever as a checkpoint but cheap enough to run
   * every few commits (it rewrites KBs of JSON, not the full state).
   *
   * The segment lands via write-temp + rename so a crash never leaves a
   * torn file visible; readers additionally treat an unreadable segment
   * as absent (the version JSONs remain the committed truth).
   */
  def writeCompacted(start: Long, end: Long): Unit = {
    require(start >= 0 && end >= start, s"bad compaction range [$start, $end]")
    val have = listVersions().filter(v => v >= start && v <= end)
    require(have == (start to end),
      s"compaction range [$start, $end] is not fully present (have $have)")
    val actions = GwLog.reconcile((start to end).map(readVersion))
    val payload = actions.map(Actions.toJson).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8)
    val f = fs
    val target = compactedPathFor(start, end)
    val tmp = new Path(logDir, s".${target.getName}.${java.util.UUID.randomUUID}.tmp")
    val out = f.create(tmp, false)
    try out.write(payload) finally out.close()
    if (!f.rename(tmp, target)) { f.delete(tmp, false); () }
  }

  /** The last materialized snapshot on this instance, keyed by version,
    * with the segment its replay route comes from (see [[snapshotIn]]). */
  @volatile private var snapCache: (Long, Snapshot, LogSegment) = _

  /** What the most recent [[snapshot]] call on this instance actually
    * read: (checkpoint used, commit JSONs read, compacted segments read).
    * Diagnostic only — gates pin that compaction shrinks the replay tail. */
  @volatile private[graft] var lastReplayReads: (Option[Long], Seq[Long], Seq[(Long, Long)]) =
    (None, Nil, Nil)

  /** Write `actions` as the next version; returns the committed version.
    * A raw, unchecked append (log tooling and tests): engine writers go
    * through [[GwTxn]]. Every `checkpointInterval` commits the replayed
    * snapshot is also
    * checkpointed to parquet so later reads resume in O(1) instead of
    * replaying every version JSON (see [[Checkpoint]]). */
  def commit(actions: Seq[Action]): Long = {
    val seg = segment()
    commitOn(seg.versions.lastOption.map(_ + 1).getOrElse(0L), actions, seg)
  }

  /** [[commit]] pinned to exactly `version`: for writers whose validation
    * ran against the snapshot at `version - 1` — any intervening commit
    * then surfaces as a [[VersionConflictException]] instead of silently
    * landing the write at a later version on top of state it never saw.
    * [[GwTxn]] commits every attempt this way and re-validates on the
    * conflict. */
  def commitPinned(version: Long, actions: Seq[Action]): Long =
    commitOn(version, actions, segment())

  /** The basis snapshot (at `version - 1`) is resolved ONCE, before the
    * commit lands — from this instance's cache, where a [[GwTxn]] attempt
    * just put it, else from `seg` — and every step below reads it. An
    * unresolvable basis (a gap, an unreadable protocol) is None. */
  private def commitOn(version: Long, actions: Seq[Action], seg: => LogSegment): Long = {
    val basis: Option[(Snapshot, LogSegment)] = Option(snapCache) match {
      case _ if version == 0 => None
      case Some((v, snap, s)) if v == version - 1 => Some((snap, s))
      case _ => scala.util.Try { val s = seg; (snapshotIn(s, Some(version - 1)), s) }.toOption
    }
    val prev = basis.map(_._1)
    val stamped = stampInCommitTimestamp(version,
      upgradeProtocol(assignRowIds(version, actions, prev), prev), prev)
    commitAt(version, stamped)
    val post = basis.flatMap { case (p, s) =>
      advanceSnapshot(version, s, Seq(p.headerActions ++ p.files ++ p.tombstones, stamped)) }
    // version checksum (Delta `<version>.crc`): a best-effort state
    // summary of the post-commit state — see [[VersionChecksum]]. The
    // version JSON above IS the committed truth, so a failed crc write
    // must never fail the commit.
    try writeChecksum(version, Some(stamped), post)
    catch { case scala.util.control.NonFatal(_) => () }
    if (checkpointInterval > 0 && version > 0 && version % checkpointInterval == 0) {
      // checkpoints are a read optimization: the version JSON above IS the
      // committed truth, so a failed checkpoint write must not fail the
      // commit (the next interval retries; reads fall back to JSON replay)
      try {
        val snap = post.getOrElse(snapshot(Some(version)))
        val (cpActions, cpFiles) = writeCheckpointOf(snap)
        // a fresh listing now routes this version through the checkpoint:
        // share what a replay of it reads, or each later reader replays it
        for ((v, _, s) <- Option(snapCache) if v == version) {
          val cpSeg = LogSegment.of(s.entries ++ cpFiles)
          if (cpSeg.checkpointFiles(version).map(_.getPath.getName) ==
              cpFiles.map(_.getPath.getName))
            advanceSnapshot(version, cpSeg, Seq(cpActions))
        }
        // Delta's enableExpiredLogCleanup hook: metadata retention runs at
        // checkpoint cadence when the table opts in
        val conf = snap.metadata
          .map(_.configuration).getOrElse(Map.empty)
        if (Seq("graft.enableExpiredLogCleanup", "delta.enableExpiredLogCleanup")
            .exists(k => conf.get(k).exists(_.trim.equalsIgnoreCase("true")))) {
          val retention = conf.get("graft.logRetentionMs").map(_.trim.toLong)
            .getOrElse(GwLog.DefaultLogRetentionMs)
          cleanupExpiredLogs(retention)
        }
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    // minor log compaction rides an ENGINE conf (Delta's own trigger is
    // engine-side, not table metadata): every n commits fold the last n
    // into one segment. Like checkpoints it is a read optimization — a
    // failed write never fails the commit (set via
    // spark.hadoop.graft.logCompaction.interval)
    val compactEvery = conf.getInt("graft.logCompaction.interval",
      conf.getInt("delta.logCompaction.interval", 0))
    if (compactEvery > 0 && (version + 1) % compactEvery == 0) {
      try writeCompacted(version - compactEvery + 1, version)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    version
  }

  /** Post-commit snapshot (guide §5, driver-side work): continue the
    * replay fold from the basis snapshot over the just-committed actions —
    * [[Snapshot.replay]] is a pure fold over action chunks and a snapshot
    * IS its fold state (live adds in commit order, surviving tombstones,
    * txn high-water marks, live domains), so this is byte-identical to the
    * fresh replay the next reader would otherwise pay: a lifecycle of N
    * commits replays the log tail once, not N times (Delta's post-commit
    * snapshot). Restricted to [[GwLog.forTable]] instances so the
    * replay-mechanics diagnostic gates (directly-constructed readers,
    * lastReplayReads pins) keep observing real replays. The shared entry
    * takes its route from `seg`: after a commit the basis's segment (a
    * reader that lists a newer checkpoint misses it and replays), after
    * this instance writes a checkpoint that segment plus the checkpoint's
    * files, with `chunks` the checkpoint's actions. Best-effort: any
    * failure just leaves the next snapshot() to replay from disk. */
  private def advanceSnapshot(version: Long, seg: LogSegment,
      chunks: Seq[Seq[Action]]): Option[Snapshot] =
    if (!shareSnapshots) None
    else try {
      val snap = Snapshot.replay(version, chunks)
      snap.protocol.foreach(pr => Protocol.assertReadable(tablePath.toString, pr))
      snapCache = (version, snap, seg)
      scala.util.Try(fs.getFileStatus(logPathFor(version)))
        .foreach(GwLog.sharedSnapshotPut(this, version, _, seg, snap))
      Some(snap)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Row tracking (Delta rowTracking, writer feature): on a tracked table,
    * every NEW AddFile in a commit gets a contiguous row-id range —
    * `baseRowId` = high-water + 1, advancing by the file's row count (from
    * its harvested stats, which tracked tables therefore require) — and
    * `defaultRowCommitVersion` = this commit's version. Re-asserted files
    * (DV growth, RESTORE, clones of tracked tables) already carry a base
    * and pass through untouched, which is exactly the stability contract:
    * a row's id lives as long as its file does; copy-on-write rewrites
    * mint fresh ids (the merge-on-read DML paths — the engine's preferred
    * shape at scale — never rewrite, so ids survive them). The high-water
    * mark rides the metadata (`graft.rowTracking.highWaterMark`), restated
    * in the SAME commit, so the assignment is atomic with the files and a
    * losing racer recomputes from the winner's mark on retry. */
  private def assignRowIds(version: Long, actions: Seq[Action],
      basis: Option[Snapshot]): Seq[Action] = {
    val commitMeta = actions.collectFirst { case m: Metadata => m }
    val effMeta = commitMeta.orElse(basis.flatMap(_.metadata))
    val tracked = effMeta.exists(m =>
      Seq("graft.enableRowTracking", "delta.enableRowTracking")
        .exists(k => m.configuration.get(k).exists(_.trim.equalsIgnoreCase("true"))))
    if (!tracked) return actions
    val unassigned = actions.collect {
      case a: AddFile if a.baseRowId.isEmpty => a
    }
    if (unassigned.isEmpty) return actions
    val hwKey = "graft.rowTracking.highWaterMark"
    var hw = effMeta.flatMap(_.configuration.get(hwKey)).map(_.toLong).getOrElse(-1L)
    val assigned = scala.collection.mutable.Map.empty[AddFile, AddFile]
    unassigned.foreach { a =>
      val n = graft.Dv.numRecords(a).getOrElse(throw new IllegalStateException(
        s"row tracking needs per-file row counts: $tablePath add ${a.path} " +
          "carries no numRecords stats — write through the engine's paths " +
          "(they harvest footer stats) or disable graft.enableRowTracking"))
      assigned(a) = a.copy(baseRowId = Some(hw + 1),
        defaultRowCommitVersion = Some(version))
      hw += n
    }
    val meta = effMeta.get.copy(configuration =
      effMeta.get.configuration + (hwKey -> hw.toString))
    val swapped = actions.map {
      case a: AddFile => assigned.getOrElse(a, a)
      case m: Metadata => meta
      case other => other
    }
    if (commitMeta.isDefined) swapped
    else {
      // restate the previous metadata with the advanced mark, ahead of adds
      val (pre, rest) = swapped.span(_.isInstanceOf[Protocol])
      pre ++ (meta +: rest)
    }
  }

  /** The Delta table features each action shape demands: (reader, writer)
    * feature names, derived from THIS commit's actions alone (no snapshot
    * replay — deletion vectors and cdc files announce themselves, property
    * and mapping features ride the Metadata action that introduces them). */
  private def requiredFeatures(actions: Seq[Action]): (Set[String], Set[String]) = {
    var rf = Set.empty[String]
    var wf = Set.empty[String]
    actions.foreach {
      case a: AddFile if a.dv.isDefined =>
        rf += "deletionVectors"; wf += "deletionVectors"
      case _: CdcFile => wf += "changeDataFeed"
      // writer-only (Delta spec): an unaware reader just carries domains
      case _: DomainMetadata => wf += "domainMetadata"
      case m: Metadata =>
        val conf = m.configuration
        def on(base: String) = Seq(s"graft.$base", s"delta.$base")
          .exists(k => conf.get(k).exists(_.trim.equalsIgnoreCase("true")))
        if (on("enableChangeDataFeed")) wf += "changeDataFeed"
        if (on("enableInCommitTimestamps")) wf += "inCommitTimestamp"
        if (on("appendOnly")) wf += "appendOnly"
        // widened columns misread without up-conversion: reader-side too
        if (on("enableTypeWidening")) { rf += "typeWidening"; wf += "typeWidening" }
        // v2 checkpoints change how READERS must discover snapshot state
        if (Seq("graft.checkpointPolicy", "delta.checkpointPolicy")
            .exists(k => conf.get(k).exists(_.trim.equalsIgnoreCase("v2")))) {
          rf += "v2Checkpoint"; wf += "v2Checkpoint"
        }
        // writer-only (Delta spec): readers see materialized values; only
        // writers must know to fill omitted columns
        if (m.schemaString.contains("CURRENT_DEFAULT")) wf += "allowColumnDefaults"
        // writer-only (Delta spec): a non-tracking reader just ignores ids
        if (on("enableRowTracking")) wf += "rowTracking"
        if (conf.keys.exists(_.startsWith("graft.constraints."))) wf += "checkConstraints"
        if (conf.keys.exists(_.startsWith("graft.generated."))) wf += "generatedColumns"
        if (conf.keys.exists(_.startsWith("graft.identity."))) wf += "identityColumns"
        // writer-only (Delta spec): the protected-history marker TRUNCATE
        // HISTORY leaves behind — cleanup below it must go past it in one run
        if (Seq("graft.requireCheckpointProtectionBeforeVersion",
            "delta.requireCheckpointProtectionBeforeVersion")
            .exists(conf.contains)) wf += "checkpointProtection"
        // Delta's generic feature-enable property: `<engine>.feature.<name>
        // = supported` demands the feature without any other trace (the
        // vacuumProtocolCheck path — validated at SET time)
        conf.foreach { case (k, v) =>
          Seq("graft.feature.", "delta.feature.")
            .find(k.startsWith).foreach { pfx =>
              val name = k.stripPrefix(pfx)
              if (Seq("supported", "enabled", "true")
                  .exists(v.trim.equalsIgnoreCase)) {
                if (Protocol.SupportedReaderFeatures.contains(name)) rf += name
                if (Protocol.SupportedWriterFeatures.contains(name)) wf += name
              }
            }
        }
        if (m.schemaString.contains(ColumnMapping.PhysicalNameKey)) {
          rf += "columnMapping"; wf += "columnMapping"
        }
      case _ => ()
    }
    (rf, wf)
  }

  /** Delta table-features auto-upgrade: the first commit that USES a
    * feature carries the upgraded protocol — (3, 7) with explicit
    * readerFeatures/writerFeatures — in the SAME commit, so a foreign
    * reader can never replay past the feature without seeing its
    * requirement. Feature-free commits pass through untouched (plain
    * tables stay (1, 2), logs byte-identical); already-covered features
    * add nothing. Also the WRITE-side feature gate: committing to a table
    * whose protocol demands features this engine lacks fails here. */
  private def upgradeProtocol(actions: Seq[Action],
      basis: Option[Snapshot]): Seq[Action] = {
    val (rf, wf) = requiredFeatures(actions)
    val declared = actions.collectFirst { case p: Protocol => p }
    if (rf.isEmpty && wf.isEmpty && declared.isEmpty) return actions
    val current: Protocol = declared.orElse(basis.flatMap(_.protocol))
      .getOrElse(Protocol())
    Protocol.assertWritable(tablePath.toString, current)
    val needsUpgrade =
      rf.exists(f => !current.readerFeatures.getOrElse(Nil).contains(f)) ||
        wf.exists(f => !current.writerFeatures.getOrElse(Nil).contains(f))
    if (!needsUpgrade) return actions
    val upgraded = Protocol(
      Protocol.MaxReaderVersion, Protocol.MaxWriterVersion,
      Some((current.readerFeatures.getOrElse(Nil).toSet ++ rf).toSeq.sorted),
      Some((current.writerFeatures.getOrElse(Nil).toSet ++ wf).toSeq.sorted))
    val stripped = actions.filterNot(_.isInstanceOf[Protocol])
    (upgraded: Action) +: stripped
  }

  /** Delta in-commit timestamps (`delta.enableInCommitTimestamps`, stored
    * as either the graft or the delta key): when enabled, the commit's
    * CommitInfo gets `inCommitTimestamp = max(now, previous + 1)` — a
    * monotonic commit clock that survives wall-clock skew/regression, the
    * clock `TIMESTAMP AS OF` resolves on ([[versionAtTimestamp]]).
    *
    * Enablement is decided without a snapshot replay: a commit CARRYING a
    * Metadata action answers from its own configuration (the
    * property-setting commit stamps itself, and an unsetting one stops);
    * any other commit inherits from whether the PREVIOUS CommitInfo was
    * stamped — one O(1) version read, which the chain also needs for the
    * previous timestamp. */
  private def stampInCommitTimestamp(version: Long, actions: Seq[Action],
      basis: Option[Snapshot]): Seq[Action] = {
    def enabledIn(m: Metadata): Boolean =
      Seq("graft.enableInCommitTimestamps", "delta.enableInCommitTimestamps")
        .exists(k => m.configuration.get(k).exists(_.trim.equalsIgnoreCase("true")))
    lazy val prevCi: Option[CommitInfo] =
      if (version == 0) None
      else scala.util.Try(readVersion(version - 1)
        .collectFirst { case ci: CommitInfo => ci }).toOption.flatten
    val enabled = actions.collectFirst { case m: Metadata => m } match {
      case Some(m) => enabledIn(m)
      // ICT enablement rides the table property, and the enabling commit
      // must itself carry the Metadata action (it stamps itself) — so when
      // the basis snapshot's metadata does NOT enable it, the previous
      // CommitInfo cannot be stamped and the per-commit O(1) version read
      // that only existed to check that is skipped (the common, ICT-off
      // path). Enabled tables still read the previous CommitInfo — its
      // timestamp is the monotonicity floor either way.
      case None if basis.exists(b => !b.metadata.exists(enabledIn)) => false
      case None => prevCi.exists(_.inCommitTimestamp.isDefined)
    }
    if (!enabled) actions
    else {
      val floor = prevCi.map(_.effectiveTimestamp + 1).getOrElse(0L)
      val ict = math.max(System.currentTimeMillis(), floor)
      actions.map {
        case ci: CommitInfo => ci.copy(inCommitTimestamp = Some(ict))
        case a => a
      }
    }
  }

  /** Checkpoint the snapshot state as of `version` + update `_last_checkpoint`.
    * Alongside protocol/metadata/adds, the checkpoint carries the Delta
    * spec's other snapshot state: app-transaction high-water marks (`txn`)
    * and remove tombstones still inside the vacuum retention window.
    * [[writeCheckpointOf]] returns the actions a replay of it reads, in
    * read order, and the files written. */
  def writeCheckpoint(version: Long): Unit = writeCheckpointOf(snapshot(Some(version)))
  private def writeCheckpointOf(snap: Snapshot): (Seq[Action], Seq[FileStatus]) =
      LogMetrics.timed(LogMetrics.checkpointWriteNanos, LogMetrics.checkpointWrites) {
    val version = snap.version
    val tombstoneFloor = System.currentTimeMillis() - GwLog.TombstoneRetentionMs
    val header = snap.headerActions
    val actions: Seq[Action] = header ++ snap.files ++
      snap.tombstones.filter(_.deletionTimestamp >= tombstoneFloor)
    // Delta multi-part checkpoints: above `graft.checkpoint.partSize`
    // actions the snapshot splits across N part files (sequential slices,
    // so concatenating parts in order reproduces the action sequence) —
    // at 100 TB a snapshot of millions of AddFiles cannot be one parquet
    // file's write, nor one reader's sequential scan. Parts land before
    // `_last_checkpoint`; readers only accept a COMPLETE set.
    val partSize = conf.getInt("graft.checkpoint.partSize", Int.MaxValue)
    // Delta checkpointPolicy=v2 (v2Checkpoint table feature): file actions
    // land in UUID-named sidecar parquets under `_sidecars/` (~partSize
    // actions each), and the checkpoint itself is one small MANIFEST —
    // protocol/metadata/txns + checkpointMetadata + sidecar refs. At
    // 100 TB this is the shape that lets a coordinator read table-level
    // state without touching millions of file entries, and lets sidecars
    // be written/read in parallel.
    //
    // INCREMENTAL checkpointing: sidecar membership is a stable hash of
    // the action's file path (not a sequential slice, which any single
    // add/remove would re-shard), and the sidecar's NAME is a type-3 UUID
    // of its canonical content — so a bucket whose contents are unchanged
    // since the previous checkpoint resolves to the SAME file name and is
    // reused with zero bytes written. A 10M-file table that churned 100
    // files between checkpoints rewrites only the touched buckets, not
    // the full snapshot. Reference-based GC already keys liveness on the
    // names live manifests reference, so sharing is safe; a sidecar GC'd
    // between reuse-check and manifest publish can at worst produce a
    // dangling ref, which the torn-checkpoint guard turns into full JSON
    // replay — never a partial snapshot.
    // Sidecars land BEFORE the manifest, so a visible manifest is always
    // complete; a torn manifest falls back to JSON replay like classic.
    val v2Policy = Seq("graft.checkpointPolicy", "delta.checkpointPolicy")
      .exists(k => snap.metadata.map(_.configuration).getOrElse(Map.empty)
        .get(k).exists(_.trim.equalsIgnoreCase("v2")))
    var writtenPaths: Seq[Path] = Nil
    var readOrder: Seq[Action] = actions
    val partsField =
      if (v2Policy) {
        val fileActions = actions.drop(header.size)
        fs.mkdirs(sidecarDir)
        // Bucket count: next power of two above ceil(n/partSize). Power-
        // of-two rounding keeps the count stable across moderate growth
        // (a count change re-shards every bucket and forfeits one
        // checkpoint's worth of reuse — correct, just not incremental).
        val targetParts = math.max(1, math.ceil(
          fileActions.size.toDouble / math.max(1, partSize)).toInt)
        val numBuckets =
          if (Integer.bitCount(targetParts) == 1) targetParts
          else Integer.highestOneBit(targetParts) << 1
        def pathOf(a: Action): String = a match {
          case ad: AddFile    => ad.path
          case rm: RemoveFile => rm.path
          case other          => Actions.toJson(other)
        }
        val buckets =
          Array.fill(numBuckets)(Vector.newBuilder[Action])
        fileActions.foreach { a =>
          val h = pathOf(a).hashCode % numBuckets
          buckets(if (h < 0) h + numBuckets else h) += a
        }
        // Canonical content: sorted by (kind, path) so logically-equal
        // buckets serialize to identical bytes regardless of arrival
        // order; `live`/`gone` are path-disjoint in a snapshot, so
        // cross-bucket replay order is immaterial.
        val slices = buckets.toSeq.map(_.result().sortBy(a => (a.getClass.getName, pathOf(a))))
        val refs = slices.map { slice =>
          val canon = slice.map(Actions.toJson).mkString("\n")
            .getBytes(StandardCharsets.UTF_8)
          val name = s"${java.util.UUID.nameUUIDFromBytes(canon)}.parquet"
          val p = new Path(sidecarDir, name)
          if (!fs.exists(p)) Checkpoint.write(p, conf, slice)
          val st = fs.getFileStatus(p)
          SidecarFile(name, st.getLen, st.getModificationTime)
        }
        val manifest =
          checkpointV2PathFor(version, java.util.UUID.randomUUID.toString)
        Checkpoint.write(manifest, conf, header ++ (CheckpointMetadata(version) +: refs))
        writtenPaths = Seq(manifest)
        readOrder = header ++ slices.flatten
        ""
      } else {
        val numParts =
          math.max(1, math.ceil(actions.size.toDouble / partSize).toInt)
        if (numParts == 1) {
          Checkpoint.write(checkpointPathFor(version), conf, actions)
          writtenPaths = Seq(checkpointPathFor(version))
          ""
        } else {
          val parts = actions.grouped(partSize).zipWithIndex.map { case (slice, i) =>
            val p = checkpointPartPathFor(version, i + 1, numParts)
            Checkpoint.write(p, conf, slice)
            p
          }.toSeq
          writtenPaths = parts
          s""","parts":$numParts"""
        }
      }
    // The hint carries delta-spark's optional size fields too —
    // `sizeInBytes` (total checkpoint bytes) and `numOfAddFiles` — so a
    // foreign reader planning from the hint sees the same metadata the
    // reference writers emit. The hint stays a HINT: resolution is by
    // listing ([[LogSegment]]), exactly like delta. Sized from the files
    // THIS call just wrote (the v2 form counts the manifest only, as the
    // segment resolves it) instead of re-listing the log per write.
    val written = writtenPaths.map(fs.getFileStatus)
    val nAdds = actions.count(_.isInstanceOf[AddFile])
    val out = fs.create(lastCheckpointPath, /* overwrite = */ true)
    try out.write(
      (s"""{"version":$version,"size":${actions.size}$partsField""" +
        s""","sizeInBytes":${written.map(_.getLen).sum},"numOfAddFiles":$nAdds}""")
        .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    (readOrder, written)
  }

  /** Typed view of `_delta_log/_last_checkpoint` (Delta's
    * `LastCheckpointInfo` JSON): `version`/`size` are mandatory,
    * everything else optional per the spec — `parts` (multi-part form),
    * `sizeInBytes`/`numOfAddFiles` (planning hints), `checkpointSchema`
    * (kept as raw JSON — the schema of the checkpoint rows themselves)
    * and `checksum`. Unknown fields are ignored (forward compat). The
    * file is a HINT, not the source of truth: a stale or missing hint
    * must never change snapshot resolution, so readers here only ever
    * consume it through this accessor and validate against the listing. */
  def lastCheckpointHint(): Option[GwLog.LastCheckpointInfo] = {
    val raw = try readText(lastCheckpointPath)
      catch { case _: java.io.FileNotFoundException => return None }
    scala.util.Try {
      val n = GwLog.hintMapper.readTree(raw)
      def optLong(f: String): Option[Long] =
        if (n.has(f) && n.get(f).canConvertToLong) Some(n.get(f).asLong) else None
      def optStr(f: String): Option[String] =
        if (n.has(f)) Some(
          if (n.get(f).isTextual) n.get(f).asText else n.get(f).toString)
        else None
      GwLog.LastCheckpointInfo(
        version = n.get("version").asLong,
        size = n.get("size").asLong,
        parts = optLong("parts").map(_.toInt),
        sizeInBytes = optLong("sizeInBytes"),
        numOfAddFiles = optLong("numOfAddFiles"),
        checkpointSchema = optStr("checkpointSchema"),
        checksum = optStr("checksum"))
    }.toOption
  }

  /** The actions of one checkpoint's `files`, with V2 sidecar refs expanded
    * in order (classic/multi-part forms pass through; a missing sidecar
    * throws, which [[snapshot]]'s torn-checkpoint guard turns into a JSON
    * replay — never a partial snapshot). */
  private def readCheckpointActions(files: Seq[FileStatus]): Seq[Action] =
    LogMetrics.timed(LogMetrics.checkpointReadNanos, LogMetrics.checkpointReads) {
    files
      .flatMap(st => Checkpoint.read(st.getPath, conf))
      .flatMap {
        case s: SidecarFile =>
          val raw = new Path(s.path)
          val p = if (raw.isAbsolute) raw else new Path(sidecarDir, s.path)
          Checkpoint.read(p, conf)
        case _: CheckpointMetadata => Nil
        case a => Seq(a)
      }
    }

  /** Committed checkpoint versions (from the listing — `_last_checkpoint`
    * is a hint, not the source of truth, exactly like delta). */
  def listCheckpoints(): Seq[Long] = segment().checkpointVersions

  /**
   * Write `actions` as exactly `version`, failing with
   * [[VersionConflictException]] if another writer got there first.
   *
   * Two commit protocols, chosen by filesystem scheme (the same split
   * delta's LogStores make):
   *
   *  - filesystems with atomic create-no-overwrite (file/hdfs/viewfs):
   *    `create(target, overwrite = false)` — the O_EXCL/NameNode create IS
   *    the winner election, and a torn write can't be mistaken for a
   *    commit because the loser's create fails up front;
   *  - object stores (s3a & friends), where create-no-overwrite is a
   *    non-atomic HEAD-then-PUT spanning the whole upload: write the
   *    payload to a hidden temp object first, then claim the version with
   *    a rename that fails when the destination exists. The claim window
   *    shrinks from "the full payload upload" to the rename's metadata op,
   *    and a loser can never leave a half-written version file because the
   *    only thing ever AT the version path is a fully-written object.
   *
   * Single-writer-per-table remains the design center (one indexer task
   * per table); this protects the maintenance writers — concurrent
   * compact/vacuum/sink on one table — from silently clobbering a version.
   */
  def commitAt(version: Long, actions: Seq[Action]): Unit = {
    val f = fs
    f.mkdirs(logDir)
    val target = logPathFor(version)
    val payload = actions.map(Actions.toJson).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8)
    if (GwLog.atomicCreateScheme(f.getScheme)) commitViaCreate(version, target, payload)
    else if (!commitViaConditionalPut(version, target, payload))
      commitViaRename(version, target, payload)
  }

  /**
   * Object-store claim via CONDITIONAL PUT (If-None-Match: *), the claim
   * that closes rename-claim's residual window entirely: the store itself
   * rejects the upload's completion when an object already exists at the
   * version path, so two concurrent writers racing one version get exactly
   * one winner decided SERVER-SIDE — no HEAD-then-PUT gap, no rename
   * metadata-op window, and nothing partial ever visible (the object only
   * materializes when the PUT completes).
   *
   * Negotiated through Hadoop's public createFile() builder contract
   * (HADOOP-19256, hadoop 3.4.1+): `must(fs.option.create.conditional.
   * overwrite)` is a MANDATORY key, and the builder spec requires stores
   * that do not understand it to reject at `build()` — that rejection is
   * the capability probe, and this method returns false so [[commitAt]]
   * falls back to the write-temp + rename-claim protocol (correct
   * everywhere, merely wider-windowed). A conflict can surface at open
   * (connectors that pre-check) or at close (the PUT's completion carries
   * the precondition) — both map to [[VersionConflictException]]; any
   * other close-time failure is re-checked against the target so a plain
   * IO error is never misreported as a competing commit.
   */
  private[graft] def commitViaConditionalPut(
      version: Long, target: Path, payload: Array[Byte]): Boolean = {
    val f = fs
    val out =
      try {
        val b = f.createFile(target).overwrite(false)
        b.must(GwLog.ConditionalCreateOpt, true)
        b.build()
      } catch {
        // builder contract: unknown mandatory key -> IllegalArgument;
        // stores that know the key but cannot honor it -> Unsupported.
        // Either way: no conditional-create capability, fall back.
        case _: IllegalArgumentException => return false
        case _: UnsupportedOperationException => return false
        case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
          throw new VersionConflictException(version, target, e)
      }
    try {
      try out.write(payload) finally out.close()
    } catch {
      case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
        throw new VersionConflictException(version, target, e)
      case e: java.nio.file.FileAlreadyExistsException =>
        throw new VersionConflictException(version, target, e)
      case e: java.io.IOException if f.exists(target) =>
        // the PUT's precondition failed mid-flight (s3a surfaces the 412
        // as an IOException subtype this module cannot name offline): a
        // winner IS at the target, so this is a conflict, not an IO error
        throw new VersionConflictException(version, target, e)
    }
    true
  }

  private[graft] def commitViaCreate(version: Long, target: Path, payload: Array[Byte]): Unit = {
    val f = fs
    // local filesystems: Hadoop's create(overwrite = false) is a
    // check-then-create (TOCTOU) — two racing writers can BOTH pass the
    // exists check and the second silently overwrites the first's commit
    // (observed losing a racer's rows under a threaded append stress).
    // POSIX link(2) is the real atomic claim: write the payload to a temp
    // file, hard-link it to the version path — EEXIST names the loser
    // with the winner's commit intact, and the only bytes ever AT the
    // version path are a complete payload.
    if (f.getScheme == "file") return commitViaLink(version, target, payload)
    val out =
      try f.create(target, /* overwrite = */ false)
      catch {
        case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
          throw new VersionConflictException(version, target, e)
        case e: java.io.IOException if f.exists(target) =>
          throw new VersionConflictException(version, target, e)
      }
    try out.write(payload) finally out.close()
  }

  /** Atomic local-FS claim: temp write + hard link (see commitViaCreate). */
  private[graft] def commitViaLink(version: Long, target: Path, payload: Array[Byte]): Unit = {
    val dir = java.nio.file.Paths.get(logDir.toUri.getPath)
    java.nio.file.Files.createDirectories(dir)
    val tmp = dir.resolve(s".${java.util.UUID.randomUUID()}-$version.json.tmp")
    java.nio.file.Files.write(tmp, payload)
    try {
      java.nio.file.Files.createLink(
        java.nio.file.Paths.get(target.toUri.getPath), tmp)
      ()
    } catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        throw new VersionConflictException(version, target, e)
      case _: UnsupportedOperationException =>
        // no hard links (exotic local FS): O_EXCL create is still atomic
        try {
          val out = java.nio.file.Files.newOutputStream(
            java.nio.file.Paths.get(target.toUri.getPath),
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          try out.write(payload) finally out.close()
        } catch {
          case e: java.nio.file.FileAlreadyExistsException =>
            throw new VersionConflictException(version, target, e)
        }
    } finally {
      java.nio.file.Files.deleteIfExists(tmp)
      ()
    }
  }

  private[graft] def commitViaRename(version: Long, target: Path, payload: Array[Byte]): Unit = {
    val f = fs
    val tmp = new Path(logDir, s".${java.util.UUID.randomUUID()}-$version.json.tmp")
    val out = f.create(tmp, /* overwrite = */ true)
    try out.write(payload) finally out.close()
    try {
      if (f.exists(target))
        throw new VersionConflictException(version, target, null)
      if (!f.rename(tmp, target)) {
        // only a conflict if a winner actually appeared: a rename that
        // failed with NO file at the target is a plain IO failure, and
        // reporting it as a conflict would tell the caller a winner's
        // commit exists when none does
        if (f.exists(target)) throw new VersionConflictException(version, target, null)
        throw new java.io.IOException(
          s"rename $tmp -> $target failed without a competing commit at the target")
      }
    } finally {
      if (f.exists(tmp)) { f.delete(tmp, false); () }
    }
  }

  private[graft] def payloadFor(actions: Seq[Action]): Array[Byte] =
    actions.map(Actions.toJson).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)

  /** Materialize the snapshot at `versionAsOf` (default: latest). Resumes
    * from the newest parquet checkpoint at or below the target version —
    * only the JSON deltas after it are replayed — and falls back to full
    * JSON replay when no checkpoint qualifies (e.g. time travel before the
    * first checkpoint). */
  def snapshot(versionAsOf: Option[Long] = None): Snapshot =
    snapshotIn(segment(), versionAsOf)

  /** The latest snapshot, or None on an empty log — one listing resolves
    * both, which is how every [[GwTxn]] attempt reads the table. */
  def latestSnapshot(): Option[Snapshot] = {
    val seg = segment()
    if (seg.versions.isEmpty) None else Some(snapshotIn(seg, None))
  }

  /** The snapshot at `versionAsOf` (default: the segment's latest),
    * resolved from `seg` with no further listing. */
  private[graft] def snapshotIn(seg: LogSegment, versionAsOf: Option[Long]): Snapshot = {
    val versions = seg.versions
    require(versions.nonEmpty, s"No transaction log at $logDir")
    val upTo = versionAsOf.getOrElse(versions.last)
    require(
      seg.commitFile(upTo).isDefined,
      s"Version $upTo not found at $logDir (have ${versions.headOption.getOrElse(-1L)}..${versions.lastOption.getOrElse(-1L)})")
    // Content at a fixed version is immutable (commits are never
    // rewritten; checkpoints/segments only change HOW a version replays,
    // never what it contains), so the last materialized snapshot is
    // cached per instance keyed by its resolved version. A commit's
    // internal snapshot reads collapse to one replay — at object-store
    // latencies this is most of the non-write commit cost. The version
    // check above still runs on every call, so an external writer's new
    // commit is always picked up. Replay DIAGNOSTICS (lastReplayReads)
    // update only on a real replay: mechanism assertions (torn-artifact
    // fallbacks etc.) belong on a fresh reader instance.
    val cached = snapCache
    if (cached != null && cached._1 == upTo) {
      LogMetrics.snapshotCacheHits.increment()
      return cached._2
    }
    // Cross-instance sharing (forTable-built logs only — the production
    // entry point; directly-constructed readers keep fresh-replay
    // mechanics for the diagnostics gates): a snapshot at a fixed version
    // replays deterministically, so one process-wide replay per (table,
    // version, replay route) suffices. The key guards against every way
    // the served state could differ from a fresh replay's:
    //  - a table DELETED and RECREATED at the same path — pinned by the
    //    identity of the version's own commit JSON: (length, mtime) from
    //    the segment plus a hash of its first bytes (see
    //    [[GwLog.commitIdentity]]);
    //  - the RESUME ROUTE changing (a checkpoint written, deleted, or
    //    replaced since the entry landed) — checkpoint-resumed snapshots
    //    legitimately drop expired remove tombstones, so the route is
    //    part of the content; pinned by the resolved checkpoint version
    //    plus the (name, length, mtime) of its files in the segment.
    // At 100 TB this is the delta-style "one DeltaLog per table" behavior:
    // a pipeline touching one table from N operators replays once, not N
    // times.
    val routeCp = seg.checkpointAtOrBelow(upTo)
    if (shareSnapshots) {
      GwLog.sharedSnapshotGet(this, seg, upTo).foreach { s =>
        snapCache = (upTo, s, seg)
        LogMetrics.snapshotCacheHits.increment()
        return s
      }
    }
    val __replayT0 = System.nanoTime()
    // the replay tail with compacted segments substituted greedily: at
    // each expected version, the widest committed `<v>.<e>.compacted.json`
    // with e <= upTo replaces reading commits v..e one by one; an
    // unreadable segment falls back to the covered JSONs (originals are
    // the committed truth — compaction deletes nothing)
    def readTail(tail: Seq[Long], cp: Option[Long]): Seq[Seq[Action]] = {
      val byStart = seg.compactedRanges
        .filter { case (s, e) => e <= upTo && tail.contains(s) && tail.contains(e) }
        .groupBy(_._1).map { case (s, rs) => s -> rs.map(_._2).max }
      val chunks = Seq.newBuilder[Seq[Action]]
      val commitsRead = Seq.newBuilder[Long]
      val compactedRead = Seq.newBuilder[(Long, Long)]
      var i = 0
      while (i < tail.length) {
        val v = tail(i)
        byStart.get(v) match {
          case Some(e) =>
            val seg = try Some(readActionsAt(compactedPathFor(v, e)))
              catch { case scala.util.control.NonFatal(_) => None }
            seg match {
              case Some(actions) =>
                chunks += actions; compactedRead += ((v, e))
                while (i < tail.length && tail(i) <= e) i += 1
              case None =>
                chunks += readVersion(v); commitsRead += v; i += 1
            }
          case None =>
            chunks += readVersion(v); commitsRead += v; i += 1
        }
      }
      lastReplayReads = (cp, commitsRead.result(), compactedRead.result())
      chunks.result()
    }
    def fullReplay(): Snapshot = {
      // after metadata cleanup ([[cleanupExpiredLogs]]) the log may start
      // past 0; a replay that silently skipped the missing prefix would
      // fabricate a WRONG snapshot — reconstruction below the earliest
      // checkpoint is only sound when version 0 is still present
      require(versions.headOption.contains(0L),
        s"Version $upTo at $logDir predates the earliest reconstructible " +
          s"state: versions below ${versions.head} were cleaned up " +
          "(logRetention) and no checkpoint at or below the target survives")
      Snapshot.replay(upTo, readTail(versions.takeWhile(_ <= upTo), None))
    }
    val snap = routeCp match {
      case Some(cp) =>
        // a torn/corrupt checkpoint (crash mid-write) must never brick the
        // table — the version JSONs are always sufficient on their own
        try {
          val base = readCheckpointActions(seg.checkpointFiles(cp))
          require(base.nonEmpty, s"checkpoint $cp vanished mid-read")
          val tail = versions.filter(v => v > cp && v <= upTo)
          Snapshot.replay(upTo, base +: readTail(tail, Some(cp)))
        } catch { case scala.util.control.NonFatal(_) => fullReplay() }
      case None => fullReplay()
    }
    // reader feature gate (Delta forward compatibility): a table demanding
    // reader features or versions this engine lacks is refused, never
    // misread. Unknown WRITER-only features pass here — readers may read
    // them by spec; the write paths gate separately (assertWritable).
    snap.protocol.foreach(p => Protocol.assertReadable(tablePath.toString, p))
    snapCache = (upTo, snap, seg)
    if (shareSnapshots)
      seg.commitFile(upTo).foreach(GwLog.sharedSnapshotPut(this, upTo, _, seg, snap))
    LogMetrics.snapshotReplayNanos.add(System.nanoTime() - __replayT0)
    LogMetrics.snapshotReplays.increment()
    snap
  }

  /**
   * Metadata retention (Delta `delta.logRetentionDuration` +
   * `delta.enableExpiredLogCleanup` role): physically delete version
   * JSONs that are (a) BELOW the newest parquet checkpoint — the current
   * state and everything after the checkpoint never depend on them — and
   * (b) older than `retentionMs` by file modification time, plus
   * superseded checkpoint parquets under the same age rule. At 100 TB a
   * busy table commits thousands of times a day; without cleanup the
   * `_delta_log` listing itself becomes the bottleneck — this bounds it
   * to the retention window, exactly Delta's contract.
   *
   * What survives, what breaks: the live snapshot and every version at or
   * after the newest checkpoint replay exactly as before; time travel,
   * `rowChanges` and stream restarts into the cleaned range now fail with
   * explicit errors (they already required versions to exist) instead of
   * serving data — the same trade Delta makes. Data files are NOT touched
   * (that is [[GwTable.vacuum]]'s job); a gap never corrupts a replay
   * ([[snapshot]]'s reconstruction-floor guard). Returns the number of
   * files deleted.
   */
  def cleanupExpiredLogs(retentionMs: Long): Int = {
    val seg = segment()
    val newestCp = seg.checkpointVersions.lastOption.getOrElse(return 0)
    // checkpointProtection (Delta 4.x): with
    // `requireCheckpointProtectionBeforeVersion = N`, metadata cleanup
    // below N is only legal when it cleans up to AT LEAST N in one run —
    // a partial sweep could delete the checkpoint a downgraded reader
    // needs to bootstrap past dropped-feature history. This cleanup
    // deletes everything below the newest checkpoint, so the one-run rule
    // reduces to: newest checkpoint at or above N, else touch nothing.
    val protectN = snapshotIn(seg, None).metadata.flatMap(m =>
      Seq("graft.requireCheckpointProtectionBeforeVersion",
        "delta.requireCheckpointProtectionBeforeVersion")
        .flatMap(m.configuration.get).headOption
        .flatMap(_.trim.toLongOption))
    if (protectN.exists(_ > newestCp)) return 0
    val f = fs
    val cutoff = System.currentTimeMillis() - retentionMs
    // below the newest checkpoint and old enough: version JSONs, their
    // crcs (summaries of versions nobody can replay past cleanup), every
    // checkpoint ARTIFACT (incomplete crash leftovers included, which
    // resolve to no checkpoint) and compacted segments fully below it
    val expired =
      (seg.commitFiles ++ seg.checksums ++ seg.checkpointArtifacts)
        .collect { case (v, st) if v < newestCp => st } ++
        seg.compacted.collect { case ((_, e), st) if e < newestCp => st }
    val gone = expired
      .filter(st => st.getModificationTime < cutoff && f.delete(st.getPath, false))
      .map(_.getPath).toSet
    var deleted = gone.size
    // sidecars: after superseded V2 manifests are gone, any `_sidecars/`
    // file no surviving manifest references (and old enough) is debris —
    // an incremental checkpointer may share sidecars ACROSS checkpoints,
    // so liveness is by reference, never by age alone
    val sidecars =
      try f.listStatus(sidecarDir).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    if (sidecars.nonEmpty) {
      val live = seg.without(gone)
      val referenced = live.checkpointVersions
        .flatMap(v => scala.util.Try(live.checkpointFiles(v)
          .flatMap(st => Checkpoint.read(st.getPath, conf))).toOption
          .getOrElse(Nil))
        .collect { case s: SidecarFile => new Path(sidecarDir, s.path).getName }
        .toSet
      sidecars
        .filter(st => !referenced.contains(st.getPath.getName) &&
          st.getModificationTime < cutoff)
        .foreach { st => if (f.delete(st.getPath, false)) deleted += 1 }
    }
    deleted
  }

  /** (version, commitInfo) per version — basis of `GwTable.history`. */
  def history(): Seq[(Long, Option[CommitInfo])] =
    listVersions().map { v =>
      v -> readVersion(v).collectFirst { case ci: CommitInfo => ci }
    }

  /** Greatest version whose commit timestamp is <= `tsMillis` — the one
    * `TIMESTAMP AS OF` resolution rule, shared by every time-travel surface
    * (GwTable, the DSv2 options, the SQL catalog). */
  def versionAtTimestamp(tsMillis: Long): Long = {
    val candidates = history().collect {
      case (v, Some(ci)) if ci.effectiveTimestamp <= tsMillis => v
    }
    require(candidates.nonEmpty,
      s"No version at or before timestamp $tsMillis for $tablePath")
    candidates.max
  }

  def delete(): Unit = { fs.delete(tablePath, true); () }

  def exists(): Boolean = listVersions().nonEmpty
}

object GwLog {
  val LogDirName = "_delta_log"

  /** Delta's `_last_checkpoint` JSON, typed (see [[GwLog.lastCheckpointHint]]). */
  final case class LastCheckpointInfo(
      version: Long,
      size: Long,
      parts: Option[Int],
      sizeInBytes: Option[Long],
      numOfAddFiles: Option[Long],
      checkpointSchema: Option[String],
      checksum: Option[String])

  private[log] val hintMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Reconcile a contiguous commit range into one action sequence whose
    * single-chunk replay equals replaying the range commit by commit:
    * latest protocol/metadata in range, live adds, surviving remove
    * tombstones, latest txn mark per appId; commit-scoped actions
    * (commitInfo, cdc) drop. Each path ends in at most one of
    * live/tombstone, so intra-segment ordering is immaterial — mirrors
    * [[Snapshot.replay]]'s state machine (property-tested equivalent). */
  private[graft] def reconcile(versions: Seq[Seq[Action]]): Seq[Action] = {
    var protocol: Option[Protocol] = None
    var metadata: Option[Metadata] = None
    val live = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    val gone = scala.collection.mutable.LinkedHashMap.empty[String, RemoveFile]
    val txns = scala.collection.mutable.LinkedHashMap.empty[String, SetTransaction]
    versions.foreach(_.foreach {
      case p: Protocol => protocol = Some(p)
      case m: Metadata => metadata = Some(m)
      case a: AddFile => live(a.path) = a; gone.remove(a.path)
      case r: RemoveFile => live.remove(r.path); gone(r.path) = r
      case t: SetTransaction =>
        if (txns.get(t.appId).forall(_.version <= t.version)) txns(t.appId) = t
      case _: CommitInfo => ()
      case _: CdcFile => ()
      case _: CheckpointMetadata => ()
      case _: SidecarFile => ()
    })
    protocol.toSeq ++ metadata.toSeq ++ txns.values.toSeq ++
      live.values.toSeq ++ gone.values.toSeq
  }

  /** Hadoop's public createFile() option for a conditional (If-None-Match)
    * create — `Options.CreateFileOptionKeys.FS_OPTION_CREATE_CONDITIONAL_
    * OVERWRITE` (HADOOP-19256, hadoop 3.4.1+). Set as a MUST key so
    * stores without the capability reject at build() and the commit falls
    * back to rename-claim. */
  val ConditionalCreateOpt = "fs.option.create.conditional.overwrite"

  /** Checkpoint every N commits — delta's default cadence. */
  val DefaultCheckpointInterval = 10

  /** Remove tombstones older than this are dropped from checkpoints
    * (Delta's default deleted-file retention — same window as vacuum's
    * default, so a tombstone outlives every reader that could still
    * reference its file). */
  val TombstoneRetentionMs: Long = 7L * 24 * 3600 * 1000

  /** Default metadata retention (Delta's logRetentionDuration: 30 days). */
  val DefaultLogRetentionMs: Long = 30L * 24 * 3600 * 1000

  /** Schemes whose `create(path, overwrite = false)` is atomic; everything
    * else (object stores) takes the write-temp + rename-claim protocol.
    * Unknown schemes default to rename: it is correct (if slightly slower)
    * everywhere, while assuming atomic create on an object store is not. */
  private[log] def atomicCreateScheme(scheme: String): Boolean =
    scheme != null && (scheme match {
      case "file" | "hdfs" | "viewfs" | "webhdfs" | "har" => true
      case _ => false
    })

  def forTable(conf: Configuration, tablePath: String): GwLog =
    new GwLog(new Path(tablePath), conf, shareSnapshots = true)

  /** Process-wide snapshot cache for [[forTable]] logs: (table, version) ->
    * (commit-JSON identity, replay route, snapshot). Bounded crudely —
    * snapshots are metadata-scale, and a full clear only costs re-replays. */
  private final case class SharedSnap(commitId: (Long, Long, Int),
      route: (Option[Long], Seq[(String, Long, Long)]), snap: Snapshot)
  private val sharedSnaps =
    new java.util.concurrent.ConcurrentHashMap[String, SharedSnap]()
  private val SharedSnapsMax = 512

  /** Keyed by the FS-QUALIFIED table URI: two GwLogs built with different
    * Hadoop configs (different fs.defaultFS) resolving the same unqualified
    * path to different filesystems must never share entries. */
  private def sharedKey(log: GwLog, version: Long): String = {
    val p = log.tablePath
    val q = try p.getFileSystem(log.hadoopConf).makeQualified(p).toString
      catch { case scala.util.control.NonFatal(_) => p.toString }
    q + "@" + version
  }

  /** (len, mtime, head-hash) identity of a commit JSON, or None when it
    * cannot be read (deleted, permissions — treat as a miss). Length and
    * mtime come from the listing; the first-bytes hash closes the residual
    * (len, mtime) collision window on a delete-and-recreate within one
    * mtime granule: commit JSONs lead with UUID-bearing commitInfo/metaData
    * lines, so two different logs cannot share a head. */
  private def commitIdentity(log: GwLog, commit: FileStatus): Option[(Long, Long, Int)] =
    try {
      val p = commit.getPath
      val in = p.getFileSystem(log.hadoopConf).open(p)
      val head = try java.util.Arrays.hashCode(in.readNBytes(256)) finally in.close()
      Some((commit.getLen, commit.getModificationTime, head))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The replay route of `version` in `seg` and its files' (name, len, mtime). */
  private def route(seg: LogSegment, version: Long): (Option[Long], Seq[(String, Long, Long)]) = {
    val cp = seg.checkpointAtOrBelow(version)
    (cp, cp.toSeq.flatMap(seg.checkpointFiles)
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime)))
  }

  private def sharedSnapshotGet(log: GwLog, seg: LogSegment,
      version: Long): Option[Snapshot] = {
    val e = sharedSnaps.get(sharedKey(log, version))
    if (e == null) return None
    val ok = route(seg, version) == e.route &&
      seg.commitFile(version).flatMap(commitIdentity(log, _)).contains(e.commitId)
    if (ok) Some(e.snap)
    else { sharedSnaps.remove(sharedKey(log, version)); None }
  }

  /** Share `snap` at `version` (commit JSON `commit`) under `seg`'s route. */
  private def sharedSnapshotPut(log: GwLog, version: Long, commit: FileStatus,
      seg: LogSegment, snap: Snapshot): Unit = {
    commitIdentity(log, commit).foreach { id =>
      if (sharedSnaps.size() >= SharedSnapsMax) sharedSnaps.clear()
      sharedSnaps.put(sharedKey(log, version), SharedSnap(id, route(seg, version), snap))
      ()
    }
  }
}

/** Another writer committed this version first. The losing writer's state
  * is NOT on disk; re-read the log (the winner's actions included) and
  * re-derive the commit before retrying at the next version. */
class VersionConflictException(version: Long, target: Path, cause: Throwable)
  extends RuntimeException(
    s"Concurrent commit: version $version already exists at $target", cause)
