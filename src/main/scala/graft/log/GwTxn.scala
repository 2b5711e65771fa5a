package graft.log

import org.apache.hadoop.fs.Path

/**
 * One optimistic transaction: the single commit path of every engine writer
 * (the reference commits each CDA folder the same way, through
 * delta-standalone's `startTransaction()` + `commit(files, Operation)`).
 * Each attempt resolves the latest snapshot once (None on an empty log),
 * refuses a protocol this engine cannot write, turns a tagged `txnId` the
 * log already holds into a no-op, re-validates the caller's [[GwTxn.Plan]]
 * ([[Occ]]), builds the actions from that snapshot, appends the
 * `SetTransaction` and `CommitInfo`, and commits at exactly that snapshot's
 * version + 1 ([[GwLog.commitPinned]]; 0 when creating). A racer landing in
 * between takes that version, so the attempt loses with a
 * [[VersionConflictException]] and the next attempt checks the racer's
 * commit: no write lands on state it never checked.
 *
 * `numFiles` / `numOutputBytes` count the committed AddFiles unless
 * `numOutputBytes` is given. With `createTable`, an attempt on an empty log
 * logs `CREATE TABLE` and is no blind append. A `<app>/<batch>` txnId is an
 * exactly-once tag unless `exactlyOnce` is off.
 */
final case class GwTxn(
    log: GwLog,
    operation: String,
    mode: String,
    plan: GwTxn.Plan = GwTxn.Rebuilt,
    isBlindAppend: Boolean = false,
    createTable: Boolean = false,
    txnId: Option[String] = None,
    exactlyOnce: Boolean = true,
    timestamp: Option[Long] = None,
    numOutputBytes: Option[Long] = None,
    userMetadata: Option[String] = None) {

  private def table = log.tablePath.toString

  private def noLog = new IllegalArgumentException(
    s"No transaction log at ${new Path(log.tablePath, GwLog.LogDirName)}")

  /** Commit to an existing table; `build` gets each attempt's snapshot. */
  def commit(build: Snapshot => Seq[Action]): Long =
    commitOrCreate(fresh => build(fresh.getOrElse(throw noLog)))

  /** Commit, creating the table when the log is empty (`build` gets None).
    * Returns the committed version, or the replayed one (-1 when it is
    * older than the replay walk's window). */
  def commitOrCreate(build: Option[Snapshot] => Seq[Action]): Long = {
    val tag = if (exactlyOnce) txnId.flatMap(GwTxn.parseTxnId) else None
    val id = txnId.getOrElse(java.util.UUID.randomUUID().toString)
    var attempt = 0
    while (true) {
      attempt += 1
      val fresh = log.latestSnapshot()
      fresh.flatMap(_.protocol).foreach(Protocol.assertWritable(table, _))
      tag.foreach { case (app, batch) =>
        if (fresh.exists(_.transactions.get(app).exists(_ >= batch)))
          return GwTxn.replayedVersion(log, txnId).getOrElse(-1L)
      }
      check(fresh)
      val now = timestamp.getOrElse(System.currentTimeMillis())
      val actions = build(fresh)
      val creating = createTable && fresh.isEmpty
      val adds = actions.collect { case a: AddFile => a }
      val info = CommitInfo(now, if (creating) "CREATE TABLE" else operation, mode,
        numFiles = adds.size,
        numOutputBytes = numOutputBytes.getOrElse(adds.map(_.size).sum),
        isBlindAppend = isBlindAppend && !creating, txnId = id,
        userMetadata = userMetadata)
      val txn = tag.map { case (app, batch) => SetTransaction(app, batch, Some(now)) }
      try return log.commitPinned(fresh.map(_.version + 1).getOrElse(0L),
        actions ++ txn.toSeq :+ info)
      catch { case _: VersionConflictException if attempt < GwTxn.MaxAttempts => () }
    }
    -1L // unreachable
  }

  private def check(fresh: Option[Snapshot]): Unit = plan match {
    case GwTxn.Rebuilt => ()
    case GwTxn.Append(read) =>
      fresh.foreach(f => Occ.checkAppendState(table, read, f.metadata))
    case GwTxn.Rewrite(read, deletes, reads) =>
      val f = fresh.getOrElse(throw noLog)
      read.foreach(Occ.checkTableState(table, _, f))
      if (deletes.nonEmpty || reads.nonEmpty)
        Occ.checkFiles(table, f.files.map(a => a.path -> a).toMap, deletes, reads)
  }
}

object GwTxn {

  /** Attempts per transaction before a version conflict surfaces. */
  val MaxAttempts = 10

  /** What the caller planned against, re-validated on every attempt. */
  sealed trait Plan

  /** Nothing planned ahead: `build` derives the commit from the attempt's
    * snapshot. */
  case object Rebuilt extends Plan

  /** Files staged against `read` (None: an empty log); only a schema or
    * guarded-property change aborts them ([[Occ.checkAppendState]]). */
  final case class Append(read: Option[Metadata]) extends Plan

  /** A rewrite planned on `read` that tombstones or re-asserts `deletes`
    * and only read `reads` ([[Occ.checkTableState]], [[Occ.checkFiles]]). */
  final case class Rewrite(read: Option[Snapshot], deletes: Seq[AddFile] = Nil,
      reads: Seq[AddFile] = Nil) extends Plan

  /** Backstop on how many log-tail versions the txnId dedup walk inspects
    * when no commit of the same stream is found. */
  private val DedupWindow = 64

  /** `"<streamId>/<batchId>"` -> (streamId, batchId) when the suffix is a
    * number — the shape the streaming writers use, and the shape that maps
    * onto the log's `txn` (SetTransaction) high-water marks. */
  def parseTxnId(id: String): Option[(String, Long)] =
    id.lastIndexOf('/') match {
      case -1 => None
      case i => id.substring(i + 1).toLongOption.map(id.substring(0, i) -> _)
    }

  /** The version already carrying `txnId`, if this batch is a crash replay
    * (see the exactly-once note on [[graft.streaming.GwSink]]). The
    * snapshot's `txn` high-water mark is the primary signal — it survives
    * checkpoints and ANY log length; the bounded tail walk over
    * `CommitInfo.txnId` resolves the exact version (and remains the only
    * detector for legacy logs written before `txn` actions). */
  def replayedVersion(log: GwLog, txnId: Option[String]): Option[Long] = {
    for (id <- txnId) {
      val seg = log.segment()
      def walk(): Option[Long] = {
        val prefix = id.substring(0, id.lastIndexOf('/') + 1)
        val recent = seg.versions.takeRight(DedupWindow).reverseIterator
        var stop = false
        while (recent.hasNext && !stop) {
          val v = recent.next()
          log.readVersion(v).collectFirst { case ci: CommitInfo => ci }.foreach { ci =>
            if (ci.txnId == id) return Some(v)
            // a different batch of the SAME stream: anything older cannot be
            // this batch's commit — fresh data, stop walking
            if (prefix.nonEmpty && ci.txnId.startsWith(prefix)) stop = true
          }
        }
        None
      }
      val byTxnMark = parseTxnId(id).exists { case (app, batch) =>
        seg.versions.nonEmpty &&
          log.snapshotIn(seg, None).transactions.get(app).exists(_ >= batch)
      }
      if (byTxnMark) {
        // committed for sure; -1 when the commit is older than the walk
        // window (same "no new commit" sentinel as an empty batch)
        return Some(walk().getOrElse(-1L))
      }
      walk().foreach(v => return Some(v))
    }
    None
  }
}
