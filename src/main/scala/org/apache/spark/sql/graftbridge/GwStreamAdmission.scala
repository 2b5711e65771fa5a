package org.apache.spark.sql.graftbridge

import graft.log.{AddFile, CdcFile, GwLog, Metadata, RemoveFile}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, Offset => OffsetV2, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxFiles}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/**
 * Stream offset over a gwdelta log: a log VERSION, plus — only while the
 * initial snapshot is being rate-limited — the index of the next snapshot
 * file to serve (`snapIdx`). A fully-consumed position serializes as the
 * bare version number, byte-identical to the pre-admission-control format,
 * so existing checkpoints restart under the new code (and checkpoints
 * written without a mid-snapshot position restart under the old).
 *
 * The snapshot slice order is the snapshot's file order, which is the
 * deterministic commit-order replay of the log ([[graft.log.Snapshot]]) —
 * the same log always yields the same slices.
 */
case class GwStreamOffset(version: Long, snapIdx: Long = -1L) extends OffsetV2 {
  override def json: String =
    if (snapIdx < 0) version.toString else s"""{"v":$version,"i":$snapIdx}"""
}

object GwStreamOffset {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def parse(json: String): GwStreamOffset = {
    val t = json.trim
    if (t.startsWith("{")) {
      val n = mapper.readTree(t)
      GwStreamOffset(n.path("v").asLong(), n.path("i").asLong(-1L))
    } else GwStreamOffset(t.toLong)
  }

  /** Any offset the engine hands back (ours or a checkpoint's
    * SerializedOffset) -> the typed form; null = nothing consumed. */
  def of(o: OffsetV2): GwStreamOffset = o match {
    case null => GwStreamOffset(-1L)
    case g: GwStreamOffset => g
    case other => parse(other.json)
  }
}

/** One version's share of a change-feed batch: the files whose rows the
  * feed emits for `version`, tagged `changeType`. `None` marks change-data
  * files, which carry their own `_change_type` column. */
case class GwChangeSlice(version: Long, changeType: Option[String], files: Seq[AddFile])

/**
 * Admission control of the gwdelta stream ([[GwMicroBatchStream]], both
 * the `format("gwdelta")` path face and the catalog `readStream.table`
 * face): `maxFilesPerTrigger` / `maxBytesPerTrigger` bound each micro-batch, and
 * `Trigger.AvailableNow` runs the backlog in those bounded batches and
 * stops. The initial snapshot — the 100 TB case — is sliced WITHIN a
 * version by file index ([[GwStreamOffset]]); incremental tailing admits
 * whole versions (a version is one commit). Both paths always admit at
 * least one file / one version per batch, so a single oversized file can
 * never stall the stream.
 */
object GwStreamAdmission {

  /** (maxFiles, maxBytes) implied by a ReadLimit; None = unbounded. Row
    * limits are not expressible over a file log and admit everything. */
  def caps(limit: ReadLimit): (Option[Int], Option[Long]) = limit match {
    case f: ReadMaxFiles => (Some(f.maxFiles), None)
    case b: ReadMaxBytes => (None, Some(b.maxBytes))
    case c: CompositeReadLimit =>
      c.getReadLimits.map(caps).reduce { (a, b) =>
        (Seq(a._1, b._1).flatten.minOption, Seq(a._2, b._2).flatten.minOption)
      }
    case _ => (None, None)
  }

  /** The source's default ReadLimit from its read options. Bytes accept
    * size suffixes ("512m"). */
  def defaultLimit(options: String => Option[String]): ReadLimit = {
    val limits =
      options("maxFilesPerTrigger").map(v => ReadLimit.maxFiles(v.toInt)).toSeq ++
        options("maxBytesPerTrigger").map(v =>
          ReadLimit.maxBytes(org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v)))
    limits match {
      case Nil => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** Files a batch serves in an admitted range `(start, end]`. Snapshot
    * slices serve the files `[snapIdx_start, snapIdx_end)` of the pinned
    * version's snapshot; incremental ranges serve the `dataChange` adds of
    * the versions, skipping deletion-vector re-assertions (no new rows),
    * and stop the stream on a schema restatement. */
  def rangeFiles(log: GwLog, tablePath: String,
      start: GwStreamOffset, end: GwStreamOffset): Seq[AddFile] = {
    if (end.version < 0) return Nil
    if (start.version < 0 || start.snapIdx >= 0) {
      val sv = if (start.version < 0) end.version else start.version
      require(end.version == sv,
        s"snapshot-slice offsets must pin one version: $start -> $end")
      val files = log.snapshot(Some(sv)).files
      val from = math.max(start.snapIdx, 0L).toInt
      val to = if (end.snapIdx < 0) files.size else end.snapIdx.toInt
      files.slice(from, to)
    } else {
      val actions = ((start.version + 1) to end.version).flatMap(log.readVersion)
      if (actions.exists(_.isInstanceOf[Metadata]))
        throw new IllegalStateException(
          s"gwdelta stream at $tablePath hit a schema restatement in versions " +
            s"(${start.version}, ${end.version}]: the table was replaced; " +
            "restart the stream from a fresh checkpoint to consume the " +
            "restated snapshot")
      actions.collect { case a: AddFile if a.dataChange && a.dv.isEmpty => a }
    }
  }

  /** The next admitted end offset from `start` under `limit`, never past
    * `capVersion` (Trigger.AvailableNow's pin). Returns `start` itself when
    * there is nothing to admit. */
  def nextOffset(log: GwLog, start: GwStreamOffset, limit: ReadLimit,
      capVersion: Option[Long]): GwStreamOffset = {
    val latest = {
      val l = log.latestVersion().getOrElse(-1L)
      capVersion.fold(l)(math.min(l, _))
    }
    if (latest < 0) return start
    val (maxFiles, maxBytes) = caps(limit)

    if (start.version < 0 || start.snapIdx >= 0) {
      // initial snapshot, possibly mid-consumption: the version is pinned
      // for the whole snapshot; later commits arrive incrementally after
      val sv = if (start.version < 0) latest else start.version
      val files = log.snapshot(Some(sv)).files
      val from = math.max(start.snapIdx, 0L).toInt
      val to = sliceEnd(files, from, maxFiles, maxBytes)
      if (to >= files.size) GwStreamOffset(sv) else GwStreamOffset(sv, to)
    } else if (latest <= start.version) start
    else if (maxFiles.isEmpty && maxBytes.isEmpty) GwStreamOffset(latest)
    else {
      // whole versions, accumulating this batch's file count/bytes; always
      // at least one version of progress
      var v = start.version
      var admitted = start.version
      var nf = 0
      var nb = 0L
      while (v < latest) {
        v += 1
        val adds = log.readVersion(v)
          .collect { case a: AddFile if a.dataChange && a.dv.isEmpty => a }
        val overflow = maxFiles.exists(nf + adds.size > _) ||
          maxBytes.exists(nb + adds.map(_.size).sum > _)
        if (overflow && admitted > start.version) return GwStreamOffset(admitted)
        nf += adds.size
        nb += adds.map(_.size).sum
        admitted = v
        if (maxFiles.exists(nf >= _) || maxBytes.exists(nb >= _))
          return GwStreamOffset(admitted)
      }
      GwStreamOffset(admitted)
    }
  }

  val CommitVersionCol = "_commit_version"

  /** Table schema + the change-feed metadata columns. */
  def changeFeedSchema(base: StructType): StructType =
    base.add(graft.Cdc.ChangeTypeCol, StringType).add(CommitVersionCol, LongType)

  /** Change-feed admission: every whole version up to `capVersion` (a
    * commit is the feed's unit; snapshot slicing and file caps do not apply). */
  def nextChangeOffset(log: GwLog, start: GwStreamOffset,
      capVersion: Option[Long]): GwStreamOffset = {
    val latest = log.latestVersion().getOrElse(-1L)
    val end = capVersion.fold(latest)(math.min(latest, _))
    if (end > start.version) GwStreamOffset(end) else start
  }

  /** The change feed of versions `(start, end]` (`start` -1 = from version
    * 0), one slice per version that changes rows: the commit's change-data
    * files ([[graft.Cdc]]) when it has them, else the added rows of an
    * insert-only commit or the removed rows of a remove-only one. Other
    * commits and schema restatements stop the feed with guidance (the
    * batch `GwTable.rowChanges`); property-only restatements pass. */
  def changeSlices(log: GwLog, tablePath: String,
      start: Long, end: Long): Seq[GwChangeSlice] = {
    def stop(v: Long, why: String): Nothing = throw new IllegalStateException(
      s"gwdelta CDF stream at $tablePath: version $v $why")
    var curMeta: Option[Metadata] =
      if (start < 0) None else log.snapshot(Some(start)).metadata
    ((start + 1) to end).flatMap { v =>
      val actions = log.readVersion(v)
      actions.collectFirst { case m: Metadata => m }.foreach { m =>
        val benign = v == 0 || curMeta.exists(c =>
          c.schemaString == m.schemaString &&
            c.partitionColumns == m.partitionColumns)
        if (!benign)
          stop(v, "restates the table's schema; row identity is undefined " +
            "across schemas — restart consumption from a full snapshot")
        curMeta = Some(m)
      }
      val cdcs = actions.collect { case c: CdcFile => AddFile(c.path, c.size, 0L) }
      if (cdcs.nonEmpty) Some(GwChangeSlice(v, None, cdcs))
      else {
        val adds = actions.collect { case a: AddFile if a.dataChange => a }
        val rms = actions.collect { case r: RemoveFile if r.dataChange => r }
        if (adds.exists(_.dv.isDefined))
          stop(v, "asserts deletion vectors; the position-level diff needs " +
            "the batch API — GwTable.rowChanges")
        if (adds.nonEmpty && rms.nonEmpty)
          stop(v, "mixes added and removed data files (a rewrite); the " +
            "row-level diff needs the batch API — GwTable.rowChanges")
        if (adds.nonEmpty) Some(GwChangeSlice(v, Some(graft.Cdc.Insert), adds))
        else if (rms.nonEmpty) {
          // removed rows must be LIVE rows: a file that carried a deletion
          // vector needs position reconciliation the feed cannot do
          val prev = log.snapshot(Some(v - 1)).files.map(f => f.path -> f).toMap
          val removed = rms.map(r => prev.getOrElse(r.path, AddFile(r.path, r.size, 0L)))
          if (removed.exists(_.dv.isDefined))
            stop(v, "removes a file carrying a deletion vector — use " +
              "GwTable.rowChanges")
          Some(GwChangeSlice(v, Some(graft.Cdc.Delete), removed))
        } else None
      }
    }
  }

  /** End index (exclusive) of a snapshot slice starting at `from` under the
    * caps; at least one file when any remain. */
  private def sliceEnd(files: Seq[AddFile], from: Int,
      maxFiles: Option[Int], maxBytes: Option[Long]): Int = {
    if (maxFiles.isEmpty && maxBytes.isEmpty) return files.size
    var to = from
    var nb = 0L
    while (to < files.size) {
      val f = files(to)
      val overflow = maxFiles.exists(m => to - from + 1 > m) ||
        maxBytes.exists(m => nb + f.size > m)
      if (overflow && to > from) return to
      nb += f.size
      to += 1
      if (maxFiles.exists(m => to - from >= m) || maxBytes.exists(nb >= _))
        return to
    }
    files.size
  }
}
