package graft.log

import org.apache.spark.sql.types.{DataType, StructType}

/**
 * Materialized state of a table at a given log version.
 *
 * Replay semantics (fixed by the reference's golden logs, SURVEY.md §2.3):
 *  - latest `metaData` wins;
 *  - live file set = adds minus removes, keyed by path, last-writer-wins
 *    (an `add` re-asserting an existing path replaces it);
 *  - `protocol` latest wins.
 */
final case class Snapshot(
    version: Long,
    protocol: Option[Protocol],
    metadata: Option[Metadata],
    files: Seq[AddFile],
    // appId -> highest committed batch version (Delta `txn` state)
    transactions: Map[String, Long] = Map.empty,
    // latest remove tombstone per still-gone path (checkpointed within
    // retention so vacuum semantics survive a future log cleanup)
    tombstones: Seq[RemoveFile] = Nil,
    // live metadata domains (Delta domainMetadata): domain -> configuration;
    // removed domains are absent (the checkpoint stores the replayed live
    // set, so a resume can never resurrect a removed domain)
    domains: Map[String, String] = Map.empty) {

  /** Protocol, metadata, txn marks and domains: table-level state as actions. */
  def headerActions: Seq[Action] = protocol.toSeq ++ metadata.toSeq ++
    transactions.toSeq.map { case (app, v) => SetTransaction(app, v) } ++
    domains.toSeq.map { case (d, c) => DomainMetadata(d, c) }

  def schema: StructType =
    metadata
      .map(m => DataType.fromJson(m.schemaString).asInstanceOf[StructType])
      .getOrElse(new StructType())

  def filePaths: Seq[String] = files.map(_.path)

  def totalBytes: Long = files.map(_.size).sum

  /**
   * Stats-based file skipping over harvested footer min/max (see
   * `SchemaProbe.readStats`): the live files whose value range for
   * `column` can intersect `[lower, upper]`. Files without usable stats
   * for the column are always kept — pruning may keep too much, never
   * too little. At 100 TB this is the difference between opening every
   * live file of a snapshot and opening only the ones a selective
   * predicate can touch.
   */
  def filesForRange(column: String, lower: Double, upper: Double): Seq[AddFile] =
    filesForRanges(Seq(ColRange(column,
      Some(Bound.Num(BigDecimal(lower))), Some(Bound.Num(BigDecimal(upper))))))

  /** Conjunction of typed range constraints (see [[ColRange]]). */
  def filesForRanges(constraints: Seq[ColRange]): Seq[AddFile] = {
    prefetchBlooms(files, constraints)
    files.filter(f => statsKeep(f, constraints))
  }

  /** Parallel cache warm-up for the bloom bitsets the point/IN probes
    * below will touch — without it a COLD driver loads sidecars serially
    * inside the per-file filter (one FS open per candidate file: minutes
    * at object-store latency and 100k-file counts). */
  private def prefetchBlooms(candidates: Seq[AddFile],
      constraints: Seq[ColRange]): Unit = {
    val cols = constraints.filter(c =>
      (c.anyOf.nonEmpty ||
        (c.lower.isDefined && c.lower == c.upper)) &&
        !bloomUnsafeCols.contains(c.column)).map(_.column).distinct
    if (cols.nonEmpty) Bloom.prefetch(candidates, cols)
  }

  /** Full file-skipping pipeline: PARTITION pruning first (exact, from the
    * log's `partitionValues` — no footer or stats read needed), then footer
    * stats pruning on the survivors. Partition pruning is the cheaper and
    * stronger prune: a `p = v` predicate eliminates whole directories by
    * metadata equality, which is what keeps a selective query on a 100 TB
    * partitioned table from even LISTING the other partitions' files. Files
    * without a value for a constrained partition column (pre-partitioning
    * commits, compaction/DML rewrites) are always KEPT — conservative, like
    * stats pruning. */
  def filesForConstraints(constraints: Seq[ColRange]): Seq[AddFile] = {
    val partCols = metadata.map(_.partitionColumns).getOrElse(Nil)
    val afterPartition =
      if (partCols.isEmpty || constraints.isEmpty) files
      else {
        val types = schema.fields.map(f => f.name -> f.dataType).toMap
        val partConstraints = constraints.filter(c => partCols.contains(c.column))
        if (partConstraints.isEmpty) files
        else files.filter { f =>
          partConstraints.forall { c =>
            f.partitionValues.get(c.column)
              .flatMap(tok => Snapshot.partitionBound(tok, types.get(c.column))) match {
              case None => true // no value or unparseable -> keep
              case Some(b) if c.anyOf.nonEmpty =>
                // IN-list against a partition column: the partition value
                // is the column's single value for the whole file, so the
                // check is EXACT per member — keep iff some member equals
                // it (incomparable kinds keep, conservative). This is what
                // makes `list IN (probed...)` on a list-partitioned
                // inverted-file index read exactly the probed lists.
                c.anyOf.exists(m => Bound.cmp(b, m).forall(_ == 0))
              case Some(b) =>
                // keep iff the single value can sit inside [lower, upper]
                val belowLower = c.lower.exists(lo => Bound.cmp(b, lo).exists(_ < 0))
                val aboveUpper = c.upper.exists(up => Bound.cmp(b, up).exists(_ > 0))
                !belowLower && !aboveUpper
            }
          }
        }
      }
    prefetchBlooms(afterPartition, constraints)
    afterPartition.filter(f => statsKeep(f, constraints))
  }

  /** Per-column recorded type widenings (`gwTypeChanges` field metadata,
    * written by ALTER COLUMN TYPE): `column -> Seq((fromTypeName,
    * toTypeName))`. Stats and blooms are harvested under the type a file
    * was WRITTEN with; a widening that changes the canonical encoding
    * makes pre-widening entries unsound to probe — date stats store epoch
    * DAYS while a timestamp_ntz constraint arrives in MICROS, and a bloom
    * built over `'42'` never matches a probe for `'42.0'`. Per-file
    * vintage is not recoverable (files don't carry a commit version
    * outside row tracking), so pruning DISABLES itself for the affected
    * column entirely — conservative: every file is kept, never one too
    * few. Range stats stay sound for purely numeric widenings (bounds
    * compare as BigDecimal), so only encoding-changing pairs disable
    * them; the bloom's canonical string changes under ANY widening. */
  private lazy val typeChangedCols: Map[String, Seq[(String, String)]] =
    schema.fields.iterator.flatMap { f =>
      val m = Option(f.metadata).filter(_.contains("gwTypeChanges"))
        .map(_.getString("gwTypeChanges"))
      m.map { s =>
        f.name -> s.split(";").toSeq.flatMap { entry =>
          entry.split("@").head.split("->") match {
            case Array(from, to) => Some((from, to))
            case _ => None
          }
        }
      }
    }.toMap

  private lazy val rangeUnsafeCols: Set[String] =
    typeChangedCols.collect {
      case (c, pairs) if pairs.exists { case (from, to) =>
        from == "date" && to.startsWith("timestamp") } => c
    }.toSet

  private lazy val bloomUnsafeCols: Set[String] = typeChangedCols.keySet

  private def statsKeep(f: AddFile, constraints: Seq[ColRange]): Boolean =
    constraints.forall { c =>
      // timestamp constraints are micros-encoded; only stats harvested
      // with the micros normalization (gwStatsV >= 2) may serve them —
      // v1 stats stored raw millis and would mis-prune matching files
      val rangeKeep =
        if (c.minStatsVersion > Snapshot.statsVersion(f)) true
        else if (rangeUnsafeCols.contains(c.column)) true
        else Snapshot.statsBounds(f, c.column) match {
          case Some((mn, mx)) if c.anyOf.nonEmpty =>
            // IN-list: keep iff ANY member can sit inside the file's
            // [mn, mx] — strictly stronger than the [min(vs), max(vs)]
            // envelope (a file covering [4,6] survives IN (3, 7) under
            // the envelope but provably misses every member), still
            // conservative (incomparable members keep the file)
            c.anyOf.exists { m =>
              val below = Bound.cmp(m, mn).exists(_ < 0)
              val above = Bound.cmp(m, mx).exists(_ > 0)
              !below && !above
            }
          case Some((mn, mx)) =>
            // keep unless the file's range PROVABLY misses [lower, upper];
            // incomparable kinds (e.g. string stats vs numeric bound) prove
            // nothing and keep the file
            val belowLower = c.lower.exists(lo => Bound.cmp(mx, lo).exists(_ < 0))
            val aboveUpper = c.upper.exists(up => Bound.cmp(mn, up).exists(_ > 0))
            !belowLower && !aboveUpper
          case None => true
        }
      rangeKeep && bloomKeep(f, c)
    }

  /** Bloom-filter file skipping for POINT constraints (lower == upper):
    * a definite miss in the file's per-column bloom prunes the file —
    * the high-cardinality-key case min/max stats cannot help with (every
    * file spans the domain). Files without a bloom for the column, and
    * non-equality constraints, are untouched. The probe hashes the same
    * canonical string the build hashed (bloom columns are restricted to
    * integral/string types for exactly this determinism). */
  private def bloomKeep(f: AddFile, c: ColRange): Boolean = {
    if (bloomUnsafeCols.contains(c.column)) return true
    def hit(bits: Array[Byte], b: Bound): Boolean = {
      val s = b match {
        case Bound.Num(v) => v.toString
        case Bound.Str(v) => v
      }
      Bloom.mightContain(bits, Bloom.hashLiteral(s))
    }
    if (c.anyOf.nonEmpty)
      // IN-list: the file survives iff ANY member might be present
      Bloom.ofFile(f, c.column).forall(bits => c.anyOf.exists(hit(bits, _)))
    else (c.lower, c.upper) match {
      case (Some(lo), Some(up)) if lo == up =>
        Bloom.ofFile(f, c.column).forall(hit(_, lo))
      case _ => true
    }
  }
}

/**
 * Exact typed stats bound. Numeric bounds are `BigDecimal` so int64 values
 * beyond 2^53 never round through `Double` (a long predicate and a long
 * stat compare exactly); string bounds compare lexicographically, matching
 * parquet's UNSIGNED UTF-8 stat ordering for ASCII and, conservatively,
 * keeping files whenever kinds are incomparable. Timestamp and date bounds
 * travel as numbers (micros / days), the same encoding the harvest writes
 * (SchemaProbe.putStat) and Catalyst literals carry.
 */
sealed trait Bound
object Bound {
  final case class Num(v: BigDecimal) extends Bound
  final case class Str(v: String) extends Bound

  /** Three-way compare within a kind; None across kinds (= prove nothing). */
  def cmp(a: Bound, b: Bound): Option[Int] = (a, b) match {
    case (Num(x), Num(y)) => Some(x.compare(y))
    case (Str(x), Str(y)) => Some(utf8Cmp(x, y))
    case _ => None
  }

  /** Unsigned UTF-8 byte ordering — parquet's binary stat order and Spark's
    * UTF8String order (Java String.compareTo diverges on supplementary
    * chars, which would prune files that match). */
  private def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return Integer.signum(c)
      i += 1
    }
    Integer.signum(x.length - y.length)
  }
}

/** `[lower, upper]` constraint on `column`; `None` = unbounded on that side.
  * `minStatsVersion` gates the constraint on the stats-encoding version a
  * file was harvested with (see SchemaProbe's `gwStatsV`): files with older
  * stats are always KEPT for this constraint. */
final case class ColRange(
    column: String,
    lower: Option[Bound],
    upper: Option[Bound],
    minStatsVersion: Int = 0,
    /** Non-empty = the constraint is `column IN anyOf` (lower/upper carry
      * the set's [min, max] for range pruning); bloom probing then keeps a
      * file iff ANY member might be present. */
    anyOf: Seq[Bound] = Nil)

object Snapshot {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Stats-encoding version of a file's harvested stats (0 = pre-marker).
    * Served from the checkpoint's pre-parsed struct when present. */
  private[log] def statsVersion(f: AddFile): Int =
    f.parsedStats.map(_.gwStatsV).getOrElse(
      f.stats.flatMap { s =>
        scala.util.Try(mapper.readTree(s).path("gwStatsV").asInt(0)).toOption
      }.getOrElse(0))

  /** Partition-directory token -> typed bound, by the column's schema type.
    * Tokens that cannot parse (or the hive null marker) yield None = the
    * file is kept. Dates become epoch days and timestamps are skipped
    * entirely — Catalyst timestamp literals are micros while dir tokens are
    * rendered local datetimes, and guessing the zone would mis-prune. */
  private[log] def partitionBound(token: String,
      dataType: Option[org.apache.spark.sql.types.DataType]): Option[Bound] = {
    import org.apache.spark.sql.types._
    if (token == "__HIVE_DEFAULT_PARTITION__") return None
    dataType match {
      case Some(_: NumericType) =>
        scala.util.Try(Bound.Num(BigDecimal(token))).toOption
      case Some(DateType) =>
        scala.util.Try(
          Bound.Num(BigDecimal(java.time.LocalDate.parse(token).toEpochDay))).toOption
      case Some(StringType) => Some(Bound.Str(token))
      case _ => None
    }
  }

  /** Metadata-only column maximum across a snapshot's live files, from the
    * harvested footer stats (micros for timestamps — gwStatsV 2 normalizes
    * them at harvest). None unless EVERY live file carries a v2 numeric
    * max for the column: a partial maximum would silently UNDERSTATE (the
    * streaming watermark recovery this serves would then re-admit data it
    * already saw as on-time). At 100 TB this is the difference between one
    * log read and a full-table aggregation to recover a high-water mark. */
  def statsMaxMicros(snapshot: Snapshot, column: String): Option[Long] = {
    val maxes = snapshot.files.map { f =>
      f.parsedStats match {
        case Some(p) =>
          if (p.gwStatsV >= 2)
            p.maxValues.get(column).collect { case Bound.Num(v) => v.toLong }
          else None
        case None => f.stats.flatMap { s =>
          scala.util.Try {
            val root = mapper.readTree(s)
            val v = root.path("maxValues").path(column)
            if (root.path("gwStatsV").asInt(0) >= 2 && v.isNumber)
              Some(v.asLong()) else None
          }.toOption.flatten
        }
      }
    }
    if (maxes.nonEmpty && maxes.forall(_.isDefined)) Some(maxes.flatten.max)
    else None
  }

  /** Typed (min, max) of `column` from a file's stats — the checkpoint's
    * pre-parsed struct when present (no JSON work at all: the hot path
    * for snapshots served from a checkpoint at millions of files), the
    * stats JSON otherwise. */
  private[log] def statsBounds(f: AddFile, column: String): Option[(Bound, Bound)] =
    f.parsedStats match {
      case Some(p) =>
        for {
          mn <- p.minValues.get(column)
          mx <- p.maxValues.get(column)
        } yield (mn, mx)
      case None => f.stats.flatMap { s =>
        scala.util.Try {
          val root = mapper.readTree(s)
          def bound(node: com.fasterxml.jackson.databind.JsonNode): Option[Bound] =
            if (node.isNumber) Some(Bound.Num(BigDecimal(node.decimalValue())))
            else if (node.isTextual) Some(Bound.Str(node.asText()))
            else None
          for {
            mn <- bound(root.path("minValues").path(column))
            mx <- bound(root.path("maxValues").path(column))
          } yield (mn, mx)
        }.toOption.flatten
      }
    }

  /** Fold per-version action batches (ordered by version) into a snapshot. */
  def replay(version: Long, versions: Seq[Seq[Action]]): Snapshot = {
    var protocol: Option[Protocol] = None
    var metadata: Option[Metadata] = None
    // LinkedHashMap keeps commit order of surviving files deterministic.
    val live = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    // remove tombstones (latest per path, dropped if the path re-adds) and
    // app-transaction high-water marks — both checkpoint state per the
    // Delta spec (vacuum safety / exactly-once past a checkpoint)
    val gone = scala.collection.mutable.LinkedHashMap.empty[String, RemoveFile]
    val txns = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val doms = scala.collection.mutable.LinkedHashMap.empty[String, String]
    versions.foreach { actions =>
      actions.foreach {
        case p: Protocol => protocol = Some(p)
        case m: Metadata => metadata = Some(m)
        case a: AddFile => live(a.path) = a; gone.remove(a.path)
        case r: RemoveFile => live.remove(r.path); gone(r.path) = r
        case t: SetTransaction =>
          if (txns.get(t.appId).forall(_ <= t.version)) txns(t.appId) = t.version
        case d: DomainMetadata =>
          if (d.removed) doms.remove(d.domain) else doms(d.domain) = d.configuration
        case _: CommitInfo => ()
        // change-data files are commit-scoped metadata for the CDF readers,
        // never table state (Delta spec: cdc actions don't affect snapshots)
        case _: CdcFile => ()
        // v2-checkpoint bookkeeping rides checkpoint files only; the log
        // reader expands sidecar refs before replay, so these are inert
        case _: CheckpointMetadata => ()
        case _: SidecarFile => ()
      }
    }
    Snapshot(version, protocol, metadata, live.values.toSeq,
      transactions = txns.toMap, tombstones = gone.values.toSeq,
      domains = doms.toMap)
  }
}
