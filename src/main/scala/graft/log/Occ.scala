package graft.log

/**
 * Typed optimistic-concurrency conflict taxonomy + the conflict checks every
 * [[GwTxn]] attempt runs against the snapshot it commits on top of.
 *
 * Commit protocol recap ([[GwLog.commitAt]]): version files are claimed
 * atomically, so a losing writer gets a [[VersionConflictException]] and
 * NOTHING of its commit is on disk. The interesting question is what the
 * loser does next. Blind appends re-derive and retry — they stay valid no
 * matter what the winner committed. Operations that PLANNED against a
 * snapshot (row-level DML, compaction, restore) can only retry when the
 * winner's commit didn't invalidate the plan; these checks classify the
 * invalidations with the same taxonomy Delta's ConflictChecker uses
 * (PROTOCOL.md "Concurrency Control" / delta's
 * ConcurrentModificationException family), so callers can distinguish
 * "re-run the operation" races from "the table changed under you" ones:
 *
 *  - [[MetadataChangedException]]: the winner restated the table's
 *    metadata (schema evolution, constraint/properties change). A planned
 *    rewrite would land rows shaped/validated against the OLD metadata —
 *    never safe to retry blindly; the operation must re-plan.
 *  - [[ProtocolChangedException]]: reader/writer version bumped mid-flight.
 *  - [[ConcurrentDeleteDeleteException]]: a file this operation tombstones
 *    or re-asserts (copy-on-write source, DV-growing re-assertion) was
 *    removed or replaced by the winner — double-delete / lost-DV hazard.
 *  - [[ConcurrentDeleteReadException]]: a file this operation only READ
 *    (e.g. a MERGE's untouched candidates, which its insert decisions
 *    depended on) was removed or replaced by the winner.
 *
 * Isolation level: WriteSerializable (Delta's default). A winner that only
 * APPENDED files is never a conflict for row-level DML — the appended rows
 * logically post-date the operation — so a DELETE retried past a racing
 * blind append commits cleanly, which is exactly the behavior a streaming
 * ingest + nightly GDPR-delete pair needs. (Serializable's stricter
 * "no concurrent appends under my predicate" is not offered; the engine
 * never reorders commits, so WriteSerializable is what the log provides.)
 *
 * Same-appId idempotent-write races ([[graft.streaming.GwSink]] txnAppId/
 * txnVersion) do NOT raise: every [[GwTxn]] attempt re-checks the replay
 * and a version the winner already committed becomes a silent no-op — for
 * the foreachBatch exactly-once contract a skip is strictly safer than
 * delta's ConcurrentTransactionException (the data IS committed).
 */
sealed abstract class GwConcurrentModificationException(message: String)
  extends RuntimeException(message)

final class MetadataChangedException(table: String)
  extends GwConcurrentModificationException(
    s"the metadata of $table changed under this operation (concurrent " +
      "schema evolution / property change); re-run the operation against " +
      "the new table state")

final class ProtocolChangedException(table: String)
  extends GwConcurrentModificationException(
    s"the protocol version of $table changed under this operation; " +
      "re-run the operation against the new table state")

final class ConcurrentDeleteDeleteException(table: String, file: String)
  extends GwConcurrentModificationException(
    s"this operation tried to remove or re-assert $file of $table, but a " +
      "concurrent commit already removed or replaced it; re-run the " +
      "operation")

final class ConcurrentDeleteReadException(table: String, file: String)
  extends GwConcurrentModificationException(
    s"this operation read $file of $table, but a concurrent commit " +
      "removed or replaced it; re-run the operation")

object Occ {

  /** Abort when a winner restated what the operation's plan was derived
    * from: the attempt's fresh snapshot vs the snapshot the operation
    * planned against ([[GwTxn.Rewrite]]). Equality is exact —
    * ANY metadata restatement (schema, partitioning, constraints, table
    * properties) invalidates a planned rewrite, because its replacement
    * rows were shaped and validated against the old metadata. */
  def checkTableState(table: String, read: Snapshot, fresh: Snapshot): Unit = {
    if (fresh.protocol != read.protocol) throw new ProtocolChangedException(table)
    if (fresh.metadata != read.metadata) throw new MetadataChangedException(table)
  }

  /** Classify a mid-operation change to the planned file set against the
    * fresh live state (`live`: path -> current AddFile). `deletes` are the
    * exact snapshot entries this commit tombstones or re-asserts; `reads`
    * are candidates it only verified. Entry EQUALITY is required, so a
    * winner that re-asserted a path with a grown deletion vector (whose
    * deletes a stale rewrite would resurrect) is caught, not just outright
    * removal. */
  def checkFiles(table: String, live: Map[String, AddFile],
      deletes: Seq[AddFile], reads: Seq[AddFile] = Nil): Unit = {
    deletes.find(f => !live.get(f.path).contains(f)).foreach { f =>
      throw new ConcurrentDeleteDeleteException(table, f.path)
    }
    reads.find(f => !live.get(f.path).contains(f)).foreach { f =>
      throw new ConcurrentDeleteReadException(table, f.path)
    }
  }

  /** Blind-append safety ([[GwTxn.Append]]): an append's
    * plan depends only on the table's SCHEMA (its staged files' shape),
    * the write-path CHECK constraints, and any identity/generated column
    * declarations (all validated/computed pre-commit against the metadata
    * it read), so only those facets abort it — a winner that merely
    * touched unrelated table properties doesn't kill an ingest. Delta
    * aborts appends on ANY metadata change; this is the precise subset
    * that is actually load-bearing for an append. Identity watermarks are
    * in the guarded set deliberately: a concurrent allocation means this
    * plan's ids may collide, so the loser must re-run, not retry. */
  def checkAppendState(table: String, read: Option[Metadata],
      fresh: Option[Metadata]): Unit = {
    val prefixes = Seq("graft.constraints.", "graft.generated.", "graft.identity.")
    def schemaOf(m: Option[Metadata]) = m.map(_.schemaString).getOrElse("")
    def guardedOf(m: Option[Metadata]) =
      m.map(_.configuration.filter(kv => prefixes.exists(kv._1.startsWith)))
        .getOrElse(Map.empty[String, String])
    if (schemaOf(read) != schemaOf(fresh) ||
      guardedOf(read) != guardedOf(fresh))
      throw new MetadataChangedException(table)
  }
}
