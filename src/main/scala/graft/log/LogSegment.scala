package graft.log

import java.io.FileNotFoundException
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import scala.collection.immutable.SortedMap

/**
 * One listing of `_delta_log`, parsed once (Delta's `LogSegment`): the
 * versions, checksums, compacted ranges and checkpoints, each with its
 * listed `FileStatus`. A version's checkpoint resolves, in precedence
 * order, to the single file `<v>.checkpoint.parquet`; else the greatest
 * V2 manifest `<v>.checkpoint.<uuid>.parquet` (the uuid has no dots);
 * else a COMPLETE multi-part set `<v>.checkpoint.<part>.<numParts>.parquet`.
 * An incomplete set (crash mid-write) resolves to nothing, so readers
 * replay JSON — a torn checkpoint never serves a partial snapshot.
 */
final class LogSegment private (val entries: Seq[FileStatus]) {
  import LogSegment._

  private val named = entries.flatMap(st => parse(st.getPath.getName).map(_ -> st))
  private val commits = SortedMap.from(named.collect { case (Commit(v), st) => v -> st })

  /** Committed versions, ascending. */
  val versions: Seq[Long] = commits.keys.toSeq
  def commitFile(version: Long): Option[FileStatus] = commits.get(version)
  def commitFiles: Seq[(Long, FileStatus)] = commits.toSeq

  val checksums: Seq[(Long, FileStatus)] =
    named.collect { case (Crc(v), st) => v -> st }.sortBy(_._1)

  /** `<start>.<end>.compacted.json` segments, range-ordered. */
  val compacted: Seq[((Long, Long), FileStatus)] =
    named.collect { case (Compacted(s, e), st) => (s, e) -> st }.sortBy(_._1)
  def compactedRanges: Seq[(Long, Long)] = compacted.map(_._1)

  /** Every checkpoint-named parquet, resolved or not: what cleanup sweeps. */
  val checkpointArtifacts: Seq[(Long, FileStatus)] =
    named.collect { case (Cp(v, _), st) => v -> st }

  /** Resolved checkpoints: version -> its files in part order. */
  val checkpoints: SortedMap[Long, Seq[FileStatus]] = SortedMap.from(
    named.collect { case (Cp(v, form), st) => (v, form -> st) }.groupBy(_._1)
      .flatMap { case (v, files) => resolve(files.map(_._2)).map(v -> _) })
  def checkpointVersions: Seq[Long] = checkpoints.keys.toSeq
  def checkpointFiles(version: Long): Seq[FileStatus] = checkpoints.getOrElse(version, Nil)

  /** The newest checkpoint at or below `version`: its replay route. */
  def checkpointAtOrBelow(version: Long): Option[Long] =
    checkpoints.rangeTo(version).lastOption.map(_._1)

  /** This listing without `gone`, re-resolved with no I/O. */
  def without(gone: Set[Path]): LogSegment =
    new LogSegment(entries.filterNot(st => gone.contains(st.getPath)))
}

object LogSegment {

  /** List `logDir` once; a missing directory is an empty log. */
  def list(fs: FileSystem, logDir: Path): LogSegment =
    LogMetrics.timed(LogMetrics.listNanos, LogMetrics.lists) {
      of(try fs.listStatus(logDir).toSeq catch { case _: FileNotFoundException => Nil })
    }

  def of(entries: Seq[FileStatus]): LogSegment = new LogSegment(entries)

  private sealed trait Name
  private final case class Commit(version: Long) extends Name
  private final case class Crc(version: Long) extends Name
  private final case class Compacted(start: Long, end: Long) extends Name
  private final case class Cp(version: Long, form: Form) extends Name

  private sealed trait Form
  private case object Single extends Form
  private case object V2 extends Form
  private final case class Part(part: Int, numParts: Int) extends Form
  private case object Unreadable extends Form // only cleanup sees it

  private def num(s: String): Option[Long] =
    if (s.nonEmpty && s.forall(_.isDigit)) s.toLongOption else None

  /** The one parser of `_delta_log` names; None for everything else
    * (`_last_checkpoint`, claim temps, `_sidecars`, stray files). */
  private def parse(name: String): Option[Name] = {
    val dot = name.indexOf('.')
    if (dot <= 0) return None
    num(name.substring(0, dot)).flatMap { v =>
      name.substring(dot + 1) match {
        case "json" => Some(Commit(v))
        case "crc" => Some(Crc(v))
        case "checkpoint.parquet" => Some(Cp(v, Single))
        case rest if rest.startsWith("checkpoint.") && rest.endsWith(".parquet") =>
          val mid = rest.stripPrefix("checkpoint.").stripSuffix(".parquet")
          Some(Cp(v,
            if (mid.nonEmpty && !mid.contains('.') && !mid.forall(_.isDigit)) V2
            else mid.split('.').map(num) match {
              case Array(Some(p), Some(n)) if p.isValidInt && n.isValidInt => Part(p.toInt, n.toInt)
              case _ => Unreadable
            }))
        case rest if rest.endsWith(".compacted.json") =>
          num(rest.stripSuffix(".compacted.json")).map(Compacted(v, _))
        case _ => None
      }
    }
  }

  /** One version's checkpoint files, by the precedence above. */
  private def resolve(files: Seq[(Form, FileStatus)]): Option[Seq[FileStatus]] = {
    val v2 = files.collect { case (V2, st) => st }
    val parts = files.collect { case (Part(p, n), st) => (p, n, st) }
    files.collectFirst { case (Single, st) => Seq(st) }
      .orElse(if (v2.isEmpty) None else Some(Seq(v2.maxBy(_.getPath.getName))))
      .orElse(parts.headOption.map(_._2).filter(n => parts.size == n &&
        parts.forall(_._2 == n) && parts.map(_._1).sorted == (1 to n))
        .map(_ => parts.sortBy(_._1).map(_._3)))
  }
}
