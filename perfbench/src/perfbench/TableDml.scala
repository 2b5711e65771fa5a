package perfbench

import graft.GwTable
import graft.streaming.GwSink
import java.nio.file.Path
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum}
import org.apache.spark.sql.streaming.Trigger
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/**
 * The commit path: appends, copy-on-write and merge-on-read deletes,
 * updates, merges, compaction and a streaming drain, on one unpartitioned
 * table (`flat`), one partitioned table (`part`) and an append-only feed
 * streamed into a sink through `format("gwdelta")`. Every write is
 * followed by a check read; a model kept by the benchmark gives the
 * expected answer. Tables are addressed by plain local paths.
 */
object TableDml extends Workload {
  val name = "table_dml"
  private val InitialRows = 8000
  private val BatchRows = 200
  private val Keys = 1000
  private val OpsPerSecond = 2.0

  /** Op kinds of one cycle, in a fixed order so that every seed puts each
    * op on a table in the same state; a compact ends each cycle. */
  private val Cycle = IndexedSeq("append_flat", "append_part", "append_feed", "delete_cow",
    "delete_mor", "update", "merge", "stream")

  def opCount(seconds: Int): Int = wholeCycles(seconds, OpsPerSecond, Cycle.size + 1)

  final case class Rec(id: Long, key: Int, part: Int, qty: Long, status: String)

  /** One seeded op: `rows` for appends and merge sources, [lo, lo + 10) the
    * key range of deletes and updates. */
  final case class DmlOp(kind: String, table: String, rows: Seq[Rec], lo: Int)

  private def tableOf(kind: String, cycle: Int): String = kind match {
    case "append_flat" | "delete_mor" | "merge" => "flat"
    case "append_part" | "delete_cow" | "update" => "part"
    case "append_feed" => "feed"
    case "stream" => "sink"
    case "compact" => if (cycle % 2 == 0) "flat" else "part"
  }

  /** Initial table contents, then the seeded op schedule (`ops` timed ops
    * after one warm-up cycle). */
  def schedule(seed: Long, ops: Int): (Map[String, Seq[Rec]], IndexedSeq[DmlOp]) = {
    val rng = new scala.util.Random(seed ^ 0xd41L)
    var nextId = 0L
    def rec(id: Long) = Rec(id, rng.nextInt(Keys), rng.nextInt(4), rng.nextInt(1000).toLong,
      if (rng.nextBoolean()) "open" else "closed")
    def fresh(n: Int) = (0 until n).map { _ => nextId += 1; rec(nextId) }
    val initial = Map("flat" -> fresh(InitialRows), "part" -> fresh(InitialRows),
      "feed" -> fresh(InitialRows / 8))
    val cycles = 1 + ops / (Cycle.size + 1)
    val sched = (0 until cycles).flatMap { c =>
      (Cycle :+ "compact").map { k =>
        val rows = k match {
          case "merge" =>
            // distinct ids: a target row matched twice fails the MERGE
            rng.shuffle((1L to InitialRows.toLong).toVector).take(BatchRows / 2).map(rec) ++
              fresh(BatchRows / 2)
          case a if a.startsWith("append") => fresh(BatchRows)
          case _ => Nil
        }
        DmlOp(k, tableOf(k, c), rows, rng.nextInt(Keys - 10))
      }
    }
    (initial, sched)
  }

  def setup(dir: Path, seed: Long, ops: Int)(implicit spark: SparkSession): Instance =
    setup(dir, seed, ops, uriPaths = false)

  /** `uriPaths` addresses every table and the stream checkpoint by a
    * `file:///` URI instead of a plain path. */
  def setup(dir: Path, seed: Long, ops: Int, uriPaths: Boolean)(
      implicit spark: SparkSession): Instance = {
    val (initial, sched) = schedule(seed, ops)
    val warm = Cycle.size + 1
    val inst = new Inst(dir, initial, sched, uriPaths)
    (0 until warm).foreach { i =>
      inst.apply(sched(i), new OpContext(new Pass(false)))().foreach(e =>
        throw new IllegalStateException(s"$name warm-up ${sched(i).kind}: $e"))
    }
    inst.offset = warm
    inst
  }

  final class Inst(dir: Path, initial: Map[String, Seq[Rec]], sched: IndexedSeq[DmlOp],
      uriPaths: Boolean)(implicit spark: SparkSession) extends Instance {
    import spark.implicits._
    var offset = 0
    private def location(p: Path) = if (uriPaths) p.toUri.toString.stripSuffix("/") else p.toString
    private val root = location(dir.resolve("tables"))
    private def path(t: String) = s"$root/$t"
    private val model: Map[String, mutable.HashMap[Long, Rec]] =
      Seq("flat", "part", "feed", "sink").map(_ -> mutable.HashMap.empty[Long, Rec]).toMap

    initial.foreach { case (t, rows) =>
      GwSink.append(rows.toDF(), path(t), partitionBy = if (t == "part") Seq("part") else Nil)
      rows.foreach(r => model(t)(r.id) = r)
    }

    def kind(i: Int): String = sched(offset + i).kind

    def run(i: Int, op: OpContext): () => Option[String] = apply(sched(offset + i), op)

    private def inRange(lo: Int)(r: Rec) = r.key >= lo && r.key < lo + 10
    private def keyCond(lo: Int): Column = col("key") >= lo && col("key") < lo + 10

    def apply(o: DmlOp, op: OpContext): () => Option[String] = {
      val p = path(o.table)
      val version: Long = o.kind match {
        case "stream" => drain(op)
        case k => op.clock.write("table", k) {
          val t = GwTable.forPath(spark, p)
          k match {
            case "append_flat" | "append_part" | "append_feed" => GwSink.append(o.rows.toDF(), p)
            case "delete_cow" => t.delete(keyCond(o.lo))
            case "delete_mor" => t.delete(keyCond(o.lo), mergeOnRead = true)
            case "update" => t.update(keyCond(o.lo), Map("qty" -> (col("qty") + 7)))
            case "merge" => t.merge(o.rows.toDF(), col("t.id") === col("s.id"),
              whenMatchedSet = Map("qty" -> col("s.qty"), "status" -> col("s.status")))
            case "compact" => t.compact(targetFileBytes = 1L << 20)
          }
        }
      }
      val got = op.readRows(GwTable.forPath(spark, p).toDF
        .agg(count(lit(1)), coalesce(sum("qty"), lit(0L)), coalesce(sum("id"), lit(0L))),
        GwTable.forPath(spark, p).snapshot().files.size.toLong).head
      if (op.pass.traced && version >= 0 && o.kind != "stream") op.afterOp(op.pass.probe {
        val actions = GwTable.forPath(spark, p).log.readVersion(version)
        val adds = actions.collect { case a: graft.log.AddFile => a }
        op.pass.add("table.files_added", adds.size.toDouble)
        op.pass.add("table.files_removed",
          actions.count(_.isInstanceOf[graft.log.RemoveFile]).toDouble)
        op.pass.add("table.bytes_written", adds.map(_.size.toDouble).sum)
      })
      () => {
        val m = model(o.table)
        val before = m.size
        var changed = 0
        o.kind match {
          case "append_flat" | "append_part" | "append_feed" =>
            o.rows.foreach(r => m(r.id) = r); changed = o.rows.size
          case "delete_cow" | "delete_mor" =>
            m.filterInPlace { case (_, r) => !inRange(o.lo)(r) }; changed = before - m.size
          case "update" =>
            m.mapValuesInPlace { case (_, r) =>
              if (inRange(o.lo)(r)) { changed += 1; r.copy(qty = r.qty + 7) } else r }
          case "merge" =>
            o.rows.foreach { s =>
              m(s.id) = m.get(s.id).map(_.copy(qty = s.qty, status = s.status)).getOrElse(s)
            }
            changed = o.rows.size
          case "stream" => model("feed").foreach { case (id, r) => m(id) = r }
          case "compact" => ()
        }
        if (o.kind != "stream") op.pass.add("table.rows_changed", changed.toDouble)
        val want = (m.size.toLong, m.values.map(_.qty).sum, m.keys.sum)
        val read = (got.getLong(0), got.getLong(1), got.getLong(2))
        if (read == want) None else Some(s"${o.kind} on ${o.table}: read $read, expected $want")
      }
    }

    /** Drains the feed into the sink with one `AvailableNow` run. */
    private def drain(op: OpContext): Long = op.clock.write("stream", "drain") {
      val t0 = System.nanoTime()
      val q = op.clock.span("stream", "start") {
        spark.readStream.format("gwdelta").load(path("feed"))
          .writeStream.format("gwdelta")
          .option("checkpointLocation", location(dir.resolve("checkpoint")))
          .trigger(Trigger.AvailableNow()).start(path("sink"))
      }
      val startMs = (System.nanoTime() - t0) / 1e6
      op.clock.span("stream", "await")(q.awaitTermination())
      op.afterOp {
        op.pass.add("stream.start_ms", startMs)
        val progress = q.recentProgress.toSeq
        op.pass.add("stream.batches", progress.map(_.batchId).distinct.size.toDouble)
        Seq("latestOffset" -> "latest_offset_ms", "getBatch" -> "get_batch_ms",
          "addBatch" -> "add_batch_ms", "walCommit" -> "wal_commit_ms",
          "queryPlanning" -> "query_planning_ms").foreach { case (k, n) =>
          op.pass.add(s"stream.$n",
            progress.map(p => p.durationMs.asScala.get(k).map(_.doubleValue).getOrElse(0.0)).sum)
        }
      }
      -1L
    }

    override def finish(): Map[String, Double] = {
      val live = Seq("flat", "part", "feed", "sink")
        .map(t => GwTable.forPath(spark, path(t)).snapshot().files.size).sum
      Map("log_bytes_per_file" -> Files2.deltaLogBytes(dir.resolve("tables").toFile).toDouble / live)
    }
  }
}

/**
 * `table_dml` with every table addressed by a `file:///` URI. Not listed in
 * BENCHMARK.json: its timed stream drains fail their check, because a
 * restarted `AvailableNow` query into an existing `gwdelta` table at a
 * `file:///` URI commits no log version (the sink's commit matches the
 * task-reported `file:///` paths against harvested `file:/` paths). It
 * reproduces that defect and reports 0 failed ops once it is fixed.
 */
object TableDmlUri extends Workload {
  val name = "table_dml_uri"

  def opCount(seconds: Int): Int = TableDml.opCount(seconds)

  def setup(dir: Path, seed: Long, ops: Int)(implicit spark: SparkSession): Instance =
    TableDml.setup(dir, seed, ops, uriPaths = true)
}
