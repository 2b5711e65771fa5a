package perfbench

import graft.{GwTable, Indexer}
import graft.log.Bloom
import graft.streaming.GwSink
import java.nio.file.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, input_file_name, lit, sum}

/**
 * Reads only, through the log that the other workloads write: point
 * lookups, range scans, `versionAsOf` / `timestampAsOf` to seeded old
 * versions and `changesSince` over indexed CDA tables with long histories,
 * plus one engine table with stats, a bloom column and merge-on-read
 * deletion vectors. The (table, version) pairs the ops draw from outnumber
 * the engine's process-wide snapshot cache, while the latest versions fit.
 */
object SnapshotRead extends Workload {
  val name = "snapshot_read"
  private val Tables = 2
  private val Versions = 60
  private val RowsPerFile = 40
  private val EventBatches = 4
  private val EventRows = 1500
  private val OpsPerSecond = 12.0

  /** Op kinds of one cycle; every cycle has each kind once. */
  private val Cycle = IndexedSeq("latest_point", "latest_range", "version_as_of",
    "timestamp_as_of", "changes_since", "latest_events_point", "latest_events_range", "version_as_of_2")

  def opCount(seconds: Int): Int = wholeCycles(seconds, OpsPerSecond, Cycle.size)

  final case class Ev(id: Long, key: Int, name: String, qty: Long)

  /** One seeded read: ids are offsets from the table's first id. */
  final case class Read(kind: String, table: Int, version: Int, lo: Long, width: Long, name: String)

  /** Versions and id ranges are stratified per op kind, so every seed
    * spreads its time travel evenly over the history and runs do the same
    * amount of replay and scan work. */
  def schedule(seed: Long, ops: Int): IndexedSeq[Read] = {
    val rng = new scala.util.Random(seed ^ 0x7eadL)
    val cycles = ops / Cycle.size
    def strata(n: Int): Map[String, IndexedSeq[Int]] = Cycle.map { k =>
      k -> rng.shuffle((0 until cycles).map(c => ((c + rng.nextDouble()) * n / cycles).toInt))
    }.toMap
    val versions = strata(Versions - 1)
    val offsets = strata(IdSpan)
    (0 until cycles).flatMap { c =>
      rng.shuffle(Cycle).map { k =>
        Read(k, (c + Cycle.indexOf(k)) % Tables, versions(k)(c), offsets(k)(c).toLong, 100L,
          s"e${rng.nextInt(EventBatches * EventRows)}")
      }
    }
  }

  /** Ids of a table span about this much from its first id (its templates' rows). */
  private val IdSpan = 400

  def events(seed: Long): IndexedSeq[Ev] = {
    val rng = new scala.util.Random(seed ^ 0xe7L)
    (0 until EventBatches * EventRows).map(i =>
      Ev(i.toLong, rng.nextInt(1000), s"e${rng.nextInt(EventBatches * EventRows)}", rng.nextInt(500).toLong))
  }

  def setup(dir: Path, seed: Long, ops: Int)(implicit spark: SparkSession): Instance = {
    val tables = CdaGen.plan(seed, Tables, Versions, 1, RowsPerFile, _ => Int.MaxValue, _ => Set.empty)
    val inst = new Inst(dir, tables, events(seed), schedule(seed, ops))
    // every kind twice, on reads the timed pass does not repeat: these
    // short reads are mostly planning and job overhead, which needs more
    // warm-up than one call each to stop moving between runs
    schedule(seed + 1, 2 * Cycle.size).zipWithIndex.foreach { case (r, i) =>
      inst.read(r, new OpContext(new Pass(false)))().foreach(e =>
        throw new IllegalStateException(s"$name warm-up op $i: $e"))
    }
    inst
  }

  final class Inst(dir: Path, tables: IndexedSeq[CdaTable], evs: IndexedSeq[Ev],
      reads: IndexedSeq[Read])(implicit spark: SparkSession) extends Instance {
    import spark.implicits._
    private val data = dir.resolve("cda")
    private val db = dir.resolve("db").toUri.toString.stripSuffix("/")
    private val eventsPath = s"$db/events"
    CdaGen.materialize(data, tables)
    private val manifest = dir.resolve("manifest.json")
    Files2.write(manifest, CdaGen.manifest(data, tables, _.folders.size))
    Indexer.index(manifest.toUri.toString, db)

    /** Reference rows per table from a plain parquet read of the distinct
      * files the folders copy: (folder index = log version, id, amount). */
    private val reference: IndexedSeq[Array[(Int, Long, Long)]] = {
      val templates = tables.flatMap(t => (0 until CdaGen.Templates).map(i =>
        CdaGen.templatePath(data, t, t.fp1, i).toUri.toString))
      val rows = spark.read.parquet(templates: _*)
        .select(input_file_name(), col("id"), col("amount")).collect()
        .groupBy(r => new org.apache.hadoop.fs.Path(r.getString(0)).getName)
      tables.map { t =>
        t.folders.zipWithIndex.flatMap { case (f, v) => f.files.flatMap { file =>
          rows(s"${t.fp1}-${file.template}.parquet").map(r => (v, r.getLong(1), r.getLong(2)))
        } }.toArray
      }
    }

    // the engine table: appended batches with a bloom column, then a
    // merge-on-read delete leaves deletion vectors on most files
    private val deletedKeys = Seq((100, 140))
    evs.grouped(EventRows).foreach { batch =>
      GwSink.append(batch.toDF().coalesce(1), eventsPath,
        bootstrapProps = Map(Bloom.ColumnsProp -> "name", "graft.stats.columns" -> "id,key"))
    }
    deletedKeys.foreach { case (lo, hi) =>
      GwTable.forPath(spark, eventsPath).delete(col("key") >= lo && col("key") < hi, mergeOnRead = true)
    }
    private val liveEvents = evs.filterNot(e => deletedKeys.exists { case (lo, hi) => e.key >= lo && e.key < hi })
    private val eventFiles = GwTable.forPath(spark, eventsPath).snapshot().files.size.toLong

    def kind(i: Int): String = reads(i).kind

    def run(i: Int, op: OpContext): () => Option[String] = read(reads(i), op)

    private def path(t: Int) = s"$db/${tables(t).name}"

    /** (count, sum(amount)) over ids in [lo, hi) of the reference rows. */
    private def expect(t: Int, versions: Int => Boolean, lo: Long, hi: Long): (Long, Long) = {
      val rows = reference(t).filter { case (v, id, _) => versions(v) && id >= lo && id < hi }
      (rows.length.toLong, rows.map(_._3).sum)
    }

    def read(r: Read, op: OpContext): () => Option[String] = {
      val t = r.table
      val base = tables(t).folders.head.files.head.rows.head.id
      val idLo = base + r.lo
      val idHi = idLo + r.width
      def agg(df: org.apache.spark.sql.DataFrame) =
        df.filter(col("id") >= idLo && col("id") < idHi)
          .agg(count(lit(1)), coalesce(sum("amount"), lit(0L)))
      def pair(rows: Array[Row]) = (rows.head.getLong(0), rows.head.getLong(1))
      val latest = Versions - 1
      r.kind match {
        case "latest_point" =>
          val id = reference(t)(r.lo.toInt % reference(t).length)._2
          val got = op.readRows(GwTable.forPath(spark, path(t)).toDF.filter(col("id") === id)
            .select("amount"), Versions.toLong)
          val want = reference(t).filter(_._2 == id).map(_._3).toSeq.sorted
          () => check(got.map(_.getLong(0)).toSeq.sorted, want)
        case "latest_range" =>
          val got = op.readRows(agg(GwTable.forPath(spark, path(t)).toDF), Versions.toLong)
          () => check(pair(got), expect(t, _ => true, idLo, idHi))
        case "version_as_of" | "version_as_of_2" =>
          val got = op.readRows(agg(GwTable.forPath(spark, path(t)).versionAsOf(r.version.toLong)),
            r.version + 1L)
          () => check(pair(got), expect(t, _ <= r.version, idLo, idHi))
        case "timestamp_as_of" =>
          val ts = tables(t).folders(r.version).ts
          val got = op.readRows(agg(GwTable.forPath(spark, path(t)).timestampAsOf(ts)),
            r.version + 1L)
          () => check(pair(got), expect(t, _ <= r.version, idLo, idHi))
        case "changes_since" =>
          val got = op.readRows(agg(GwTable.forPath(spark, path(t)).changesSince(r.version.toLong)),
            (latest - r.version).toLong)
          () => check(pair(got), expect(t, _ > r.version, idLo, idHi))
        case "latest_events_point" =>
          val got = op.readRows(GwTable.forPath(spark, eventsPath).toDF
            .filter(col("name") === r.name).agg(count(lit(1))), eventFiles)
          () => check(got.head.getLong(0), liveEvents.count(_.name == r.name).toLong)
        case "latest_events_range" =>
          val lo = r.lo % (EventBatches * EventRows - 100)
          val got = op.readRows(GwTable.forPath(spark, eventsPath).toDF
            .filter(col("id") >= lo && col("id") < lo + 100)
            .agg(count(lit(1)), coalesce(sum("qty"), lit(0L))), eventFiles)
          val m = liveEvents.filter(e => e.id >= lo && e.id < lo + 100)
          () => check(pair(got), (m.size.toLong, m.map(_.qty).sum))
      }
    }

    private def check[A](got: A, want: A): Option[String] =
      if (got == want) None else Some(s"read $got, expected $want")
  }
}
