package perfbench

import graft.{GwTable, Indexer}
import graft.sources.CdaLayout
import java.nio.file.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{count, lit, sum}

/**
 * The paper's own path: CDA folders land, `Indexer.index` (Append) turns
 * them into log commits, and every touched table is read back through the
 * log. Each op lands the next folders of every table by advancing the
 * manifest's `lastSuccessfulWriteTimestamp` — the Indexer gates on it, so
 * no data is written inside the timed loop. Mid-run each table switches to
 * a second schema fingerprint, which forces a restatement commit; table 0
 * starts its second fingerprint with a record-less folder.
 */
object CdaIngest extends Workload {
  val name = "cda_ingest"
  private val Tables = 3
  private val Bootstrap = 10
  private val PerRound = 2
  private val FilesPerFolder = 2
  private val RowsPerFile = 20
  private val OpsPerSecond = 1.0

  def opCount(seconds: Int): Int = wholeCycles(seconds, OpsPerSecond, 1)

  /** Folder layout for `ops` timed rounds after the bootstrap and warm-up
    * rounds. */
  def plan(seed: Long, ops: Int): IndexedSeq[CdaTable] = {
    val rng = new scala.util.Random(seed ^ 0x5eedL)
    val folders = Bootstrap + PerRound * (1 + ops)
    // the restatement lands in the middle third of the timed rounds
    val switchRound = (0 until Tables).map(_ => ops / 3 + rng.nextInt(math.max(1, ops / 3)))
    val switchAt = switchRound.map(r => Bootstrap + PerRound * (1 + r))
    val recordLess = (0 until Tables).map { t =>
      val picks = rng.shuffle((1 until folders).filterNot(_ == switchAt(t)).toList).take(3).toSet
      if (t == 0) picks + switchAt(t) else picks
    }
    CdaGen.plan(seed, Tables, folders, FilesPerFolder, RowsPerFile, switchAt, recordLess)
  }

  def setup(dir: Path, seed: Long, ops: Int)(implicit spark: SparkSession): Instance = {
    val inst = new Inst(dir, plan(seed, ops))
    // bootstrap round, then one incremental round: every op kind once
    Seq(Bootstrap, Bootstrap + PerRound).foreach { landed =>
      inst.round(landed, new OpContext(new Pass(false)))().foreach(e =>
        throw new IllegalStateException(s"$name warm-up: $e"))
    }
    inst
  }

  final class Inst(dir: Path, tables: IndexedSeq[CdaTable])(implicit spark: SparkSession)
      extends Instance {
    private val data = dir.resolve("cda")
    private val db = dir.resolve("db").toUri.toString.stripSuffix("/")
    private val manifestPath = dir.resolve("manifest.json")
    private var landedBefore = 0
    CdaGen.materialize(data, tables)

    def kind(i: Int): String = "ingest_round"

    def run(i: Int, op: OpContext): () => Option[String] =
      round(Bootstrap + PerRound * (2 + i), op)

    /** Lands folders up to `landed`, indexes and reads every table. */
    def round(landed: Int, op: OpContext): () => Option[String] = {
      val prev = landedBefore
      landedBefore = landed
      op.clock.span("bench", "land")(
        Files2.write(manifestPath, CdaGen.manifest(data, tables, _ => landed)))
      val result = op.clock.write("indexer", "index")(
        Indexer.index(manifestPath.toUri.toString, db))
      val reads = tables.map { t =>
        op.readRows(GwTable.forPath(spark, s"$db/${t.name}").toDF
          .agg(count(lit(1)), sum("amount")), t.liveFiles(landed).size.toLong)
          .head
      }
      if (op.pass.traced) {
        op.pass.add("indexer.commits", result.values.map(_.size).sum.toDouble)
        op.afterOp(traceSources(landed, prev, op))
      }
      () => {
        val errors = tables.zip(reads).flatMap { case (t, row) =>
          val committed = t.folders.slice(prev, landed).filter(_.files.nonEmpty)
            .map(f => (f.fingerprint, f.ts, f.files.size))
          val got = result.getOrElse(t.name, Nil)
            .map(r => (r.processedSchema, r.processedTimestamp, r.processedFiles))
          val live = t.liveFiles(landed)
          val want = (live.map(_.rows.size.toLong).sum, live.map(_.amountSum).sum)
          val read = (row.getLong(0), row.getLong(1))
          (if (got != committed) Seq(s"${t.name}: indexed $got, expected $committed") else Nil) ++
            (if (read != want) Seq(s"${t.name}: read (rows, amount) $read, expected $want") else Nil)
        }
        errors.headOption
      }
    }

    /** Traced pass only, after the op's clock stops: the `sources` calls the
      * Indexer made this round, repeated on the same folders. It lists every
      * fingerprint of the manifest, reads the footers of every folder in its
      * window, and probes a schema only on the first folder with files of a
      * fingerprint, where the Indexer commits the fingerprint's schema. */
    private def traceSources(landed: Int, prev: Int, op: OpContext): Unit = {
      val conf = spark.sparkContext.hadoopConfiguration
      def timed[A](name: String)(body: => A): A = {
        val t0 = System.nanoTime()
        try op.clock.span("sources", name)(body)
        finally op.pass.add(s"sources.${name}_ms", (System.nanoTime() - t0) / 1e6)
      }
      op.pass.probe {
        tables.foreach { t =>
          t.folders.take(landed).map(_.fingerprint).distinct.foreach { fp =>
            timed("list")(CdaLayout.listTimestampDirectories(
              conf, CdaGen.tableDir(data, t).resolve(fp).toUri.toString))
          }
          // record-less folders are not checkpointed, so the window starts
          // after the last folder with files
          val from = t.folders.take(prev).lastIndexWhere(_.files.nonEmpty) + 1
          t.folders.slice(from, landed).foreach { f =>
            val files = timed("footer")(CdaLayout.listParquetFiles(
              conf, CdaGen.folderDir(data, t, f).toUri.toString, withStats = true))
            if (t.folders.find(g => g.fingerprint == f.fingerprint && g.files.nonEmpty).contains(f))
              timed("harvest")(graft.sources.SchemaProbe.readSchemaFromFiles(conf, files.toSeq))
            op.pass.add("sources.folders", 1)
            op.pass.add("sources.files", files.length.toDouble)
          }
        }
      }
    }

    override def finish(): Map[String, Double] = {
      val liveFiles = tables.map(_.liveFiles(landedBefore).size).sum
      Map("log_bytes_per_file" ->
        Files2.deltaLogBytes(dir.resolve("db").toFile).toDouble / liveFiles)
    }
  }
}
