package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import scala.collection.mutable

/** A workload builds fresh, seeded inputs and hands back an instance whose
  * ops the harness runs in a closed loop with one client. */
trait Workload {
  def name: String

  /** Fixed op count of a timed pass nominally `seconds` long. */
  def opCount(seconds: Int): Int

  /** The whole number of `cycle`-op cycles nearest to `seconds` of ops at
    * the measured rate `opsPerSecond`, at least one. */
  protected def wholeCycles(seconds: Int, opsPerSecond: Double, cycle: Int): Int =
    cycle * math.max(1, math.round(seconds * opsPerSecond / cycle).toInt)

  /** Generates the inputs under `dir` from `seed` and runs every op kind
    * once, untimed; the returned instance is ready for `ops` timed ops. */
  def setup(dir: Path, seed: Long, ops: Int)(implicit spark: SparkSession): Instance
}

trait Instance {
  /** Op kind of timed op `i`. */
  def kind(i: Int): String

  /** Runs timed op `i`. The returned check runs after the op's clock stops
    * and gives an error message when the op's answer is wrong. */
  def run(i: Int, op: OpContext): () => Option[String]

  /** Workload-specific end-to-end figures, read at the end of a pass. */
  def finish(): Map[String, Double] = Map.empty
}

/** One timed or traced pass: its tracer, the layer figures the workload
  * adds while tracing, and counter increments made by the benchmark's own
  * probes (kept out of the pass totals). */
final class Pass(val traced: Boolean) {
  val tracer = new Tracer(traced)
  val layer: mutable.Map[String, Double] = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val excluded: mutable.Map[String, Double] = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def add(name: String, v: Double): Unit = if (traced) layer(name) += v

  /** Traced pass only: runs a benchmark-side probe whose engine counter
    * increments must not count as the op's own work. */
  def probe(body: => Unit): Unit = if (traced) {
    val before = Counters.read()
    try body
    finally Counters.delta(Counters.read(), before).foreach { case (k, v) => excluded(k) += v }
  }
}

/** What an op sees: its pass and the clock of its commit and read calls. */
final class OpContext(val pass: Pass) {
  val clock = new OpClock(pass.tracer)
  private val deferred = mutable.ArrayBuffer.empty[() => Unit]

  /** Traced pass only: work the harness runs after the op's clock stops. */
  def afterOp(body: => Unit): Unit = if (pass.traced) deferred += (() => body)

  def runDeferred(): Unit = deferred.foreach(_())

  /** Runs a read query through the log and returns its rows. In the traced
    * pass the executed plan's scan metrics and planning time are added to
    * the `scan.*` figures; `filesTotal` is the live file count of the
    * version read. */
  def readRows(build: => DataFrame, filesTotal: => Long): Array[Row] = {
    val df = clock.read("log", "resolve")(build)
    val rows = clock.read("scan", "execute")(df.collect())
    afterOp {
      val (planMs, files, rowsRead) = PlanStats.of(df)
      pass.add("scan.plan_ms", planMs)
      pass.add("scan.files_read", files.toDouble)
      pass.add("scan.rows_read", rowsRead.toDouble)
      pass.add("scan.reads", 1)
      pass.probe(pass.add("scan.files_total", filesTotal.toDouble))
    }
    rows
  }
}

object PlanStats extends AdaptiveSparkPlanHelper {
  /** (planning ms, files scanned, rows scanned) of an executed query. */
  def of(df: DataFrame): (Double, Long, Long) = {
    val qe = df.queryExecution
    val planMs = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
    val scans = collectWithSubqueries(qe.executedPlan) { case b: BatchScanExec => b }
    val files = scans.map { b =>
      val parts = b.inputPartitions
      val paths = parts.collect { case fp: FilePartition => fp.files.map(_.filePath.toString) }.flatten
      paths.distinct.size.toLong + parts.count(!_.isInstanceOf[FilePartition])
    }.sum
    val rows = scans.flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
    (planMs, files, rows)
  }
}
