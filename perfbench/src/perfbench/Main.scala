package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/**
 * One run of one workload: `--workload <name> --seed <n> --seconds <s>
 * --trace <0|1> --run-dir <dir>`. A single client runs a fixed number of
 * ops in a closed loop. The last stdout line is the run's JSON result:
 * end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
 * `--selftest` checks the seeded generators instead.
 */
object Main {
  val Workloads: Seq[Workload] = Seq(CdaIngest, SnapshotRead, TableDml, TableDmlUri, DocDedup)

  /** Setups per untraced run; `setup_s` is their median. */
  private val SetupReps = 3

  /** Every per-layer metric, in output order. */
  val LayerMetrics: Seq[String] = Seq(
    "sources.list_ms", "sources.footer_ms", "sources.harvest_ms", "sources.folders", "sources.files",
    "indexer.fanout_ms", "indexer.watermark_ms", "indexer.commits",
    "log.list_ms", "log.lists", "log.read_version_ms", "log.versions_read", "log.replay_ms",
    "log.replays", "log.cache_hits", "log.cache_hit_ratio", "log.latest_cache_hit_ratio",
    "log.checkpoint_write_ms", "log.checkpoint_writes", "log.checkpoint_read_ms",
    "log.checkpoint_reads", "log.checksum_ms", "log.checksums", "log.bytes_written",
    "scan.plan_ms", "scan.files_total", "scan.files_read", "scan.prune_ratio", "scan.rows_read",
    "scan.rows_per_result",
    "table.append_ms", "table.delete_cow_ms", "table.delete_mor_ms", "table.update_ms",
    "table.merge_ms", "table.compact_ms", "table.files_added", "table.files_removed",
    "table.rows_changed", "table.bytes_written_per_row_changed",
    "stream.start_ms", "stream.batches", "stream.latest_offset_ms", "stream.get_batch_ms",
    "stream.add_batch_ms", "stream.wal_commit_ms", "stream.query_planning_ms",
    "ops.exact_dedup_ms", "ops.minhash_ms", "ops.simhash_ms", "ops.ngram_jaccard_ms",
    "ops.cosine_neardup_ms", "ops.pairs",
    "spark.jobs", "spark.tasks", "spark.job_ms", "spark.task_run_ms", "spark.task_cpu_ms",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.input_bytes",
    "spark.driver_gap_ms", "spark.session_start_ms",
    "fs.read_ops", "fs.write_ops", "fs.bytes_read", "fs.bytes_written",
    "jvm.gc_ms", "jvm.gc_count", "jvm.jit_ms", "jvm.heap_retained_mb",
    "self.bench_ms", "self.sources_ms", "self.indexer_ms", "self.log_ms", "self.scan_ms",
    "self.table_ms", "self.stream_ms", "self.ops_ms",
    "trace.spans", "trace.overhead_ops_per_s_pct", "trace.overhead_op_geomean_pct",
    "e2e.write_p50_ms", "e2e.read_p50_ms", "e2e.read_p90_ms", "e2e.log_bytes_per_file")

  def unit(metric: String): String = metric match {
    case m if m.endsWith("_ms") => "ms"
    case m if m.endsWith("_pct") => "%"
    case m if m.endsWith("_mb") => "MB"
    case m if m.endsWith("_ratio") => "ratio"
    case m if m.endsWith("_per_s") => "1/s"
    case m if m.contains("bytes") => "B"
    case "setup_s" => "s"
    case _ => "count"
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (args.contains("--selftest")) { SelfTest.run(Paths.get(opts("run-dir"))); return }
    val workload = Workloads.find(_.name == opts.getOrElse("workload", ""))
      .getOrElse(sys.error(s"--workload must be one of ${Workloads.map(_.name).mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val runDir = Paths.get(opts("run-dir")).toAbsolutePath
    val t0 = System.nanoTime()
    implicit val spark: SparkSession = session(runDir)
    val sessionMs = (System.nanoTime() - t0) / 1e6
    val ops = workload.opCount(seconds)

    def setup(tag: String): (Instance, Path, Double) = {
      val dir = Files.createDirectories(runDir.resolve(tag))
      val s0 = System.nanoTime()
      val inst = workload.setup(dir, seed, ops)
      (inst, dir, (System.nanoTime() - s0) / 1e9)
    }

    val result = if (!traced) {
      val setups = (1 to SetupReps).map(r => setup(s"setup$r"))
      System.err.println(s"[perfbench] setup seconds: ${setups.map(_._3).mkString(" ")}")
      val (inst, dir, _) = setups.last
      val p = runPass(inst, dir, ops, new Pass(false))
      println(Json.obj(Seq("workload" -> Json.str(workload.name), "info" ->
        Json.obj(p.workloadMetrics.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))))
      Result(p.failed, p.attempted, Seq(
        "setup_s" -> Stats.median(setups.map(_._3)),
        "ops_per_s" -> p.opsPerS, "op_geomean_ms" -> p.geomeanMs))
    } else {
      val (a, aDir, _) = setup("untraced")
      val (b, bDir, _) = setup("traced")
      val plain = runPass(a, aDir, ops, new Pass(false))
      val pass = new Pass(true)
      val tr = runPass(b, bDir, ops, pass)
      pass.tracer.dump(runDir.resolve("spans.jsonl"))
      val m = tr.layer ++ Map(
        "spark.session_start_ms" -> sessionMs,
        "trace.overhead_ops_per_s_pct" -> 100 * (plain.opsPerS - tr.opsPerS) / plain.opsPerS,
        "trace.overhead_op_geomean_pct" -> 100 * (tr.geomeanMs - plain.geomeanMs) / plain.geomeanMs) ++
        plain.workloadMetrics.map { case (k, v) => s"e2e.$k" -> v }
      Result(plain.failed + tr.failed, plain.attempted + tr.attempted,
        LayerMetrics.map(k => k -> m.getOrElse(k, 0.0)))
    }
    spark.stop()
    println(result.json)
  }

  final case class Result(failed: Int, attempted: Int, metrics: Seq[(String, Double)]) {
    def json: String = Json.obj(Seq(
      "correct" -> (failed == 0).toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit(k))))
      })))
  }

  def session(runDir: Path): SparkSession = {
    val cores = math.min(2, Runtime.getRuntime.availableProcessors())
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toUri.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  final case class PassResult(attempted: Int, failed: Int, opsPerS: Double, geomeanMs: Double,
      workloadMetrics: Map[String, Double], layer: Map[String, Double])

  /** Runs `ops` timed ops on `inst`. Each op's check, and in the traced pass
    * its deferred layer probes, run after its clock stops. */
  def runPass(inst: Instance, dir: Path, ops: Int, pass: Pass)(implicit spark: SparkSession): PassResult = {
    val listener = new JobListener
    if (pass.traced) spark.sparkContext.addSparkListener(listener)
    val logBytes0 = Files2.deltaLogBytes(dir.toFile)
    val before = Counters.read()
    val opMs = ArrayBuffer.empty[Double]
    val writes = ArrayBuffer.empty[Double]
    val reads = ArrayBuffer.empty[Double]
    val opWall = ArrayBuffer.empty[(Long, Long)]
    var latestHits, latestLookups = 0.0
    var failed = 0
    (0 until ops).foreach { i =>
      val ctx = new OpContext(pass)
      pass.tracer.op = i
      val hits0 = graft.log.LogMetrics.snapshotCacheHits.sum()
      val replays0 = graft.log.LogMetrics.snapshotReplays.sum()
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val check =
        try Right(pass.tracer.span("bench", inst.kind(i))(inst.run(i, ctx)))
        catch { case NonFatal(e) => Left(s"${inst.kind(i)} threw ${e}") }
      opMs += (System.nanoTime() - t0) / 1e6
      opWall += ((w0, System.currentTimeMillis()))
      if (inst.kind(i).startsWith("latest")) {
        val hits = graft.log.LogMetrics.snapshotCacheHits.sum() - hits0
        latestHits += hits
        latestLookups += hits + graft.log.LogMetrics.snapshotReplays.sum() - replays0
      }
      writes ++= ctx.clock.writes.map(_ / 1e6)
      reads ++= ctx.clock.reads.map(_ / 1e6)
      val error = check.fold(Some(_), c =>
        try c() catch { case NonFatal(e) => Some(s"check threw $e") })
      error.foreach { e => failed += 1; System.err.println(s"[perfbench] op $i failed: $e") }
      if (check.isRight) ctx.runDeferred()
    }
    System.err.println("[perfbench] op ms by kind: " + (0 until ops).groupBy(inst.kind).toSeq.sortBy(_._1)
      .map { case (k, is) => s"$k ${is.map(i => f"${opMs(i)}%.0f").mkString(",")}" }.mkString("; "))
    val counters = Counters.delta(Counters.read(), before)
      .map { case (k, v) => k -> (v - pass.excluded(k)) }
    val wl = inst.finish() ++
      (if (writes.nonEmpty) Map("write_p50_ms" -> Stats.median(writes.toSeq)) else Map.empty) ++
      (if (reads.nonEmpty) Map("read_p50_ms" -> Stats.median(reads.toSeq),
        "read_p90_ms" -> Stats.quantile(reads.toSeq, 0.9)) else Map.empty)
    val opsPerS = ops / (opMs.sum / 1000)
    val geomean = Stats.geomean(opMs.toSeq)
    val layer = if (!pass.traced) Map.empty[String, Double] else {
      org.apache.spark.perfbench.ListenerBusAccess.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      layerMetrics(pass, counters, listener, opWall.toSeq, latestHits, latestLookups,
        Files2.deltaLogBytes(dir.toFile) - logBytes0, Counters.heapRetainedMb())
    }
    PassResult(ops, failed, opsPerS, geomean, wl, layer)
  }

  private def layerMetrics(pass: Pass, counters: Map[String, Double], jobs: JobListener,
      opWall: Seq[(Long, Long)], latestHits: Double, latestLookups: Double, logBytes: Double,
      heapMb: Double): Map[String, Double] = {
    val l = pass.layer
    val tr = pass.tracer
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val finished = jobs.finished
    val intervals = finished.map(j => (j.start, j.end))
    val indexerSpans = tr.spans.filter(_.layer == "indexer").map(s => (s.wall0, s.wall1))
    val inIndexer = finished.filter(j => !j.fanout && indexerSpans.exists { case (a, b) =>
      j.start >= a && j.start <= b })
    val self = tr.selfMs
    counters ++ l ++ Map(
      "log.cache_hit_ratio" -> ratio(counters("log.cache_hits"),
        counters("log.cache_hits") + counters("log.replays")),
      "log.latest_cache_hit_ratio" -> ratio(latestHits, latestLookups),
      "log.bytes_written" -> logBytes,
      "scan.prune_ratio" -> (if (l("scan.files_total") > 0) 1 - l("scan.files_read") / l("scan.files_total") else 0.0),
      "scan.rows_per_result" -> ratio(l("scan.rows_read"), l("scan.reads")),
      "indexer.fanout_ms" -> finished.filter(_.fanout).map(j => (j.end - j.start).toDouble).sum,
      "indexer.watermark_ms" -> inIndexer.map(j => (j.end - j.start).toDouble).sum,
      "table.append_ms" -> Seq("append_flat", "append_part", "append_feed").map(tr.totalMs("table", _)).sum,
      "table.delete_cow_ms" -> tr.totalMs("table", "delete_cow"),
      "table.delete_mor_ms" -> tr.totalMs("table", "delete_mor"),
      "table.update_ms" -> tr.totalMs("table", "update"),
      "table.merge_ms" -> tr.totalMs("table", "merge"),
      "table.compact_ms" -> tr.totalMs("table", "compact"),
      "table.bytes_written_per_row_changed" -> ratio(l("table.bytes_written"), l("table.rows_changed")),
      "spark.jobs" -> finished.size.toDouble,
      "spark.tasks" -> jobs.tasks.toDouble,
      "spark.job_ms" -> intervals.map { case (a, b) => (b - a).toDouble }.sum,
      "spark.task_run_ms" -> jobs.taskRunMs,
      "spark.task_cpu_ms" -> jobs.taskCpuMs,
      "spark.shuffle_read_bytes" -> jobs.shuffleRead,
      "spark.shuffle_write_bytes" -> jobs.shuffleWrite,
      "spark.input_bytes" -> jobs.inputBytes,
      "spark.driver_gap_ms" -> opWall.map { case (a, b) =>
        (b - a - Intervals.covered(intervals, a, b)).toDouble }.sum,
      "jvm.heap_retained_mb" -> heapMb,
      "trace.spans" -> tr.spans.size.toDouble) ++
      Seq("bench", "sources", "indexer", "log", "scan", "table", "stream", "ops")
        .map(k => s"self.${k}_ms" -> self.getOrElse(k, 0.0))
  }
}
