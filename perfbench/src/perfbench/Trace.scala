package perfbench

import graft.log.LogMetrics
import java.lang.management.ManagementFactory
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One traced interval around a call into a layer. Spans of one op share `op`. */
final case class Span(id: Int, op: Int, parent: Int, layer: String, name: String,
    t0: Long, t1: Long, wall0: Long, wall1: Long)

/**
 * Spans kept in memory for one timed pass. With `enabled = false` every
 * `span` call is just its body, so the untraced pass runs the same code
 * with no recording.
 */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[Int] = Nil
  var op: Int = -1

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val w0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime(); val w1 = System.currentTimeMillis()
        stack = stack.tail
        spans += Span(id, op, parent, layer, name, t0, t1, w0, w1)
      }
    }

  /** Per layer: span time minus the part of it that child spans cover (ms). */
  def selfMs: Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = children.getOrElse(s.id, Nil).map(c => c.t1 - c.t0).sum
        (s.t1 - s.t0 - covered) / 1e6
      }.sum
    }
  }

  def totalMs(layer: String, name: String): Double =
    spans.filter(s => s.layer == layer && s.name == name).map(s => (s.t1 - s.t0) / 1e6).sum

  /** JSON lines, one span each (written next to the run's other outputs). */
  def dump(path: java.nio.file.Path): Unit =
    Files2.write(path, spans.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "op" -> s.op.toString, "parent" -> s.parent.toString,
        "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
        "start_ns" -> s.t0.toString, "end_ns" -> s.t1.toString))
    }.mkString("", "\n", "\n"))
}

/**
 * Latencies of one op's commit ("write") and log-read ("read") calls; each
 * call is also a span of the pass's tracer.
 */
final class OpClock(val tracer: Tracer) {
  val writes = ArrayBuffer.empty[Long]
  val reads = ArrayBuffer.empty[Long]

  def span[T](layer: String, name: String)(body: => T): T = tracer.span(layer, name)(body)

  def write[T](layer: String, name: String)(body: => T): T = timed(writes, layer, name)(body)

  def read[T](layer: String, name: String)(body: => T): T = timed(reads, layer, name)(body)

  private def timed[T](into: ArrayBuffer[Long], layer: String, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try tracer.span(layer, name)(body) finally into += System.nanoTime() - t0
  }
}

/** Counters that already exist in the engine, Hadoop and the JVM, read as a
  * flat name -> value map so a pass can report deltas. */
object Counters {
  def read(): Map[String, Double] = {
    def ms(n: java.util.concurrent.atomic.LongAdder) = n.sum() / 1e6
    def c(n: java.util.concurrent.atomic.LongAdder) = n.sum().toDouble
    val fs = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Map(
      "log.list_ms" -> ms(LogMetrics.listNanos), "log.lists" -> c(LogMetrics.lists),
      "log.read_version_ms" -> ms(LogMetrics.readVersionNanos),
      "log.versions_read" -> c(LogMetrics.readVersions),
      "log.replay_ms" -> ms(LogMetrics.snapshotReplayNanos),
      "log.replays" -> c(LogMetrics.snapshotReplays),
      "log.cache_hits" -> c(LogMetrics.snapshotCacheHits),
      "log.checkpoint_write_ms" -> ms(LogMetrics.checkpointWriteNanos),
      "log.checkpoint_writes" -> c(LogMetrics.checkpointWrites),
      "log.checkpoint_read_ms" -> ms(LogMetrics.checkpointReadNanos),
      "log.checkpoint_reads" -> c(LogMetrics.checkpointReads),
      "log.checksum_ms" -> ms(LogMetrics.checksumNanos), "log.checksums" -> c(LogMetrics.checksums),
      "fs.read_ops" -> fs.map(_.getReadOps.toDouble).sum,
      "fs.write_ops" -> fs.map(_.getWriteOps.toDouble).sum,
      "fs.bytes_read" -> fs.map(_.getBytesRead.toDouble).sum,
      "fs.bytes_written" -> fs.map(_.getBytesWritten.toDouble).sum,
      "jvm.gc_ms" -> gcs.map(_.getCollectionTime.toDouble).sum,
      "jvm.gc_count" -> gcs.map(_.getCollectionCount.toDouble).sum,
      "jvm.jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble)
  }

  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }

  /** Used heap after full collections, in MB. */
  def heapRetainedMb(): Double = {
    (1 to 2).foreach(_ => System.gc())
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** Spark job and task totals, with each job's wall interval (for driver gap
  * and for attributing jobs to the indexer's fan-out or watermark work). */
final class JobListener extends SparkListener {
  final case class Job(start: Long, var end: Long, fanout: Boolean)
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  @volatile var tasks = 0L
  @volatile var taskRunMs = 0.0
  @volatile var taskCpuMs = 0.0
  @volatile var shuffleRead = 0.0
  @volatile var shuffleWrite = 0.0
  @volatile var inputBytes = 0.0

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val fanout = e.stageInfos.exists(_.details.contains("Indexer$.processManifest"))
    jobs.put(e.jobId, Job(e.time, -1L, fanout))
    ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      taskRunMs += m.executorRunTime
      taskCpuMs += m.executorCpuTime / 1e6
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      inputBytes += m.inputMetrics.bytesRead
    }
  }

  def finished: Seq[Job] = jobs.values.asScala.toSeq.filter(_.end >= 0)
}

object Intervals {
  /** Length of the union of `xs` clipped to [lo, hi]. */
  def covered(xs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
