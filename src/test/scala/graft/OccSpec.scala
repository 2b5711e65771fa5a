package graft

import java.nio.file.Files
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.log.{ConcurrentDeleteDeleteException, GwLog, Metadata,
  MetadataChangedException, Occ, ProtocolChangedException, Snapshot}

/** Optimistic-concurrency taxonomy ([[graft.log.Occ]]): typed conflict
  * classification under WriteSerializable, benign-append retry for planned
  * DML, the in-loop idempotent-write replay re-check, and the
  * compaction-vs-DML lost-update invariant. */
class OccSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def twoRangeTable(): (String, GwTable) = {
    val dir = Files.createTempDirectory("occ").resolve("nation").toString
    val src = spark.read.parquet(s"$sf/nation.parquet")
    src.filter(col("n_nationkey") < 12).coalesce(1)
      .write.format("gwdelta").mode("append").save(dir)
    src.filter(col("n_nationkey") >= 12).coalesce(1)
      .write.format("gwdelta").mode("append").save(dir)
    (dir, GwTable.forPath(spark, dir))
  }

  test("concurrent blind appends all retry past version conflicts") {
    val dir = Files.createTempDirectory("occ").resolve("t").toString
    val src = spark.read.parquet(s"$sf/nation.parquet")
    // bootstrap first so the racers contend on appends, not on CREATE
    src.filter(col("n_nationkey") === 24).coalesce(1)
      .write.format("gwdelta").mode("append").save(dir)
    // 8 racers maximize the claim-contention window: this test found the
    // local-FS check-then-create TOCTOU (a loser overwriting the winner's
    // version file) that commitViaLink now closes with a hard-link claim
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 8).map { i =>
      new Thread(() => {
        try {
          val slice = src
            .filter(col("n_nationkey") < 24 && col("n_nationkey") % 8 === i)
            .coalesce(1)
          assert(graft.streaming.GwSink.append(slice, dir) > 0)
        } catch { case e: Throwable => errors.add(e); () }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errors.isEmpty, s"racer failed: ${Option(errors.peek())}")
    val t = GwTable.forPath(spark, dir)
    assert(t.toDF.count() == src.count(), "every racer's rows must land")
    assert(t.snapshot().version == 8L, "one commit per racer, no clobbers")
  }

  test("planned DML retries past a benign concurrent append (WriteSerializable)") {
    val (dir, t) = twoRangeTable()
    val readSnap = t.snapshot()
    val fileB = readSnap.files(1) // replay order: v0's add, then v1's
    // winner: a blind append lands AFTER the operation planned its scan
    val extra = spark.read.parquet(s"$sf/nation.parquet")
      .filter(col("n_nationkey") < 3).coalesce(1)
    assert(graft.streaming.GwSink.append(extra, dir) > 0)
    // the planned removal still commits: the winner only appended
    assert(t.replaceFiles("DELETE", Set(fileB.path), Nil,
      scannedFiles = Seq(fileB), readSnap = Some(readSnap)) > 0)
    assert(!t.snapshot().files.map(_.path).contains(fileB.path))
  }

  test("double-delete race raises ConcurrentDeleteDeleteException") {
    val (_, t) = twoRangeTable()
    val readSnap = t.snapshot()
    val fileA = readSnap.files.head // replay order: v0's add = keys < 12
    assert(t.delete(col("n_nationkey") < 12) > 0) // winner removes file A
    intercept[ConcurrentDeleteDeleteException] {
      t.replaceFiles("DELETE", Set(fileA.path), Nil,
        scannedFiles = Seq(fileA), readSnap = Some(readSnap))
    }
  }

  test("metadata restated mid-operation raises MetadataChangedException") {
    val (_, t) = twoRangeTable()
    val readSnap = t.snapshot()
    val fileA = readSnap.files.head
    assert(t.addColumns(StructField("extra", LongType, nullable = true)) > 0)
    intercept[MetadataChangedException] {
      t.replaceFiles("DELETE", Set(fileA.path), Nil,
        scannedFiles = Seq(fileA), readSnap = Some(readSnap))
    }
  }

  test("checkTableState / checkAppendState classify precisely (unit)") {
    def meta(schema: String, conf: Map[String, String]) =
      Metadata(id = "m", schemaString = schema, configuration = conf)
    val s0 = Snapshot(0L, Some(graft.log.Protocol()), Some(meta("sch", Map())), Nil)
    // protocol change wins over metadata change in classification order
    intercept[ProtocolChangedException] {
      Occ.checkTableState("t", s0,
        s0.copy(protocol = Some(graft.log.Protocol(2, 7)),
          metadata = Some(meta("sch2", Map()))))
    }
    intercept[MetadataChangedException] {
      Occ.checkTableState("t", s0,
        s0.copy(metadata = Some(meta("sch", Map("any.prop" -> "x")))))
    }
    // appends only die on schema or constraint changes, not on unrelated
    // table-property churn
    Occ.checkAppendState("t", Some(meta("sch", Map())),
      Some(meta("sch", Map("comment" -> "hello"))))
    intercept[MetadataChangedException] {
      Occ.checkAppendState("t", Some(meta("sch", Map())),
        Some(meta("sch2", Map())))
    }
    intercept[MetadataChangedException] {
      Occ.checkAppendState("t", Some(meta("sch", Map())),
        Some(meta("sch", Map("graft.constraints.c1" -> "id > 0"))))
    }
  }

  test("in-loop replay re-check: a raced same-appId batch is a silent no-op") {
    val dir = Files.createTempDirectory("occ").resolve("t").toString
    val src = spark.read.parquet(s"$sf/nation.parquet").coalesce(1)
    // the winner commits (q1, 5)
    assert(graft.streaming.GwSink.append(src, dir, txnId = Some("q1/5")) >= 0)
    val log = GwLog.forTable(spark.sparkContext.hadoopConfiguration, dir)
    val before = log.latestVersion().get
    // a loser that passed its ENTRY replay check (we skip it by calling the
    // commit loop directly) must detect the winner inside the loop and skip
    val v = graft.log.GwTxn(log, "WRITE", "Append", txnId = Some("q1/5")).commitOrCreate { _ =>
      fail("the build closure must not produce a duplicate commit")
    }
    assert(v == before, "the replayed version is reported, nothing committed")
    assert(log.latestVersion().get == before)
  }

  /** A log seeded with files a and b whose FIRST latest-snapshot read lands
    * `racer` as the next version right after returning — a concurrent
    * writer slipping in between a commit attempt's checks and its version
    * claim. */
  private def racedLog(racer: (Metadata, graft.log.AddFile) => Seq[graft.log.Action]) = {
    val dir = new org.apache.hadoop.fs.Path(Files.createTempDirectory("occ-race").toString)
    val conf = new org.apache.hadoop.conf.Configuration()
    val meta = Metadata("m", new StructType().add("id", LongType).json)
    val a = graft.log.AddFile("/data/a.parquet", 10, 1000)
    def ci(op: String) = graft.log.CommitInfo(1L, op, "", 0, 0, isBlindAppend = false, op)
    new GwLog(dir, conf).commitAt(0L, Seq(graft.log.Protocol(), meta, a,
      graft.log.AddFile("/data/b.parquet", 10, 1000), ci("seed")))
    val log = new GwLog(dir, conf) {
      private var raced = false
      override def latestSnapshot(): Option[Snapshot] = {
        val s = super.latestSnapshot()
        if (!raced) {
          raced = true
          commitAt(s.get.version + 1, racer(meta, a) :+ ci("racer"))
        }
        s
      }
    }
    (log, log.snapshot(None), a)
  }

  test("a racer landing after a txn's checks is checked, not committed over") {
    // the racer removes file a between the attempt's checks and its claim:
    // the attempt loses version 1, and its retry sees the removal
    val (log, planned, a) = racedLog((_, a) => Seq(graft.log.RemoveFile(a.path, a.size, 2L)))
    intercept[ConcurrentDeleteDeleteException] {
      graft.log.GwTxn(log, "DELETE", "CopyOnWrite",
        graft.log.GwTxn.Rewrite(Some(planned), deletes = Seq(a)))
        .commit(_ => Seq(graft.log.RemoveFile(a.path, a.size, 3L)))
    }
    assert(log.listVersions() == Seq(0L, 1L), "nothing lands on top of the racer")
    // the racer declares a CHECK constraint the append's rows were never
    // validated against (or, alike, moves an identity watermark)
    val (log2, planned2, _) = racedLog((m, _) =>
      Seq(m.copy(configuration = Map("graft.constraints.c" -> "id > 0"))))
    intercept[MetadataChangedException] {
      graft.log.GwTxn(log2, "WRITE", "Append", graft.log.GwTxn.Append(planned2.metadata),
        isBlindAppend = true)
        .commitOrCreate(_ => Seq(graft.log.AddFile("/data/c.parquet", 10, 1000)))
    }
    assert(log2.listVersions() == Seq(0L, 1L), "nothing lands on top of the racer")
  }

  test("compaction never resurrects a concurrent DELETE's rows (lost update)") {
    // run OPTIMIZE and a row-level DELETE concurrently, many files so the
    // windows overlap. Every interleaving is legal EXCEPT the lost update:
    // whatever won, the deleted keys must stay deleted.
    val dir = Files.createTempDirectory("occ").resolve("t").toString
    val src = spark.read.parquet(s"$sf/nation.parquet")
    (0 until 5).foreach { i =>
      src.filter(col("n_nationkey") % 5 === i).coalesce(1)
        .write.format("gwdelta").mode("append").save(dir)
    }
    val t = GwTable.forPath(spark, dir)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val deleter = new Thread(() => {
      try t.delete(col("n_nationkey") < 10)
      catch {
        case _: graft.log.GwConcurrentModificationException => ()
        case e: Throwable => errors.add(e); ()
      }
    })
    val compactor = new Thread(() => {
      try GwTable.forPath(spark, dir).compact()
      catch {
        case _: graft.log.GwConcurrentModificationException => ()
        case e: Throwable => errors.add(e); ()
      }
    })
    compactor.start(); deleter.start()
    compactor.join(); deleter.join()
    assert(errors.isEmpty, s"unexpected racer failure: ${Option(errors.peek())}")
    // the delete may have lost the race entirely (typed abort) — then rows
    // are intact; rerun it to a quiet table and assert the invariant
    t.delete(col("n_nationkey") < 10)
    val keys = t.toDF.select("n_nationkey").collect()
      .map(_.getAs[Number](0).longValue).toSet
    assert(keys == (10L until 25L).toSet,
      s"deleted keys resurrected or lost: $keys")
  }

  test("object-store conditional-PUT claim: server-side single winner per version") {
    // cross-process-shaped stress through a FileSystem modeling the
    // HADOOP-19256 If-None-Match semantics (conflict surfaces at close):
    // 16 writers race the SAME version — the store must elect exactly one,
    // the losers must see VersionConflictException, and the winning
    // payload must be complete (nothing partial is ever AT the path)
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.set("fs.cput.impl", classOf[CondPutFileSystem].getName)
    val dir = Files.createTempDirectory("cput").resolve("t")
    val log = GwLog.forTable(conf, "cput://" + dir.toString)
    val before = CondPutFileSystem.conditionalBuilds.get()
    def ci(i: Int) = graft.log.CommitInfo(
      timestamp = 1000L + i, operation = s"op-$i", mode = "Append",
      numFiles = 0, numOutputBytes = 0, isBlindAppend = true, txnId = s"t-$i")
    val winners = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val losers = new java.util.concurrent.atomic.AtomicInteger(0)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = (0 until 16).map { i =>
      new Thread(() => {
        try {
          gate.await()
          log.commitAt(0L, Seq(ci(i)))
          winners.add(i); ()
        } catch {
          case _: graft.log.VersionConflictException => losers.incrementAndGet(); ()
          case e: Throwable => errors.add(e); ()
        }
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    assert(errors.isEmpty, s"unexpected failure: ${Option(errors.peek())}")
    assert(winners.size == 1 && losers.get == 15,
      s"conditional PUT must elect exactly one winner: ${winners.size} won")
    assert(CondPutFileSystem.conditionalBuilds.get() > before,
      "the claim must have negotiated the conditional-create path, not a fallback")
    // the committed version is the WINNER's payload, parsed whole
    val committed = log.readVersion(0L)
      .collectFirst { case c: graft.log.CommitInfo => c.operation }
    assert(committed.contains(s"op-${winners.peek()}"),
      s"payload at version 0 must be the winner's: $committed")
  }

  test("stores without conditional create negotiate down to rename-claim") {
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.set("fs.noput.impl", classOf[NoCondPutFileSystem].getName)
    val dir = Files.createTempDirectory("noput").resolve("t")
    val log = GwLog.forTable(conf, "noput://" + dir.toString)
    def ci(i: Int) = graft.log.CommitInfo(
      timestamp = 1000L + i, operation = s"op-$i", mode = "Append",
      numFiles = 0, numOutputBytes = 0, isBlindAppend = true, txnId = s"t-$i")
    // the capability probe must return false (default builder rejects the
    // unknown mandatory key), not throw — that IS the negotiation
    log.commitAt(0L, Seq(ci(0)))
    assert(!log.commitViaConditionalPut(9L, log.logPathFor(9L), Array[Byte](120)),
      "a store rejecting the must() key must report no-capability, not fail")
    log.commitAt(1L, Seq(ci(1)))
    assert(log.listVersions() == Seq(0L, 1L),
      "rename-claim fallback must keep committing normally")
    // and a second writer at a taken version still conflicts
    intercept[graft.log.VersionConflictException](log.commitAt(1L, Seq(ci(2))))
  }
}
