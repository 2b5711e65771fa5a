package graft

import graft.log._
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/**
 * M1 exit tests: replay of the reference's golden delta logs
 * (/root/reference/src/test/resources/delta, mirrored in test resources)
 * and byte-level JSON round-trips.
 */
class LogSpec extends AnyFunSuite {

  private def goldenLines: Seq[(Long, Seq[String])] =
    (0L to 3L).map { v =>
      val url = getClass.getResource(f"/delta/$v%020d.json")
      val text = new String(
        Files.readAllBytes(Paths.get(url.toURI)), StandardCharsets.UTF_8)
      v -> text.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    }

  test("golden action JSON round-trips byte-identically") {
    goldenLines.foreach { case (v, lines) =>
      lines.foreach { line =>
        val action = Actions.fromJson(line)
        assert(action.isDefined, s"unparsed action in v$v: $line")
        assert(Actions.toJson(action.get) == line, s"round-trip mismatch in v$v")
      }
    }
  }

  test("golden log replays to the expected snapshots per version") {
    val perVersion = goldenLines.map { case (_, lines) => lines.flatMap(Actions.fromJson) }
    // v0: 1 file, 2-col schema
    val s0 = Snapshot.replay(0, perVersion.take(1))
    assert(s0.files.size == 1)
    assert(s0.schema.fieldNames.toSeq == Seq("firstName", "age"))
    assert(s0.protocol.contains(Protocol(1, 2)))
    // v1: blind append -> 4 files, same schema
    val s1 = Snapshot.replay(1, perVersion.take(2))
    assert(s1.files.size == 4)
    assert(s1.schema.fieldNames.toSeq == Seq("firstName", "age"))
    // v2: restatement -> 1 file, 3-col schema
    val s2 = Snapshot.replay(2, perVersion.take(3))
    assert(s2.files.size == 1)
    assert(s2.schema.fieldNames.toSeq == Seq("firstName", "lastName", "age"))
    assert(s2.files.head.size == 1025)
    // v3: append -> 5 files
    val s3 = Snapshot.replay(3, perVersion.take(4))
    assert(s3.files.size == 5)
    assert(s3.schema.fieldNames.toSeq == Seq("firstName", "lastName", "age"))
  }

  test("GwLog writes and reads versions with create-no-overwrite atomicity") {
    val dir = Files.createTempDirectory("gwlog").toString
    val log = GwLog.forTable(new Configuration(), dir)
    val add = AddFile("file:///tmp/a.parquet", 10, 1000)
    val v0 = log.commit(Seq(Protocol(), Metadata("id0", new StructType().json, createdTime = 1L), add,
      CommitInfo(1L, "WRITE", "Overwrite", 1, 10, isBlindAppend = false, "t0")))
    assert(v0 == 0L)
    val v1 = log.commit(Seq(AddFile("file:///tmp/b.parquet", 20, 2000),
      CommitInfo(2L, "WRITE", "Append", 1, 20, isBlindAppend = true, "t1")))
    assert(v1 == 1L)
    assert(log.listVersions() == Seq(0L, 1L))
    assert(log.snapshot().files.map(_.path).toSet ==
      Set("file:///tmp/a.parquet", "file:///tmp/b.parquet"))
    assert(log.snapshot(Some(0L)).files.map(_.path) == Seq("file:///tmp/a.parquet"))
    // double-commit of the same version must fail (optimistic concurrency)
    intercept[Exception] { log.commitAt(1L, Seq(add)) }
  }

  test("every commit writes a verifiable version checksum; tampering trips verify") {
    val dir = Files.createTempDirectory("gwlog-crc").toString
    val log = GwLog.forTable(new Configuration(), dir)
    log.commit(Seq(Protocol(), Metadata("id0", new StructType().json, createdTime = 1L),
      AddFile("a.parquet", 10, 1000),
      CommitInfo(1L, "WRITE", "Overwrite", 1, 10, isBlindAppend = false, "t0")))
    log.commit(Seq(AddFile("b.parquet", 25, 2000),
      CommitInfo(2L, "WRITE", "Append", 1, 25, isBlindAppend = true, "t1")))
    log.commit(Seq(RemoveFile("a.parquet", 10, 3000),
      CommitInfo(3L, "WRITE", "Append", 0, 0, isBlindAppend = false, "t2")))
    // per-version state summaries, incremental and replay-equal
    assert(log.verifyChecksum(0L).contains(VersionChecksum(10, 1, 1, 1, 0, 0)))
    assert(log.verifyChecksum(1L).contains(VersionChecksum(35, 2, 1, 1, 0, 0)))
    assert(log.verifyChecksum(2L).contains(VersionChecksum(25, 1, 1, 1, 0, 0)))
    // JSON round-trip
    val c = log.readChecksum(1L).get
    assert(VersionChecksum.fromJson(VersionChecksum.toJson(c)).contains(c))
    // a parseable-but-wrong crc must throw; unparseable must read absent
    val fs = log.checksumPathFor(2L).getFileSystem(new Configuration())
    val out = fs.create(log.checksumPathFor(2L), true)
    out.write(VersionChecksum.toJson(c.copy(numFiles = 99)).getBytes("UTF-8"))
    out.close()
    val e = intercept[IllegalStateException] { log.verifyChecksum(2L) }
    assert(e.getMessage.contains("checksum mismatch"))
    val out2 = fs.create(log.checksumPathFor(2L), true)
    out2.write("garbage".getBytes("UTF-8")); out2.close()
    assert(log.readChecksum(2L).isEmpty && log.verifyChecksum(2L).isEmpty)
    // backfill restores verification
    fs.delete(log.checksumPathFor(2L), false)
    log.writeChecksum(2L)
    assert(log.verifyChecksum(2L).isDefined)
    // retention retires crcs with their version JSONs
    log.writeCheckpoint(2L)
    log.cleanupExpiredLogs(retentionMs = 0L)
    assert(log.readChecksum(0L).isEmpty && log.readChecksum(1L).isEmpty)
    assert(log.readChecksum(2L).isDefined)
  }

  test("domainMetadata: wire roundtrip, latest-wins replay, tombstones, checkpoint carry") {
    val d = DomainMetadata("graft.clustering", """{"cols":["a"]}""")
    assert(Actions.fromJson(Actions.toJson(d)).contains(d))
    val rm = DomainMetadata("graft.clustering", "", removed = true)
    assert(Actions.fromJson(Actions.toJson(rm)).contains(rm))
    val snap = Snapshot.replay(2, Seq(
      Seq(DomainMetadata("a", "1"), DomainMetadata("b", "1")),
      Seq(DomainMetadata("a", "2")),
      Seq(DomainMetadata("b", "", removed = true))))
    assert(snap.domains == Map("a" -> "2"))
    // a tombstone for a never-set domain is inert
    assert(Snapshot.replay(0,
      Seq(Seq(DomainMetadata("x", "", removed = true)))).domains.isEmpty)
    val conf = new Configuration()
    val dir = Files.createTempDirectory("gwlog-dm")
    val target = new org.apache.hadoop.fs.Path(dir.toString, "cp.parquet")
    Checkpoint.write(target, conf, Seq(d))
    assert(Checkpoint.read(target, conf) == Seq(d))
  }

  test("statsMaxMicros: metadata max only when EVERY live file carries a v2 stat") {
    def f(path: String, stats: Option[String]) = AddFile(path, 1, 1, stats = stats)
    def snap(files: AddFile*) = Snapshot(0, None, None, files)
    val a = f("a", Some("""{"gwStatsV":2,"maxValues":{"ts":100}}"""))
    val b = f("b", Some("""{"gwStatsV":2,"maxValues":{"ts":250}}"""))
    assert(Snapshot.statsMaxMicros(snap(a, b), "ts").contains(250L))
    // a single stat-less file forbids the metadata answer (a partial max
    // would understate the recovered watermark)
    assert(Snapshot.statsMaxMicros(snap(a, f("c", None)), "ts").isEmpty)
    // v1 stats (raw millis) must not serve as micros
    assert(Snapshot.statsMaxMicros(
      snap(a, f("d", Some("""{"maxValues":{"ts":999}}"""))), "ts").isEmpty)
    // column missing from one file's stats
    assert(Snapshot.statsMaxMicros(
      snap(a, f("e", Some("""{"gwStatsV":2,"maxValues":{"other":1}}"""))), "ts").isEmpty)
    // empty snapshot: no files, no claim
    assert(Snapshot.statsMaxMicros(snap(), "ts").isEmpty)
  }

  test("add-by-path is last-writer-wins; remove deletes") {
    val a1 = AddFile("p1", 1, 1)
    val a1b = AddFile("p1", 5, 5)
    val a2 = AddFile("p2", 2, 2)
    val snap = Snapshot.replay(2, Seq(Seq(a1, a2), Seq(a1b), Seq(RemoveFile("p2", 2, 9))))
    assert(snap.files == Seq(a1b))
  }

  test("checkpoint parquet round-trips all action fields") {
    val conf = new Configuration()
    val dir = Files.createTempDirectory("gwlog-cp")
    val target = new org.apache.hadoop.fs.Path(dir.toString, "cp.parquet")
    val actions: Seq[Action] = Seq(
      Protocol(1, 2),
      Metadata("id0", new StructType().add("a", "long").json,
        partitionColumns = Seq("pc1", "pc2"),
        configuration = Map("k" -> "v"), createdTime = 42L),
      AddFile("part-0.parquet", 10, 1000, dataChange = true,
        partitionValues = Map("pc1" -> "x"), stats = Some("""{"numRecords":3}""")),
      AddFile("part-1.parquet", 20, 2000, dataChange = false),
      RemoveFile("part-2.parquet", 30, 3000, dataChange = true,
        partitionValues = Map("pc1" -> "y")),
      SetTransaction("stream-1", 41, Some(4100L)),
      SetTransaction("stream-2", 7))
    Checkpoint.write(target, conf, actions)
    assert(Checkpoint.read(target, conf) == actions)
  }

  test("checkpoint statsParsed: pruning is served from the struct, no JSON parse") {
    val conf = new Configuration()
    val dir = Files.createTempDirectory("gwlog-statsparsed")
    val target = new org.apache.hadoop.fs.Path(dir.toString, "cp.parquet")
    val statsJson =
      """{"numRecords":7,"gwStatsV":2,
        |"minValues":{"k":5,"s":"aa","d":0.1},
        |"maxValues":{"k":50,"s":"zz","d":2.5},
        |"nullCount":{"k":0,"s":1,"d":0}}""".stripMargin.replace("\n", "")
    val add = AddFile("p.parquet", 10, 1000, stats = Some(statsJson))
    Checkpoint.write(target, conf, Seq(add))
    val Seq(back: AddFile) = Checkpoint.read(target, conf)
    assert(back == add, "the JSON stats column round-trips unchanged")
    val p = back.parsedStats.getOrElse(fail("statsParsed must be populated"))
    assert(p.numRecords.contains(7L) && p.gwStatsV == 2)
    // struct-borne bounds equal the JSON-parsed ones EXACTLY (decimal
    // text encoding — 0.1 must not pass through a float64)
    assert(p.minValues("k") == graft.log.Bound.Num(BigDecimal(5)))
    assert(p.minValues("d") == graft.log.Bound.Num(BigDecimal("0.1")))
    assert(p.maxValues("s") == graft.log.Bound.Str("zz"))
    assert(p.nullCount == Map("k" -> 0L, "s" -> 1L, "d" -> 0L))
    // the struct is AUTHORITATIVE: garbage in the JSON column cannot
    // matter once parsedStats is attached — proves no JSON replay happens
    val garbled = AddFile("p.parquet", 10, 1000, stats = Some("NOT JSON"))
    garbled.parsedStats = back.parsedStats
    val snap = Snapshot(0L, None, None, Seq(garbled))
    assert(snap.filesForConstraints(Seq(
      graft.log.ColRange("k", Some(Bound.Num(BigDecimal(60))), None, 2))).isEmpty,
      "a constraint past the struct max must prune the file")
    assert(snap.filesForConstraints(Seq(
      graft.log.ColRange("k", Some(Bound.Num(BigDecimal(40))), None, 2))).size == 1,
      "a constraint inside the struct range must keep the file")
    // numRecords is served from the struct too (Dv.numRecords fallback)
    assert(graft.Dv.numRecords(garbled).contains(7L))
    // and statsMaxMicros: struct path, gwStatsV gate intact
    assert(Snapshot.statsMaxMicros(snap, "k").contains(50L))
    // without parsedStats, garbage JSON means no stats: file kept, no max
    val bare = AddFile("p.parquet", 10, 1000, stats = Some("NOT JSON"))
    val bareSnap = Snapshot(0L, None, None, Seq(bare))
    assert(bareSnap.filesForConstraints(Seq(
      graft.log.ColRange("k", Some(Bound.Num(BigDecimal(60))), None, 2))).size == 1)
    assert(Snapshot.statsMaxMicros(bareSnap, "k").isEmpty)
  }

  test("a name-binding spec reader projects our checkpoint without seeing statsParsed") {
    // simulate a FOREIGN Delta reader at the parquet layer: request ONLY
    // the spec's add columns by name (parquet projection) over a
    // checkpoint that carries the engine's statsParsed extension — the
    // projection must bind cleanly and serve the spec-shaped rows, the
    // extension column invisible
    val conf = new Configuration()
    val dir = Files.createTempDirectory("gwlog-foreignproj")
    val target = new org.apache.hadoop.fs.Path(dir.toString, "cp.parquet")
    val add = AddFile("p=a/part-0.parquet", 10, 1000,
      partitionValues = Map("p" -> "a"),
      stats = Some("""{"numRecords":3,"gwStatsV":2,"minValues":{"k":1},"maxValues":{"k":9},"nullCount":{"k":0}}"""))
    Checkpoint.write(target, conf, Seq(add))
    val specSchema =
      """message spec {
        |  optional group add {
        |    optional binary path (UTF8);
        |    optional group partitionValues (MAP) {
        |      repeated group key_value {
        |        required binary key (UTF8);
        |        optional binary value (UTF8);
        |      }
        |    }
        |    optional int64 size;
        |    optional boolean dataChange;
        |    optional binary stats (UTF8);
        |  }
        |}""".stripMargin
    val rconf = new Configuration(conf)
    rconf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA, specSchema)
    val reader = org.apache.parquet.hadoop.ParquetReader
      .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), target)
      .withConf(rconf).build()
    try {
      val row = reader.read()
      assert(row != null, "projection must serve the add row")
      val g = row.getGroup("add", 0)
      assert(g.getString("path", 0) == "p=a/part-0.parquet")
      assert(g.getLong("size", 0) == 10L)
      assert(g.getString("stats", 0).contains("\"numRecords\":3"),
        "the spec JSON stats column is what a foreign reader consumes")
      assert(scala.util.Try(g.getGroup("statsParsed", 0)).isFailure,
        "the projected schema must not surface the engine extension")
      assert(reader.read() == null, "exactly one row")
    } finally reader.close()
  }

  test("table-features protocol round-trips through JSON and checkpoint") {
    val p = Protocol(3, 7,
      Some(Seq("columnMapping", "deletionVectors")),
      Some(Seq("changeDataFeed", "deletionVectors")))
    assert(Actions.fromJson(Actions.toJson(p)).contains(p))
    // a plain protocol serializes WITHOUT the feature fields (golden logs)
    assert(!Actions.toJson(Protocol(1, 2)).contains("Features"))
    val conf = new Configuration()
    val dir = Files.createTempDirectory("gwlog-feat")
    val target = new org.apache.hadoop.fs.Path(dir.toString, "cp.parquet")
    Checkpoint.write(target, conf, Seq(p))
    assert(Checkpoint.read(target, conf) == Seq(p))
    // the gates refuse what the engine does not implement, by name
    val bad = Protocol(3, 7, Some(Seq("futureMagic")), Some(Seq("deletionVectors")))
    val e = intercept[IllegalArgumentException](Protocol.assertReadable("t", bad))
    assert(e.getMessage.contains("futureMagic"))
    // writer-only unknown features still READ fine, but refuse writes
    val wOnly = Protocol(1, 7, None, Some(Seq("icebergCompatV2")))
    Protocol.assertReadable("t", wOnly)
    val w = intercept[IllegalArgumentException](Protocol.assertWritable("t", wOnly))
    assert(w.getMessage.contains("icebergCompatV2"))
  }

  test("checkpoint parquet schema matches the Delta protocol checkpoint shape (golden)") {
    // Transcribed from the Delta transaction-log protocol's checkpoint
    // schema (one optional struct per action type; string-keyed maps for
    // partitionValues/configuration). An external Delta reader binds these
    // columns BY NAME, so this golden set — independent of the writer's own
    // schema constant — is the offline interop contract: any drift in
    // column paths or physical types fails here before a foreign reader
    // ever sees the table.
    val conf = new Configuration()
    val dir = Files.createTempDirectory("gwlog-cpschema")
    val target = new org.apache.hadoop.fs.Path(dir.toString, "cp.parquet")
    Checkpoint.write(target, conf, Seq(Protocol(1, 2)))
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(target, conf))
    val schema = try reader.getFooter.getFileMetaData.getSchema finally reader.close()
    val cols = schema.getColumns.asScala
      .map(c => c.getPath.mkString(".") ->
        c.getPrimitiveType.getPrimitiveTypeName.toString)
      .toSet
    val golden = Set(
      "protocol.minReaderVersion" -> "INT32",
      "protocol.minWriterVersion" -> "INT32",
      "protocol.readerFeatures.list.element" -> "BINARY",
      "protocol.writerFeatures.list.element" -> "BINARY",
      "metaData.id" -> "BINARY",
      "metaData.schemaString" -> "BINARY",
      "metaData.partitionColumns.list.element" -> "BINARY",
      "metaData.configuration.key_value.key" -> "BINARY",
      "metaData.configuration.key_value.value" -> "BINARY",
      "metaData.createdTime" -> "INT64",
      "add.path" -> "BINARY",
      "add.partitionValues.key_value.key" -> "BINARY",
      "add.partitionValues.key_value.value" -> "BINARY",
      "add.size" -> "INT64",
      "add.modificationTime" -> "INT64",
      "add.dataChange" -> "BOOLEAN",
      // rowTracking (Delta spec): id-range base + assignment version
      "add.baseRowId" -> "INT64",
      "add.defaultRowCommitVersion" -> "INT64",
      "add.stats" -> "BINARY",
      // statsParsed (Delta writeStatsAsStruct parity, engine-internal
      // encoding): pre-parsed stats so checkpoint-served snapshots prune
      // without per-file JSON parsing; bounds ride as exact decimal text
      // (see ParsedStats) — foreign readers ignore the unknown column and
      // keep reading the JSON `stats`
      "add.statsParsed.numRecords" -> "INT64",
      "add.statsParsed.gwStatsV" -> "INT32",
      "add.statsParsed.minValues.key_value.key" -> "BINARY",
      "add.statsParsed.minValues.key_value.value.num" -> "BINARY",
      "add.statsParsed.minValues.key_value.value.str" -> "BINARY",
      "add.statsParsed.maxValues.key_value.key" -> "BINARY",
      "add.statsParsed.maxValues.key_value.value.num" -> "BINARY",
      "add.statsParsed.maxValues.key_value.value.str" -> "BINARY",
      "add.statsParsed.nullCount.key_value.key" -> "BINARY",
      "add.statsParsed.nullCount.key_value.value" -> "INT64",
      "add.deletionVector.storageType" -> "BINARY",
      "add.deletionVector.pathOrInlineDv" -> "BINARY",
      "add.deletionVector.offset" -> "INT32",
      "add.deletionVector.sizeInBytes" -> "INT32",
      "add.deletionVector.cardinality" -> "INT64",
      "remove.path" -> "BINARY",
      "remove.size" -> "INT64",
      "remove.deletionTimestamp" -> "INT64",
      "remove.dataChange" -> "BOOLEAN",
      "remove.partitionValues.key_value.key" -> "BINARY",
      "remove.partitionValues.key_value.value" -> "BINARY",
      "txn.appId" -> "BINARY",
      "txn.version" -> "INT64",
      "txn.lastUpdated" -> "INT64",
      // domainMetadata (Delta spec): named opaque configuration domains
      "domainMetadata.domain" -> "BINARY",
      "domainMetadata.configuration" -> "BINARY",
      "domainMetadata.removed" -> "BOOLEAN",
      // v2Checkpoint (Delta spec): the manifest's self-description and its
      // sidecar references
      "checkpointMetadata.version" -> "INT64",
      "sidecar.path" -> "BINARY",
      "sidecar.sizeInBytes" -> "INT64",
      "sidecar.modificationTime" -> "INT64")
    assert(cols == golden,
      s"checkpoint schema drifted from the Delta spec:\n" +
        s" unexpected=${(cols -- golden).toSeq.sorted.mkString(", ")}\n" +
        s" missing=${(golden -- cols).toSeq.sorted.mkString(", ")}")
    // every BINARY column must carry the UTF8/string annotation — name-
    // binding readers type these as string, not raw bytes
    val unannotated = schema.getColumns.asScala
      .filter(_.getPrimitiveType.getPrimitiveTypeName.toString == "BINARY")
      .filterNot(c => Option(c.getPrimitiveType.getLogicalTypeAnnotation)
        .exists(_.isInstanceOf[
          org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation]))
      .map(_.getPath.mkString("."))
    assert(unannotated.isEmpty,
      s"BINARY columns missing the UTF8 annotation: ${unannotated.mkString(", ")}")
  }

  test("in-commit timestamps: chained, strictly monotonic, clock-skew-proof") {
    val conf = new Configuration()
    val dir = Files.createTempDirectory("gwlog-ict").toString
    val log = new GwLog(new org.apache.hadoop.fs.Path(dir), conf)
    def ci(v: Long) = log.readVersion(v)
      .collectFirst { case c: CommitInfo => c }.get
    val meta = Metadata("id0", new StructType().add("a", "long").json,
      configuration = Map("graft.enableInCommitTimestamps" -> "true"))
    log.commit(Seq(Protocol(), meta, AddFile("f0.parquet", 1, 1),
      CommitInfo(1L, "WRITE", "Overwrite", 1, 1, isBlindAppend = false, "t0")))
    // the enabling commit stamps itself
    assert(ci(0).inCommitTimestamp.isDefined)
    // simulate a writer whose wall clock runs 60s AHEAD: hand-write its
    // commit via commitAt (which never stamps) with a future ict
    val future = System.currentTimeMillis() + 60000L
    log.commitAt(1L, Seq(AddFile("f1.parquet", 1, 1),
      CommitInfo(future, "WRITE", "Append", 1, 1, isBlindAppend = true, "t1",
        inCommitTimestamp = Some(future))))
    // the next NORMAL commit's clock has "regressed" — the chain floor
    // must still stamp strictly after the future timestamp
    log.commit(Seq(AddFile("f2.parquet", 1, 1),
      CommitInfo(2L, "WRITE", "Append", 1, 1, isBlindAppend = true, "t2")))
    assert(ci(2).inCommitTimestamp.contains(future + 1),
      s"commit after a future-stamped one must take floor+1, got ${ci(2)}")
    // TIMESTAMP AS OF resolves on the ict clock, not the wall clock
    assert(log.versionAtTimestamp(future) == 1L)
    assert(log.versionAtTimestamp(future + 1) == 2L)
    // unsetting the property stops the stamping chain
    log.commit(Seq(meta.copy(configuration = Map.empty),
      CommitInfo(3L, "SET TBLPROPERTIES", "", 0, 0, isBlindAppend = false, "t3")))
    assert(ci(3).inCommitTimestamp.isEmpty)
    log.commit(Seq(AddFile("f3.parquet", 1, 1),
      CommitInfo(4L, "WRITE", "Append", 1, 1, isBlindAppend = true, "t4")))
    assert(ci(4).inCommitTimestamp.isEmpty, "chain must stop after unset")
  }

  test("log cleanup: a gap without a usable checkpoint fails loudly, never a partial replay") {
    val conf = new Configuration()
    val dir = Files.createTempDirectory("gwlog-clean").toString
    val log = new GwLog(new org.apache.hadoop.fs.Path(dir), conf, checkpointInterval = 5)
    log.commit(Seq(Protocol(),
      Metadata("id0", new StructType().add("a", "long").json),
      AddFile("f0.parquet", 1, 1),
      CommitInfo(1L, "WRITE", "Overwrite", 1, 1, isBlindAppend = false, "t0")))
    for (i <- 1 to 7)
      log.commit(Seq(AddFile(s"f$i.parquet", 1, 1),
        CommitInfo(i, "WRITE", "Append", 1, 1, isBlindAppend = true, s"t$i")))
    assert(log.listCheckpoints() == Seq(5L))
    assert(log.cleanupExpiredLogs(0L) == 10) // versions 0-4 + their crcs
    assert(log.listVersions() == (5L to 7L))
    // state reads fine through the surviving checkpoint
    assert(log.snapshot(None).files.size == 8)
    assert(log.snapshot(Some(6)).files.size == 7)
    // cleaned version: explicit not-found
    val miss = intercept[IllegalArgumentException](log.snapshot(Some(3)))
    assert(miss.getMessage.contains("not found"))
    // checkpoint gone too -> the guard refuses a fabricated partial replay
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    fs.delete(log.checkpointPathFor(5L), false)
    val guard = intercept[IllegalArgumentException](log.snapshot(None))
    assert(guard.getMessage.contains("reconstructible"),
      s"expected the reconstruction-floor guard, got: ${guard.getMessage}")
  }

  test("multi-part checkpoints: complete sets serve, torn sets fall back, cleanup sweeps parts") {
    val conf = new Configuration()
    conf.setInt("graft.checkpoint.partSize", 4)
    val dir = Files.createTempDirectory("gwlog-multicp").toString
    val log = new GwLog(new org.apache.hadoop.fs.Path(dir), conf)
    log.commit(Seq(Protocol(),
      Metadata("id0", new StructType().add("a", "long").json, createdTime = 1L),
      AddFile("f0.parquet", 1, 1),
      CommitInfo(1L, "WRITE", "Overwrite", 1, 1, isBlindAppend = false, "t0")))
    for (i <- 1 to 10)
      log.commit(Seq(AddFile(s"f$i.parquet", 1, 1),
        CommitInfo(i, "WRITE", "Append", 1, 1, isBlindAppend = true, s"t$i")))
    // v10 checkpoint: 2 + 11 adds = 13 actions at partSize 4 -> 4 parts
    assert(log.listCheckpoints() == Seq(10L))
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val parts = (1 to 4).map(p => log.checkpointPartPathFor(10L, p, 4))
    assert(parts.forall(fs.exists), "all four parts must land")
    assert(!fs.exists(log.checkpointPathFor(10L)),
      "no single-file form for a multi-part checkpoint")
    val lc = new String(fs.open(
      new org.apache.hadoop.fs.Path(dir, "_delta_log/_last_checkpoint"))
      .readAllBytes())
    assert(lc.contains("\"parts\":4"), lc)
    // the checkpoint-resumed snapshot equals a pure JSON replay
    val replay = Snapshot.replay(10L,
      log.listVersions().map(v => log.readVersion(v)))
    val viaCp = log.snapshot(None)
    assert(viaCp.files.toSet == replay.files.toSet &&
      viaCp.metadata == replay.metadata)
    // torn set (crash mid-write): the checkpoint is treated as ABSENT —
    // never a partial snapshot — and JSON replay still serves
    fs.delete(parts(2), false)
    assert(log.listCheckpoints().isEmpty)
    assert(log.snapshot(None).files.map(_.path).toSet ==
      replay.files.map(_.path).toSet)
    // the next interval re-checkpoints (complete); cleanup sweeps every
    // leftover part of the torn v10 set
    for (i <- 11 to 20)
      log.commit(Seq(AddFile(s"f$i.parquet", 1, 1),
        CommitInfo(i, "WRITE", "Append", 1, 1, isBlindAppend = true, s"t$i")))
    assert(log.listCheckpoints() == Seq(20L))
    assert(log.cleanupExpiredLogs(0L) > 0)
    assert(!parts.exists(fs.exists), "torn v10 leftovers must be swept")
    assert(log.snapshot(None).files.size == 21)
  }

  test("checkpoint carries txn marks + unexpired tombstones; snapshot resumes them") {
    val conf = new Configuration()
    val dir = Files.createTempDirectory("gwlog-txncp").toString
    val log = new GwLog(new org.apache.hadoop.fs.Path(dir), conf)
    val now = System.currentTimeMillis()
    log.commit(Seq(Protocol(),
      Metadata("id0", new StructType().add("a", "long").json, createdTime = 1L),
      AddFile("f0.parquet", 1, 1),
      CommitInfo(1L, "WRITE", "Overwrite", 1, 1, isBlindAppend = false, "t0")))
    log.commit(Seq(
      AddFile("f1.parquet", 2, 2),
      RemoveFile("f0.parquet", 1, deletionTimestamp = now),
      // an ancient tombstone: must NOT survive into the checkpoint
      RemoveFile("fold.parquet", 1,
        deletionTimestamp = now - 8L * 24 * 3600 * 1000),
      SetTransaction("s1", 5, Some(now)),
      CommitInfo(2L, "WRITE", "Append", 1, 2, isBlindAppend = true, "s1/5")))
    log.writeCheckpoint(1L)
    val cpActions = Checkpoint.read(log.checkpointPathFor(1L), conf)
    // lastUpdated is optional in the spec and not tracked through the
    // snapshot's high-water map — the checkpointed mark carries None
    assert(cpActions.contains(SetTransaction("s1", 5, None)))
    assert(cpActions.exists {
      case r: RemoveFile => r.path == "f0.parquet"; case _ => false
    }, "the fresh tombstone must be checkpointed")
    assert(!cpActions.exists {
      case r: RemoveFile => r.path == "fold.parquet"; case _ => false
    }, "expired tombstones must be dropped from the checkpoint")
    // a snapshot RESUMED from the checkpoint still knows the txn mark
    log.commit(Seq(AddFile("f2.parquet", 3, 3),
      CommitInfo(3L, "WRITE", "Append", 1, 3, isBlindAppend = true, "t2")))
    val snap = log.snapshot(None)
    assert(snap.transactions == Map("s1" -> 5L))
    assert(snap.files.map(_.path).toSet == Set("f1.parquet", "f2.parquet"))
    assert(snap.tombstones.exists(_.path == "f0.parquet"))
    // a re-added path clears its tombstone
    log.commit(Seq(AddFile("f0.parquet", 4, 4),
      CommitInfo(4L, "WRITE", "Append", 1, 4, isBlindAppend = true, "t3")))
    assert(!log.snapshot(None).tombstones.exists(_.path == "f0.parquet"))
  }

  test("snapshot through a checkpoint equals full JSON replay over 100+ versions") {
    val dir = Files.createTempDirectory("gwlog-100").toString
    val conf = new Configuration()
    val log = new GwLog(new org.apache.hadoop.fs.Path(dir), conf)
    log.commit(Seq(Protocol(), Metadata("id0", new StructType().add("a", "long").json, createdTime = 1L),
      AddFile("part-0.parquet", 1, 1),
      CommitInfo(1L, "WRITE", "Overwrite", 1, 1, isBlindAppend = false, "t0")))
    (1 to 120).foreach { v =>
      val actions = Seq.newBuilder[Action]
      actions += AddFile(s"part-$v.parquet", v.toLong, v.toLong)
      if (v % 7 == 0) actions += RemoveFile(s"part-${v - 3}.parquet", (v - 3).toLong, v.toLong)
      if (v == 60) actions += Metadata("id0", new StructType().add("a", "long").add("b", "string").json, createdTime = 60L)
      actions += CommitInfo(v.toLong, "WRITE", "Append", 1, v.toLong, isBlindAppend = true, s"t$v")
      log.commit(actions.result())
    }
    assert(log.listCheckpoints().nonEmpty, "interval checkpoints should have been written")
    assert(log.listCheckpoints().last == 120L)

    // independent ground truth: replay every JSON, ignoring checkpoints
    def fullReplay(upTo: Long): Snapshot =
      Snapshot.replay(upTo, (0L to upTo).map(v => log.readVersion(v)))

    for (v <- Seq(5L, 59L, 60L, 100L, 120L)) {
      val viaCp = log.snapshot(Some(v))
      val full = fullReplay(v)
      assert(viaCp.protocol == full.protocol, s"protocol diverged at v$v")
      assert(viaCp.metadata == full.metadata, s"metadata diverged at v$v")
      assert(viaCp.files.toSet == full.files.toSet, s"file set diverged at v$v")
    }
    // resume cost: latest snapshot must not reread early JSONs — spot-check
    // by corrupting an early version file and reading the latest snapshot
    val v3 = log.logPathFor(3L)
    val fs = v3.getFileSystem(conf)
    val out = fs.create(v3, true); out.write("garbage".getBytes); out.close()
    assert(log.snapshot().files.toSet == fullReplayAfterCorruption(log))
  }

  test("a corrupt checkpoint falls back to full JSON replay") {
    val dir = Files.createTempDirectory("gwlog-torn").toString
    val conf = new Configuration()
    val log = new GwLog(new org.apache.hadoop.fs.Path(dir), conf, checkpointInterval = 5)
    log.commit(Seq(Protocol(), Metadata("id0", new StructType().add("a", "long").json, createdTime = 1L),
      AddFile("part-0.parquet", 1, 1),
      CommitInfo(1L, "WRITE", "Overwrite", 1, 1, isBlindAppend = false, "t0")))
    (1 to 7).foreach { v =>
      log.commit(Seq(AddFile(s"part-$v.parquet", v.toLong, v.toLong),
        CommitInfo(v.toLong, "WRITE", "Append", 1, v.toLong, isBlindAppend = true, s"t$v")))
    }
    val cp = log.checkpointPathFor(5L)
    val fs = cp.getFileSystem(conf)
    assert(fs.exists(cp))
    // tear the checkpoint: truncate to garbage
    val out = fs.create(cp, true); out.write("not parquet".getBytes); out.close()
    val snap = log.snapshot()
    assert(snap.files.size == 8, "fallback replay must still see every file")
    assert(snap.version == 7L)
  }

  test("local claim is link-atomic: the loser never clobbers the winner's payload") {
    // the old Hadoop create(overwrite=false) local path was check-then-
    // create: a racing loser could overwrite the winner's committed bytes.
    // Pin the fix: after a losing commitViaLink, the winner's payload is
    // byte-intact and no temp debris remains.
    val dir = java.nio.file.Files.createTempDirectory("linklog").resolve("t").toString
    val log = GwLog.forTable(new org.apache.hadoop.conf.Configuration(), dir)
    val winner = "winner-payload".getBytes("UTF-8")
    log.commitViaLink(0L, log.logPathFor(0L), winner)
    intercept[VersionConflictException] {
      log.commitViaLink(0L, log.logPathFor(0L), "loser-payload".getBytes("UTF-8"))
    }
    val onDisk = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(log.logPathFor(0L).toUri.getPath))
    assert(java.util.Arrays.equals(onDisk, winner), "loser clobbered the winner")
    val debris = new java.io.File(s"$dir/_delta_log").listFiles()
      .filter(_.getName.endsWith(".tmp"))
    assert(debris.isEmpty, s"temp debris left: ${debris.toSeq}")
  }

  test("concurrent commits at one version: the second writer loses, per protocol") {
    def oneWins(commit: (GwLog, Long, Seq[Action]) => Unit): Unit = {
      val dir = Files.createTempDirectory("gwlog-race").toString
      val conf = new Configuration()
      def actionsFor(i: Int): Seq[Action] = Seq(
        Protocol(), Metadata(s"id$i", new StructType().json, createdTime = 1L),
        AddFile(s"/data/w$i.parquet", 10, 1000),
        CommitInfo(1L, "WRITE", "Overwrite", 1, 10, isBlindAppend = false, s"w$i"))
      // each writer gets its OWN GwLog handle, as two real processes would
      commit(GwLog.forTable(conf, dir), 0L, actionsFor(1))
      intercept[VersionConflictException] {
        commit(GwLog.forTable(conf, dir), 0L, actionsFor(2))
      }
      // the loser must not have clobbered or torn the winner's commit
      val log = GwLog.forTable(conf, dir)
      assert(log.listVersions() == Seq(0L))
      val snap = log.snapshot()
      assert(snap.files.map(_.path) == Seq("/data/w1.parquet"),
        "winner's content survived intact")
      assert(snap.metadata.map(_.id).contains("id1"))
    }
    // atomic-create protocol (file/hdfs)
    oneWins((log, v, as) => log.commitAt(v, as))
    // rename-claim protocol (what s3a & friends route through)
    oneWins((log, v, as) =>
      log.commitViaRename(v, log.logPathFor(v), log.payloadFor(as)))
  }

  test("sink commits retry past version conflicts and rebuild against fresh state") {
    val dir = Files.createTempDirectory("gwlog-retry").toString
    val conf = new Configuration()
    // a log that loses the race twice before succeeding
    val log = new GwLog(new org.apache.hadoop.fs.Path(dir), conf) {
      var conflicts = 2
      override def commitAt(version: Long, actions: Seq[Action]): Unit = {
        if (conflicts > 0) {
          conflicts -= 1
          // the "winner": an interleaved commit takes this version first
          super.commitAt(version, Seq(
            CommitInfo(version, "OPTIMIZE", "Compact", 0, 0,
              isBlindAppend = false, s"winner$version")))
          throw new VersionConflictException(version, logPathFor(version), null)
        }
        super.commitAt(version, actions)
      }
    }
    // each attempt rebuilds against the current log: the first sees an
    // empty log (bootstrap), the retries see the winner's commits
    var observed = List.empty[Boolean]
    val v = graft.log.GwTxn(log, "WRITE", "Append").commitOrCreate { fresh =>
      observed :+= fresh.isEmpty
      Seq(AddFile(s"/data/retry.parquet", 10, 1000),
        CommitInfo(2L, "WRITE", "Append", 1, 10, isBlindAppend = true,
          s"a${observed.size}"))
    }
    assert(observed == List(true, false, false),
      "two conflicts -> two rebuilds against the winner's state")
    assert(v == 2L, "winner took v0 and v1; retry landed at v2")
    assert(log.readVersion(v).exists {
      case ci: CommitInfo => ci.txnId == "a3"
      case _ => false
    })
    // a conflict storm beyond the bound surfaces the error
    val stormy = new GwLog(new org.apache.hadoop.fs.Path(
      Files.createTempDirectory("gwlog-storm").toString), conf) {
      override def commitAt(version: Long, actions: Seq[Action]): Unit =
        throw new VersionConflictException(version, logPathFor(version), null)
    }
    intercept[VersionConflictException] {
      graft.log.GwTxn(stormy, "WRITE", "Append").commitOrCreate(_ => Seq.empty)
    }
  }

  test("rename-claim commit leaves no temp debris and rejects a second commit") {
    val dir = Files.createTempDirectory("gwlog-rename").toString
    val conf = new Configuration()
    val log = GwLog.forTable(conf, dir)
    val actions: Seq[Action] = Seq(
      Protocol(), Metadata("id0", new StructType().json, createdTime = 1L),
      AddFile("/data/a.parquet", 10, 1000),
      CommitInfo(1L, "WRITE", "Overwrite", 1, 10, isBlindAppend = false, "t0"))
    log.commitViaRename(0L, log.logPathFor(0L), log.payloadFor(actions))
    assert(log.listVersions() == Seq(0L))
    intercept[VersionConflictException] {
      log.commitViaRename(0L, log.logPathFor(0L), log.payloadFor(actions))
    }
    // no .tmp files left behind by winner or loser
    val fs = log.logPathFor(0L).getFileSystem(conf)
    val leftovers = fs.listStatus(log.logPathFor(0L).getParent)
      .map(_.getPath.getName).filter(_.endsWith(".tmp"))
    assert(leftovers.isEmpty, s"temp debris: ${leftovers.mkString(",")}")
    assert(log.snapshot().files.size == 1)
  }

  test("one _delta_log listing per snapshot and per commit, and no stat of the log dir") {
    val conf = new Configuration()
    conf.set("fs.cntfs.impl", classOf[CountingFileSystem].getName)
    val dir = Files.createTempDirectory("gwlog-listing").toString
    val table = "cntfs://" + dir
    val logDir = dir + "/_delta_log"
    val log = GwLog.forTable(conf, table)
    log.commit(Seq(Protocol(),
      Metadata("id0", new StructType().add("a", "long").json, createdTime = 1L),
      AddFile("f0.parquet", 1, 1),
      CommitInfo(1L, "WRITE", "Overwrite", 1, 1, isBlindAppend = false, "t0")))
    for (i <- 1 to 24)
      log.commit(Seq(AddFile(s"f$i.parquet", 1, 1),
        CommitInfo(i, "WRITE", "Append", 1, 1, isBlindAppend = true, s"t$i")))
    assert(log.listCheckpoints() == Seq(10L, 20L))
    GwLog.forTable(conf, table).snapshot() // shares v24 under its current route
    // (listings, stats or exists probes) of `_delta_log` itself while
    // `body` runs; the per-entry stats a local listing makes are on
    // children, not counted
    def cost(body: => Unit): (Int, Int) = {
      def n(kinds: String*) =
        CountingFileSystem.kinds.asScala.count { case (k, p) => p == logDir && kinds.contains(k) }
      val (l0, s0) = (n("listStatus"), n("getFileStatus", "exists"))
      body
      (n("listStatus") - l0, n("getFileStatus", "exists") - s0)
    }
    val hitsBefore = LogMetrics.snapshotCacheHits.sum()
    assert(cost(GwLog.forTable(conf, table).snapshot()) == ((1, 0)), "shared-cache hit")
    assert(LogMetrics.snapshotCacheHits.sum() > hitsBefore)
    val bare = new GwLog(new org.apache.hadoop.fs.Path(table), conf)
    assert(cost(bare.snapshot()) == ((1, 0)), "replay")
    assert(bare.lastReplayReads == ((Some(20L), 21L to 24L, Nil)))
    val fresh = GwLog.forTable(conf, table)
    assert(cost(GwTxn(fresh, "WRITE", "Append", isBlindAppend = true)
      .commit(_ => Seq(AddFile("f25.parquet", 1, 1)))) == ((1, 0)), "commit")
    assert(fresh.listVersions().last == 25L && fresh.listCheckpoints() == Seq(10L, 20L))
    assert(fresh.verifyChecksum(25L).exists(_.numFiles == 26))
  }

  test("a checkpoint a forTable handle writes serves later readers without a replay") {
    val meta = Metadata("id0", new StructType().add("a", "long").json, createdTime = 1L)
    val multiPart = new Configuration()
    multiPart.setInt("graft.checkpoint.partSize", 3)
    Seq(
      ("single file", meta, new Configuration()),
      ("multi-part", meta, multiPart),
      ("v2", meta.copy(configuration = Map("graft.checkpointPolicy" -> "v2")), new Configuration())
    ).foreach { case (label, m, conf) =>
      val table = Files.createTempDirectory("gwlog-cp-route").toString
      val log = GwLog.forTable(conf, table)
      val now = System.currentTimeMillis()
      log.commit(Seq(Protocol(), m, AddFile("f0.parquet", 1, 1)))
      for (i <- 1 to 12)
        log.commit(Seq(AddFile(s"f$i.parquet", 1, 1), SetTransaction("app", i)) ++
          // an expired tombstone, which the checkpoint drops, and a live one
          (if (i == 3) Seq(RemoveFile("f0.parquet", 1, 5L)) else Nil) ++
          (if (i == 5) Seq(RemoveFile("f1.parquet", 1, now)) else Nil))
      assert(log.listCheckpoints() == Seq(10L), label)
      val replays = LogMetrics.snapshotReplays.sum()
      val shared = (10L to 12L).map(v => GwLog.forTable(conf, table).snapshot(Some(v)))
      assert(LogMetrics.snapshotReplays.sum() == replays, s"$label: a reader replayed")
      val fresh = (10L to 12L).map(v =>
        new GwLog(new org.apache.hadoop.fs.Path(table), conf).snapshot(Some(v)))
      assert(shared == fresh, label)
      assert(fresh.forall(s => s.tombstones.map(_.path) == Seq("f1.parquet")), label)
    }
  }

  test("LogSegment resolves each _delta_log name set as the per-method parsers did") {
    def v(n: Long): String = f"$n%020d"
    def json(range: Range): Seq[String] = range.map(i => s"${v(i)}.json")
    def part(n: Long, p: Int, of: Int): String = f"${v(n)}.checkpoint.$p%010d.$of%010d.parquet"
    val uuidA = "3f2a9c1e-0d4b-4e6f-8a7b-1c2d3e4f5a6b"
    val uuidB = "9c8b7a6d-5e4f-4a3b-2c1d-0e9f8a7b6c5d"
    final case class Want(versions: Seq[Long], checkpoints: Seq[(Long, Seq[String])],
        compacted: Seq[(Long, Long)])
    val cases: Seq[(String, Seq[String], Want)] = Seq(
      ("single-file checkpoint beside a V2 manifest",
        json(0 to 10) ++ Seq(s"${v(10)}.checkpoint.$uuidA.parquet", s"${v(10)}.checkpoint.parquet"),
        Want(0L to 10L, Seq(10L -> Seq(s"${v(10)}.checkpoint.parquet")), Nil)),
      ("two V2 manifests",
        json(0 to 10) ++ Seq(s"${v(10)}.checkpoint.$uuidB.parquet",
          s"${v(10)}.checkpoint.$uuidA.parquet", s"${v(5)}.checkpoint.$uuidA.parquet"),
        Want(0L to 10L, Seq(5L -> Seq(s"${v(5)}.checkpoint.$uuidA.parquet"),
          10L -> Seq(s"${v(10)}.checkpoint.$uuidB.parquet")), Nil)),
      ("complete and incomplete multi-part sets",
        json(0 to 20) ++ Seq(part(10, 2, 2), part(10, 1, 2), part(20, 1, 3), part(20, 3, 3),
          part(15, 1, 2), part(15, 2, 2), part(15, 1, 3)),
        Want(0L to 20L, Seq(10L -> Seq(part(10, 1, 2), part(10, 2, 2))), Nil)),
      ("compacted ranges with a malformed name",
        json(0 to 9) ++ Seq(s"${v(4)}.${v(7)}.compacted.json", s"${v(0)}.${v(3)}.compacted.json",
          s"${v(4)}.${v(5)}.compacted.json", s"${v(8)}.compacted.json",
          s"${v(1)}.${v(2)}.${v(3)}.compacted.json", "x.y.compacted.json"),
        Want(0L to 9L, Nil, Seq((0L, 3L), (4L, 5L), (4L, 7L)))),
      (".crc files",
        json(0 to 3) ++ (0 to 3).map(i => s"${v(i)}.crc") ++
          Seq(s".${v(1)}.json.crc", s".${v(2)}.crc.crc", s".${v(3)}.checkpoint.parquet.crc"),
        Want(0L to 3L, Nil, Nil)),
      (".tmp claim files",
        json(0 to 2) ++ Seq(s".$uuidA-3.json.tmp", s"${v(3)}.json.tmp",
          s".${v(0)}.${v(2)}.compacted.json.$uuidB.tmp"),
        Want(0L to 2L, Nil, Nil)),
      ("_last_checkpoint",
        json(0 to 10) ++ Seq(s"${v(10)}.checkpoint.parquet", "_last_checkpoint"),
        Want(0L to 10L, Seq(10L -> Seq(s"${v(10)}.checkpoint.parquet")), Nil)),
      ("stray names",
        json(0 to 9) ++ Seq("_sidecars", "README.md", "abc.json", "00000000000000000009.json.bak",
          s"${v(7)}.checkpoint.a.b.c.parquet", s"${v(8)}.checkpoint.5.parquet"),
        Want(0L to 9L, Nil, Nil)))
    val logDir = new org.apache.hadoop.fs.Path("/t/_delta_log")
    cases.foreach { case (label, names, want) =>
      val seg = LogSegment.of(scala.util.Random.shuffle(names).map { n =>
        new org.apache.hadoop.fs.FileStatus(1L, n == "_sidecars", 1, 1L, 1L,
          new org.apache.hadoop.fs.Path(logDir, n))
      })
      assert(seg.versions == want.versions, label)
      assert(seg.checkpointVersions == want.checkpoints.map(_._1), label)
      assert(seg.checkpoints.toSeq.map { case (cv, files) => cv -> files.map(_.getPath.getName) } ==
        want.checkpoints, label)
      assert(seg.compactedRanges == want.compacted, label)
    }
    // checksums and every checkpoint-named artifact (what cleanup sweeps)
    val crc = LogSegment.of((json(0 to 1) ++ Seq(s"${v(1)}.crc", part(4, 1, 2))).map(n =>
      new org.apache.hadoop.fs.FileStatus(1L, false, 1, 1L, 1L, new org.apache.hadoop.fs.Path(logDir, n))))
    assert(crc.checksums.map(_._1) == Seq(1L))
    assert(crc.checkpointArtifacts.map(_._1) == Seq(4L) && crc.checkpointVersions.isEmpty)
  }

  /** Latest snapshot via the newest checkpoint + tail (versions > cp). */
  private def fullReplayAfterCorruption(log: GwLog): Set[AddFile] = {
    val cp = log.listCheckpoints().last
    val base = Checkpoint.read(log.checkpointPathFor(cp), new Configuration())
    val tail = log.listVersions().filter(_ > cp).map(log.readVersion)
    Snapshot.replay(log.listVersions().last, base +: tail).files.toSet
  }
}
