package graft

import graft.log._
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.types.{DataType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/**
 * M3 exit test (SURVEY.md §5.2.3): end-to-end index run over the mirrored
 * policy_holders CDA fixture, validated against the reference's golden
 * delta-log lineage (4 versions; snapshots 4/8/4/8 rows; 2-col -> 3-col
 * schema restatement at v2).
 */
class IndexerSpec extends SparkSpec {

  /** Copy the classpath fixture tree into a temp dir, return its file: URI. */
  private def stageFixture(): (String, String) = {
    val srcRoot = Paths.get(getClass.getResource("/guidewire/policy_holders").toURI)
    val work = Files.createTempDirectory("gw-e2e")
    val dataDir = work.resolve("cda/policy_holders")
    Files.walk(srcRoot).forEach { p =>
      val rel = srcRoot.relativize(p)
      val dst = dataDir.resolve(rel.toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else { Files.createDirectories(dst.getParent); Files.copy(p, dst) }
    }
    val manifest = s"""{
      "policy_holders": {
        "lastSuccessfulWriteTimestamp": "1680945093000",
        "totalProcessedRecordsCount": 71027,
        "dataFilesPath": "${dataDir.toUri}",
        "schemaHistory": {
          "301248659": "1680535502000",
          "301248660": "1680945093000"
        }
      }
    }"""
    val manifestPath = work.resolve("manifest.json")
    Files.write(manifestPath, manifest.getBytes(StandardCharsets.UTF_8))
    (manifestPath.toUri.toString, work.resolve("db").toUri.toString)
  }

  /** Lands a one-file folder at 1680945094000 (a copy of a part file of
    * the last fixture folder) and advances the manifest watermark to it. */
  private def landNewFolder(manifestUri: String): Unit = {
    val manifestPath = Paths.get(java.net.URI.create(manifestUri))
    val dataDir = manifestPath.getParent.resolve("cda/policy_holders")
    val srcFile = {
      val s = Files.list(dataDir.resolve("301248660/1680945093000"))
      try s.filter(_.toString.endsWith(".parquet")).findFirst().get()
      finally s.close()
    }
    val newFolder = dataDir.resolve("301248660/1680945094000")
    Files.createDirectories(newFolder)
    Files.copy(srcFile, newFolder.resolve("part-extra.parquet"))
    val text = new String(Files.readAllBytes(manifestPath), StandardCharsets.UTF_8)
    Files.write(manifestPath, text.replace("\"lastSuccessfulWriteTimestamp\": \"1680945093000\"",
      "\"lastSuccessfulWriteTimestamp\": \"1680945094000\"").getBytes(StandardCharsets.UTF_8))
    ()
  }

  /** Stage details of every Spark job `body` starts. */
  private def jobsOf[A](body: => A): Seq[String] = {
    val details = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        details.add(e.stageInfos.map(_.details).mkString("\n")); ()
      }
    }
    org.apache.spark.GraftTestAccess.drainListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      body
      org.apache.spark.GraftTestAccess.drainListeners(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    details.asScala.toSeq
  }

  test("end-to-end golden lineage: index -> 4 versions -> time travel reads") {
    val (manifestUri, dbPath) = stageFixture()
    val results = Indexer.index(manifestUri, dbPath)(spark)
    assert(results.keySet == Set("policy_holders"))
    assert(results("policy_holders").size == 4)

    val table = GwTable.forPath(spark, s"$dbPath/policy_holders")
    assert(table.log.listVersions() == Seq(0L, 1L, 2L, 3L))

    // golden-structure comparison per version (paths/timestamps differ)
    val v0 = table.log.readVersion(0)
    assert(v0.collect { case p: Protocol => p } == Seq(Protocol(1, 2)))
    assert(v0.collect { case a: AddFile => a.size } == Seq(752))
    val md0 = v0.collectFirst { case m: Metadata => m }.get
    assert(DataType.fromJson(md0.schemaString).asInstanceOf[StructType].fieldNames.toSeq == Seq("firstName", "age"))
    val ci0 = v0.collectFirst { case c: CommitInfo => c }.get
    assert(ci0.mode == "Overwrite" && !ci0.isBlindAppend)

    val v1 = table.log.readVersion(1)
    assert(v1.collect { case a: AddFile => a.size }.sorted == Seq(698, 717, 726))
    assert(v1.collectFirst { case m: Metadata => m }.isEmpty)
    assert(v1.collectFirst { case c: CommitInfo => c }.get.isBlindAppend)

    val v2 = table.log.readVersion(2)
    assert(v2.collect { case a: AddFile => a.size } == Seq(1025))
    assert(v2.collect { case r: RemoveFile => r }.size == 4)
    val md2 = v2.collectFirst { case m: Metadata => m }.get
    assert(DataType.fromJson(md2.schemaString).asInstanceOf[StructType].fieldNames.toSeq ==
      Seq("firstName", "lastName", "age"))

    val v3 = table.log.readVersion(3)
    assert(v3.collect { case a: AddFile => a }.size == 4)
    assert(v3.collect { case r: RemoveFile => r }.isEmpty)

    // read-path: row counts and schema per version (golden expectation 4/8/4/8)
    assert(table.versionAsOf(0).count() == 4)
    assert(table.versionAsOf(1).count() == 8)
    assert(table.versionAsOf(2).count() == 4)
    assert(table.versionAsOf(3).count() == 8)
    assert(table.versionAsOf(1).schema.fieldNames.toSeq == Seq("firstName", "age"))
    assert(table.toDF.schema.fieldNames.toSeq == Seq("firstName", "lastName", "age"))
    val names = table.toDF.select("firstName").collect().map(_.getString(0)).toSet
    assert(names == Set("Antoine", "Junta", "Marcela", "Eon"))

    // timestampAsOf resolves via commitInfo timestamps
    assert(table.timestampAsOf(1680535502000L).count() == 8)
    assert(table.timestampAsOf(1680350543000L).count() == 4)

    // history surface
    assert(table.history.count() == 4)

    // incremental rerun: watermark 1680945093000 -> no new versions
    val rerun = Indexer.index(manifestUri, dbPath)(spark)
    assert(rerun("policy_holders").isEmpty)
    assert(table.log.listVersions() == Seq(0L, 1L, 2L, 3L))

    // overwrite mode: full rebuild, same 4 versions
    val redo = Indexer.index(manifestUri, dbPath, SaveMode.Overwrite)(spark)
    assert(redo("policy_holders").size == 4)
    assert(table.log.listVersions() == Seq(0L, 1L, 2L, 3L))
  }

  test("crash between commits and checkpoint save: rerun converges without duplicate versions") {
    val (manifestUri, dbPath) = stageFixture()
    Indexer.index(manifestUri, dbPath)(spark)
    val table = GwTable.forPath(spark, s"$dbPath/policy_holders")
    assert(table.log.listVersions() == Seq(0L, 1L, 2L, 3L))
    // checkpoints ride the engine's own log now (atomic commit per run)
    val cpLog = GwLog.forTable(spark.sparkContext.hadoopConfiguration,
      Indexer.checkpointsPath(dbPath))
    assert(cpLog.exists(), "checkpoints must be a gwdelta table")

    // a new CDA folder arrives and the manifest watermark advances
    val manifestPath = Paths.get(java.net.URI.create(manifestUri))
    val dataDir = manifestPath.getParent.resolve("cda/policy_holders")
    val srcDir = dataDir.resolve("301248660/1680945093000")
    val srcFile = {
      val s = Files.list(srcDir)
      try s.filter(_.toString.endsWith(".parquet")).findFirst().get()
      finally s.close()
    }
    val newFolder = dataDir.resolve("301248660/1680945094000")
    Files.createDirectories(newFolder)
    Files.copy(srcFile, newFolder.resolve("part-extra.parquet"))
    Files.write(manifestPath, s"""{
      "policy_holders": {
        "lastSuccessfulWriteTimestamp": "1680945094000",
        "totalProcessedRecordsCount": 71027,
        "dataFilesPath": "${dataDir.toUri}",
        "schemaHistory": {
          "301248659": "1680535502000",
          "301248660": "1680945093000"
        }
      }
    }""".getBytes(StandardCharsets.UTF_8))

    // run 2 "crashes" after its table commits, BEFORE the checkpoint save
    // (processManifest commits; index() is what writes checkpoints)
    val entries = graft.sources.Manifest.read(
      spark.sparkContext.hadoopConfiguration, manifestUri)
    val crashed = Indexer.processManifest(entries,
      Indexer.loadCheckpoints(dbPath)(spark), dbPath, SaveMode.Append,
      enforceGuidewireTimestamp = true)(spark)
    assert(crashed("policy_holders").isRight)
    assert(table.log.listVersions() == Seq(0L, 1L, 2L, 3L, 4L))

    // the checkpoint is stale, but the watermark comes from the log, which
    // already holds the folder: a rerun must not commit a duplicate version
    val repaired = Indexer.index(manifestUri, dbPath)(spark)
    assert(repaired("policy_holders").isEmpty)
    assert(table.log.listVersions() == Seq(0L, 1L, 2L, 3L, 4L),
      "rerun must not commit the folder twice")
    assert(table.toDF.count() == 9) // 8 + the one-row copied part file
    // converged: a third run discovers nothing
    assert(Indexer.index(manifestUri, dbPath)(spark)("policy_holders").isEmpty)
  }

  test("a steady-state Append run runs only the fan-out and the checkpoint save") {
    val (manifestUri, dbPath) = stageFixture()
    Indexer.index(manifestUri, dbPath)(spark)
    landNewFolder(manifestUri)
    var results = Map.empty[String, Seq[BatchResult]]
    val jobs = jobsOf { results = Indexer.index(manifestUri, dbPath)(spark) }
    assert(results("policy_holders").map(_.processedTimestamp) == Seq(1680945094000L))
    assert(jobs.size == 2, s"jobs:\n${jobs.mkString("\n---\n")}")
    assert(jobs.count(_.contains("Indexer$.processManifest")) == 1)
    assert(Indexer.loadCheckpoints(dbPath)(spark).get("policy_holders").contains(1680945094000L))
  }

  test("a table whose directory was deleted is rebuilt from its folders") {
    val (manifestUri, dbPath) = stageFixture()
    Indexer.index(manifestUri, dbPath)(spark)
    val tableDir = Paths.get(java.net.URI.create(s"$dbPath/policy_holders"))
    GwLog.forTable(spark.sparkContext.hadoopConfiguration, tableDir.toString).delete()
    assert(Indexer.loadCheckpoints(dbPath)(spark).get("policy_holders").contains(1680945093000L))
    val rebuilt = Indexer.index(manifestUri, dbPath)(spark)
    assert(rebuilt("policy_holders").size == 4)
    val table = GwTable.forPath(spark, s"$dbPath/policy_holders")
    assert(table.log.listVersions() == Seq(0L, 1L, 2L, 3L))
    assert(table.toDF.count() == 8)
  }

  test("a log with no indexer label takes its watermark from _checkpoints") {
    val (manifestUri, dbPath) = stageFixture()
    Indexer.index(manifestUri, dbPath)(spark)
    // the reference stamps no label: strip it from every commit, and drop
    // the checksums that would no longer match
    val logDir = Paths.get(java.net.URI.create(s"$dbPath/policy_holders/_delta_log"))
    val names = { val s = Files.list(logDir); try s.toArray.map(_.toString) finally s.close() }
    names.filter(_.endsWith(".crc")).foreach(n => Files.delete(Paths.get(n)))
    names.filter(_.matches(".*/\\d{20}\\.json")).foreach { n =>
      val text = new String(Files.readAllBytes(Paths.get(n)), StandardCharsets.UTF_8)
      val stripped = text.replaceAll(",\"txnId\":\"gwindex/[^\"]*\"", "")
      assert(stripped != text, s"no label in $n")
      Files.write(Paths.get(n), stripped.getBytes(StandardCharsets.UTF_8))
    }
    landNewFolder(manifestUri)
    val results = Indexer.index(manifestUri, dbPath)(spark)
    assert(results("policy_holders").map(_.processedTimestamp) == Seq(1680945094000L))
    val table = GwTable.forPath(spark, s"$dbPath/policy_holders")
    assert(table.log.listVersions() == Seq(0L, 1L, 2L, 3L, 4L))
    assert(table.toDF.count() == 9)
  }

  test("a legacy plain-parquet _checkpoints directory reads back and migrates") {
    val (manifestUri, dbPath) = stageFixture()
    import spark.implicits._
    Seq(("policy_holders", "301248659", 1680535502000L, 3),
      ("retired", "7", 1600000000000L, 1))
      .toDF("tableName", "processedSchema", "processedTimestamp", "processedFiles")
      .write.parquet(Indexer.checkpointsPath(dbPath))
    val legacy = Map("policy_holders" -> 1680535502000L, "retired" -> 1600000000000L)
    assert(Indexer.loadCheckpoints(dbPath)(spark) == legacy)
    // the table has no log yet, so it bootstraps from all of its folders,
    // and the legacy rows ride the checkpoint table's bootstrap commit
    assert(Indexer.index(manifestUri, dbPath)(spark)("policy_holders").size == 4)
    assert(GwLog.forTable(spark.sparkContext.hadoopConfiguration,
      Indexer.checkpointsPath(dbPath)).exists())
    assert(Indexer.loadCheckpoints(dbPath)(spark) ==
      legacy + ("policy_holders" -> 1680945093000L))
  }

  test("manifest gate (EDGE CASE#1) drops folders newer than the manifest watermark") {
    val (manifestUri, dbPath) = stageFixture()
    // rewrite manifest watermark to exclude the last folder
    val p = Paths.get(java.net.URI.create(manifestUri))
    val patched = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .replace("\"lastSuccessfulWriteTimestamp\": \"1680945093000\"",
        "\"lastSuccessfulWriteTimestamp\": \"1680757005000\"")
    Files.write(p, patched.getBytes(StandardCharsets.UTF_8))
    val results = Indexer.index(manifestUri, dbPath)(spark)
    assert(results("policy_holders").size == 3)
    val table = GwTable.forPath(spark, s"$dbPath/policy_holders")
    assert(table.log.listVersions() == Seq(0L, 1L, 2L))
    assert(table.toDF.count() == 4) // restated v2 only
  }

  test("record-less folders are skipped with recursive schema fallback (EDGE CASE#2)") {
    val (manifestUri, dbPath) = stageFixture()
    // inject a folder containing only a zero-byte parquet -> no batch
    val dataDir = Paths.get(java.net.URI.create(manifestUri)).getParent.resolve("cda/policy_holders")
    val emptyDir = dataDir.resolve("301248660/1680900000000")
    Files.createDirectories(emptyDir)
    Files.write(emptyDir.resolve("part-00000-empty.parquet"), Array.emptyByteArray)
    val results = Indexer.index(manifestUri, dbPath)(spark)
    assert(results("policy_holders").size == 4) // unchanged: empty folder yields no version
    assert(!results("policy_holders").exists(_.processedTimestamp == 1680900000000L))
  }

  test("a fingerprint whose first folder cannot be probed fails discovery") {
    val (manifestUri, dbPath) = stageFixture()
    Indexer.index(manifestUri, dbPath)(spark) // healthy table first
    // new fingerprint arrives whose only file has an unparseable footer
    val root = Paths.get(java.net.URI.create(manifestUri)).getParent
    val badDir = root.resolve("cda/policy_holders/999999999/1680950000000")
    Files.createDirectories(badDir)
    Files.write(badDir.resolve("part-00000-bad.parquet"),
      "this is not a parquet file".getBytes(StandardCharsets.UTF_8))
    val patched = new String(Files.readAllBytes(Paths.get(java.net.URI.create(manifestUri))), StandardCharsets.UTF_8)
      .replace("\"schemaHistory\": {",
        "\"schemaHistory\": {\n          \"999999999\": \"1680950000000\",")
      .replace("\"lastSuccessfulWriteTimestamp\": \"1680945093000\"",
        "\"lastSuccessfulWriteTimestamp\": \"1680950000000\"")
    Files.write(Paths.get(java.net.URI.create(manifestUri)), patched.getBytes(StandardCharsets.UTF_8))
    val e = intercept[Exception] { Indexer.index(manifestUri, dbPath)(spark) }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("cannot probe a schema")),
      s"unexpected failure: ${messages(e).mkString(" | ")}")
    // the healthy table state is untouched (no partial blind-append)
    val table = GwTable.forPath(spark, s"$dbPath/policy_holders")
    assert(table.log.listVersions() == Seq(0L, 1L, 2L, 3L))
  }

  test("restatement survives a record-less first folder below the watermark") {
    // run 1: fingerprint A commits (watermark 130); fingerprint B's first
    // folder (ts=120, record-less) is dropped and NOT checkpointed
    val work = Files.createTempDirectory("gw-crossrun")
    val aDir = work.resolve("cda/t/A/130")
    Files.createDirectories(aDir)
    Files.copy(Paths.get("/root/testdata/sf0.001/nation.parquet"), aDir.resolve("part-0.parquet"))
    val bEmpty = work.resolve("cda/t/B/120")
    Files.createDirectories(bEmpty)
    Files.write(bEmpty.resolve("part-0.parquet"), Array.emptyByteArray)
    val manifest = work.resolve("manifest.json")
    def writeManifest(): Unit = Files.write(manifest,
      s"""{"t": {"lastSuccessfulWriteTimestamp": "9999999999999",
         |"totalProcessedRecordsCount": 1,
         |"dataFilesPath": "${work.toAbsolutePath}/cda/t/",
         |"schemaHistory": {"A": "100", "B": "120"}}}""".stripMargin
        .getBytes(StandardCharsets.UTF_8))
    writeManifest()
    val db = work.resolve("db").toString
    Indexer.index(manifest.toUri.toString, db)(spark)
    val table = GwTable.forPath(spark, s"$db/t")
    assert(table.toDF.columns.contains("n_nationkey"))

    // run 2: fingerprint B's next folder has files with a DIFFERENT schema;
    // it must commit as the restatement even though B's chronologically
    // first folder is now below the watermark
    val bData = work.resolve("cda/t/B/150")
    Files.createDirectories(bData)
    Files.copy(Paths.get("/root/testdata/sf0.001/region.parquet"), bData.resolve("part-0.parquet"))
    Indexer.index(manifest.toUri.toString, db)(spark)
    assert(table.toDF.columns.toSeq == Seq("r_regionkey", "r_name"),
      "new fingerprint must restate the schema, not blind-append")
    assert(table.toDF.count() == 5)
    val lastOp = table.history.orderBy(org.apache.spark.sql.functions.col("version").desc)
      .select("operation").head.getString(0)
    assert(lastOp == "UPGRADE SCHEMA")
  }

  test("a failing table does not lose healthy siblings' checkpoints") {
    val work = Files.createTempDirectory("gw-partial")
    val goodDir = work.resolve("cda/good/100/1700000000000")
    Files.createDirectories(goodDir)
    Files.copy(Paths.get("/root/testdata/sf0.001/nation.parquet"),
      goodDir.resolve("part-0.parquet"))
    val badDir = work.resolve("cda/bad/200/1700000000000")
    Files.createDirectories(badDir)
    Files.write(badDir.resolve("part-0.parquet"), "garbage".getBytes(StandardCharsets.UTF_8))
    val manifest = work.resolve("manifest.json")
    Files.write(manifest,
      s"""{"good": {"lastSuccessfulWriteTimestamp": "9999999999999",
         |"totalProcessedRecordsCount": 1,
         |"dataFilesPath": "${work.toAbsolutePath}/cda/good/",
         |"schemaHistory": {"100": "1700000000000"}},
         |"bad": {"lastSuccessfulWriteTimestamp": "9999999999999",
         |"totalProcessedRecordsCount": 1,
         |"dataFilesPath": "${work.toAbsolutePath}/cda/bad/",
         |"schemaHistory": {"200": "1700000000000"}}}""".stripMargin
        .getBytes(StandardCharsets.UTF_8))
    val db = work.resolve("db").toString
    val e = intercept[IllegalStateException] {
      Indexer.index(manifest.toUri.toString, db)(spark)
    }
    assert(e.getMessage.contains("bad:"))
    // the healthy table committed AND its watermark was checkpointed, so a
    // rerun must not re-commit its folder (no duplicate rows downstream)
    assert(GwTable.forPath(spark, s"$db/good").toDF.count() == 25)
    assert(Indexer.loadCheckpoints(db)(spark).get("good").contains(1700000000000L))
    val rerun = intercept[IllegalStateException] {
      Indexer.index(manifest.toUri.toString, db)(spark)
    }
    assert(rerun.getMessage.contains("bad:"))
    assert(GwTable.forPath(spark, s"$db/good").log.listVersions() == Seq(0L),
      "rerun must not re-commit the already-checkpointed folder")
  }

  test("driver proxy properties are captured and applied inside task closures") {
    val key = "http.proxyHost"
    val prev = Option(System.getProperty(key))
    System.setProperty(key, "proxy.example.test")
    try {
      assert(Indexer.proxyProperties().get(key).contains("proxy.example.test"))
      // the broadcast value must reach task-side System properties
      val seen = spark.sparkContext.parallelize(Seq(1), 1).map { _ =>
        val b = Indexer.proxyProperties()
        b.getOrElse(key, System.getProperty(key, "unset"))
      }.collect().head
      assert(seen == "proxy.example.test")
    } finally prev match {
      case Some(v) => System.setProperty(key, v); ()
      case None => System.clearProperty(key); ()
    }
  }

  test("harvested footer stats enable snapshot-level file pruning") {
    val (manifestUri, dbPath) = stageFixture()
    Indexer.index(manifestUri, dbPath)(spark)
    val table = GwTable.forPath(spark, s"$dbPath/policy_holders")
    val snap = table.log.snapshot()
    // every live file carries harvested stats with numRecords + bounds
    assert(snap.files.nonEmpty)
    assert(snap.files.forall(_.stats.isDefined), "deviation: stats harvested at index time")
    assert(snap.files.forall(_.stats.get.contains("numRecords")))
    // age is a numeric column in the fixture: a selective range must skip
    // at least one file while keeping every file whose range intersects
    val pruned = snap.filesForRange("age", 1000, 2000) // out of any real age range
    assert(pruned.size < snap.files.size, "selective predicate should skip files")
    // sanity: an all-covering range keeps everything
    assert(snap.filesForRange("age", Double.MinValue, Double.MaxValue).size == snap.files.size)
  }
}
