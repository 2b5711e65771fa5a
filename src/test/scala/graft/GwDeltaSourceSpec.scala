package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Drives the `gwdelta` DSv2 connector the way a SQL user would. */
class GwDeltaSourceSpec extends AnyFunSuite {
  private val spark = SparkSpec.session
  private val sf = "/root/testdata/sf0.001"

  private lazy val tablePath: String = {
    val tmp = Files.createTempDirectory("gwdelta-spec")
    // v0: nation (fingerprint 100); v1: restatement to region (fingerprint 200)
    for ((sid, ts, src) <- Seq(("100", 1700000000000L, "nation"),
        ("200", 1700000001000L, "region"))) {
      val dir = tmp.resolve(s"data/t/$sid/$ts")
      Files.createDirectories(dir)
      Files.copy(Paths.get(s"$sf/$src.parquet"), dir.resolve("part-0.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    Files.writeString(tmp.resolve("manifest.json"),
      s"""{"t": {"lastSuccessfulWriteTimestamp": "9999999999999",
         |"totalProcessedRecordsCount": 1,
         |"dataFilesPath": "${tmp.toAbsolutePath}/data/t/",
         |"schemaHistory": {"100": "1700000000000", "200": "1700000001000"}}}""".stripMargin)
    val db = tmp.resolve("db").toString
    Indexer.index(tmp.resolve("manifest.json").toString, db, SaveMode.Overwrite)(spark)
    s"$db/t"
  }

  test("format(gwdelta) reads the latest snapshot (restated schema)") {
    val df = spark.read.format("gwdelta").load(tablePath)
    assert(df.columns.toSeq == Seq("r_regionkey", "r_name"))
    assert(df.count() == 5)
  }

  test("versionAsOf option time-travels to the pre-restatement schema") {
    val df = spark.read.format("gwdelta").option("versionAsOf", 0).load(tablePath)
    assert(df.columns.contains("n_nationkey"))
    assert(df.count() == 25)
  }

  test("timestampAsOf resolves to the greatest earlier commit") {
    val history = GwTable.forPath(spark, tablePath).history
      .select("version", "timestamp").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val df = spark.read.format("gwdelta")
      .option("timestampAsOf", history(0L)).load(tablePath)
    assert(df.count() == 25)
  }

  test("SQL: CREATE TEMPORARY VIEW ... USING gwdelta with time travel") {
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW gw_v0
                 |USING gwdelta OPTIONS (path '$tablePath', versionAsOf '0')""".stripMargin)
    val out = spark.sql("SELECT count(*) AS n FROM gw_v0").collect().head.getLong(0)
    assert(out == 25)
  }

  test("filters and pruning push into the delegated parquet scan") {
    val df = spark.read.format("gwdelta").option("versionAsOf", 0).load(tablePath)
      .filter(col("n_nationkey") < 5).select("n_name")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(n_nationkey), LessThan(n_nationkey,5)]"),
      s"pushdown missing in:\n$plan")
    assert(df.count() == 5)
  }

  test("conflicting time-travel options are rejected") {
    val e = intercept[Exception] {
      spark.read.format("gwdelta")
        .option("versionAsOf", 0).option("timestampAsOf", 1L).load(tablePath).count()
    }
    assert(e.getMessage.contains("at most one"))
  }

  test("readStream format(gwdelta) tails the log incrementally across restarts") {
    import org.apache.spark.sql.streaming.Trigger
    // fresh table with one commit (5 region rows)
    val tmp = Files.createTempDirectory("gwdelta-stream")
    def stage(commits: Seq[Long]): Unit = {
      for (ts <- commits) {
        val dir = tmp.resolve(s"data/t/100/$ts")
        Files.createDirectories(dir)
        Files.copy(Paths.get(s"$sf/region.parquet"), dir.resolve("part-0.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
      }
      Files.writeString(tmp.resolve("manifest.json"),
        s"""{"t": {"lastSuccessfulWriteTimestamp": "9999999999999",
           |"totalProcessedRecordsCount": 1,
           |"dataFilesPath": "${tmp.toAbsolutePath}/data/t/",
           |"schemaHistory": {"100": "1700000000000"}}}""".stripMargin)
    }
    stage(Seq(1700000000000L))
    val db = tmp.resolve("db").toString
    Indexer.index(tmp.resolve("manifest.json").toString, db, SaveMode.Append)(spark)
    val cp = tmp.resolve("cp").toString
    val out = tmp.resolve("out").toString

    // memory sink can't recover from a checkpoint; a parquet sink proves
    // the realistic restart story
    def sunkRows(): Long =
      if (!Files.exists(Paths.get(out))) 0L
      else spark.read.parquet(out).count()
    def drain(): Long = {
      val before = sunkRows()
      val q = spark.readStream.format("gwdelta").load(s"$db/t")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      sunkRows() - before
    }

    assert(drain() == 5, "initial snapshot batch")
    // two more commits arrive; a restarted stream reads ONLY their rows
    stage(Seq(1700000000000L, 1700000001000L, 1700000002000L))
    Indexer.index(tmp.resolve("manifest.json").toString, db, SaveMode.Append)(spark)
    assert(drain() == 10, "incremental batches only")
    // nothing new: a third restart reads zero rows
    assert(drain() == 0, "no new versions -> empty drain")
  }

  test("a snapshot with zero live files reads as an empty table with schema") {
    import graft.log._
    val dir = Files.createTempDirectory("gwdelta-empty").toString
    val log = GwLog.forTable(new org.apache.hadoop.conf.Configuration(), dir)
    val schema = spark.read.parquet(s"$sf/region.parquet").schema
    log.commit(Seq(Protocol(), Metadata("id0", schema.json, createdTime = 1L),
      AddFile(s"$sf/region.parquet", 10, 1000),
      CommitInfo(1L, "WRITE", "Overwrite", 1, 10, isBlindAppend = false, "t0")))
    log.commit(Seq(RemoveFile(s"$sf/region.parquet", 10, 2L),
      CommitInfo(2L, "WRITE", "Append", 0, 0, isBlindAppend = false, "t1")))
    val df = GwTable.forPath(spark, dir).toDF
    assert(df.columns.toSeq == Seq("r_regionkey", "r_name"))
    assert(df.count() == 0)
  }

  test("harvested stats skip files at scan planning, not just row groups") {
    // table of 3 files with disjoint n_nationkey ranges
    val tmp = Files.createTempDirectory("gwdelta-prune")
    val folder = tmp.resolve("data/t/100/1700000000000")
    Files.createDirectories(folder)
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    for ((lo, hi, i) <- Seq((0, 8, 0), (9, 16, 1), (17, 24, 2))) {
      val part = Files.createTempDirectory(s"prune-part-$i")
      nation.filter(col("n_nationkey").between(lo, hi)).coalesce(1)
        .write.mode("overwrite").parquet(part.toString)
      val f = part.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(f.toPath, folder.resolve(s"part-$i.parquet"))
    }
    Files.writeString(tmp.resolve("manifest.json"),
      s"""{"t": {"lastSuccessfulWriteTimestamp": "9999999999999",
         |"totalProcessedRecordsCount": 25,
         |"dataFilesPath": "${tmp.toAbsolutePath}/data/t/",
         |"schemaHistory": {"100": "1700000000000"}}}""".stripMargin)
    val db = tmp.resolve("db").toString
    Indexer.index(tmp.resolve("manifest.json").toString, db, SaveMode.Overwrite)(spark)

    def plannedFiles(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          ScanPeel.peel(b.scan).asInstanceOf[org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan]
            .fileIndex.inputFiles.length
      }.head

    val all = spark.read.format("gwdelta").load(s"$db/t")
    assert(plannedFiles(all) == 3)
    val selective = all.filter(col("n_nationkey") === 20)
    assert(plannedFiles(selective) == 1, "stats should exclude 2 of 3 files")
    assert(selective.count() == 1)
    // a range straddling two files keeps exactly those two
    val straddle = all.filter(col("n_nationkey") >= 7 && col("n_nationkey") <= 10)
    assert(plannedFiles(straddle) == 2)
    assert(straddle.count() == 4)
  }

  test("harvested stats skip files for timestamp, date, and string predicates") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val tmp = Files.createTempDirectory("gwdelta-prune-typed")
    val folder = tmp.resolve("data/t/100/1700000000000")
    Files.createDirectories(folder)
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("ts", TimestampType),
      StructField("d", DateType), StructField("s", StringType)))
    def row(id: Int, ts: String, d: String, s: String) =
      Row(id, java.sql.Timestamp.valueOf(ts), java.sql.Date.valueOf(d), s)
    val months = Seq(
      (Seq(row(0, "2024-01-05 00:00:00", "2024-01-05", "apple"),
           row(1, "2024-01-20 00:00:00", "2024-01-20", "banana")), 0),
      (Seq(row(2, "2024-02-05 00:00:00", "2024-02-05", "mango"),
           row(3, "2024-02-20 00:00:00", "2024-02-20", "melon")), 1),
      (Seq(row(4, "2024-03-05 00:00:00", "2024-03-05", "zebra"),
           row(5, "2024-03-20 00:00:00", "2024-03-20", "zucchini")), 2))
    // write as TIMESTAMP_MILLIS so the harvest's millis->micros
    // normalization is what the pruning depends on
    val prevTsType = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    try {
      for ((rows, i) <- months) {
        val part = Files.createTempDirectory(s"typed-part-$i")
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
          .coalesce(1).write.mode("overwrite").parquet(part.toString)
        val f = part.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
        Files.move(f.toPath, folder.resolve(s"part-$i.parquet"))
      }
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prevTsType)
    Files.writeString(tmp.resolve("manifest.json"),
      s"""{"t": {"lastSuccessfulWriteTimestamp": "9999999999999",
         |"totalProcessedRecordsCount": 6,
         |"dataFilesPath": "${tmp.toAbsolutePath}/data/t/",
         |"schemaHistory": {"100": "1700000000000"}}}""".stripMargin)
    val db = tmp.resolve("db").toString
    Indexer.index(tmp.resolve("manifest.json").toString, db, SaveMode.Overwrite)(spark)

    def plannedFiles(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          ScanPeel.peel(b.scan).asInstanceOf[org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan]
            .fileIndex.inputFiles.length
      }.head

    val t = spark.read.format("gwdelta").load(s"$db/t")
    assert(plannedFiles(t) == 3)
    // timestamp: equality and range
    val tsEq = t.filter(col("ts") === lit(java.sql.Timestamp.valueOf("2024-02-05 00:00:00")))
    assert(plannedFiles(tsEq) == 1, "timestamp equality -> 1 file")
    assert(tsEq.count() == 1)
    val tsRange = t.filter(col("ts") >= lit(java.sql.Timestamp.valueOf("2024-02-25 00:00:00")))
    assert(plannedFiles(tsRange) == 1, "timestamp lower bound -> March file only")
    assert(tsRange.count() == 2)
    // date: equality and IN-list
    val dEq = t.filter(col("d") === lit(java.sql.Date.valueOf("2024-01-20")))
    assert(plannedFiles(dEq) == 1, "date equality -> 1 file")
    assert(dEq.count() == 1)
    val dIn = t.filter(col("d").isin(
      java.sql.Date.valueOf("2024-03-05"), java.sql.Date.valueOf("2024-03-20")))
    assert(plannedFiles(dIn) == 1, "date IN-list -> 1 file")
    assert(dIn.count() == 2)
    // string: equality and prefix (LIKE 'm%')
    val sEq = t.filter(col("s") === "zebra")
    assert(plannedFiles(sEq) == 1, "string equality -> 1 file")
    assert(sEq.count() == 1)
    val sPrefix = t.filter(col("s").startsWith("m"))
    assert(plannedFiles(sPrefix) == 1, "string prefix -> 1 file")
    assert(sPrefix.count() == 2)
  }

  // ---- SQL catalog (CREATE TABLE ... USING gwdelta + native time travel)

  private lazy val catalogReady: Unit = {
    spark.conf.set("spark.sql.catalog.gwtest", classOf[graft.sources.GwCatalog].getName)
    spark.conf.set("spark.sql.catalog.gwtest.warehouse",
      Files.createTempDirectory("gwtest-warehouse").toString)
    spark.sql("CREATE NAMESPACE gwtest.cda")
    spark.sql(s"CREATE TABLE gwtest.cda.t USING gwdelta LOCATION '$tablePath'")
  }

  test("catalog: CREATE TABLE USING gwdelta resolves the latest snapshot") {
    catalogReady
    val df = spark.sql("SELECT * FROM gwtest.cda.t")
    assert(df.columns.toSeq == Seq("r_regionkey", "r_name"))
    assert(df.count() == 5)
    assert(spark.sql("SHOW TABLES IN gwtest.cda").collect()
      .map(_.getString(1)).contains("t"))
  }

  test("catalog: native VERSION AS OF SQL time-travels through loadTable") {
    catalogReady
    val df = spark.sql("SELECT * FROM gwtest.cda.t VERSION AS OF 0")
    assert(df.columns.contains("n_nationkey"))
    assert(df.count() == 25)
  }

  test("catalog: native TIMESTAMP AS OF SQL resolves the greatest earlier commit") {
    catalogReady
    val tsV0 = GwTable.forPath(spark, tablePath).history
      .select("version", "timestamp").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap.apply(0L)
    val df = spark.sql(
      s"SELECT * FROM gwtest.cda.t TIMESTAMP AS OF timestamp_millis($tsV0)")
    assert(df.count() == 25)
  }

  test("catalog: catalog reads keep stats pruning and filter pushdown") {
    catalogReady
    val plan = spark.sql(
      "SELECT n_name FROM gwtest.cda.t VERSION AS OF 0 WHERE n_nationkey < 5")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(n_nationkey), LessThan(n_nationkey,5)]"),
      s"pushdown missing in:\n$plan")
  }

  test("catalog: duplicate CREATE fails; DROP removes the pointer, not the data") {
    catalogReady
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE gwtest.cda.t USING gwdelta LOCATION '$tablePath'")
    }
    assert(e.getMessage.toUpperCase.contains("ALREADY EXISTS") ||
      e.getMessage.contains("TABLE_OR_VIEW_ALREADY_EXISTS"), e.getMessage)
    spark.sql(s"CREATE TABLE gwtest.cda.dropme USING gwdelta LOCATION '$tablePath'")
    spark.sql("DROP TABLE gwtest.cda.dropme")
    assert(!spark.sql("SHOW TABLES IN gwtest.cda").collect()
      .map(_.getString(1)).contains("dropme"))
    // external data untouched: the original catalog table still reads
    assert(spark.sql("SELECT * FROM gwtest.cda.t").count() == 5)
  }

  test("catalog: spark.readStream.table tails the log incrementally across restarts") {
    import org.apache.spark.sql.streaming.Trigger
    catalogReady
    val loc = Files.createTempDirectory("gwtest-stream").resolve("t").toString
    val region = spark.read.parquet(s"$sf/region.parquet")
    graft.streaming.GwSink.append(region, loc)
    spark.sql(s"CREATE TABLE gwtest.cda.tail USING gwdelta LOCATION '$loc'")
    val work = Files.createTempDirectory("gwtest-stream-out")
    val out = work.resolve("out").toString
    val cp = work.resolve("cp").toString
    def sunk(): Long =
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(out))) 0L
      else spark.read.parquet(out).count()
    def drain(): Long = {
      val before = sunk()
      val q = spark.readStream.table("gwtest.cda.tail")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      sunk() - before
    }
    assert(drain() == 5, "initial snapshot batch")
    graft.streaming.GwSink.append(region, loc)
    // the catalog resolves a FRESH snapshot per query, so a restarted
    // stream picks up the new commit and reads ONLY its rows
    assert(drain() == 5, "incremental batch only")
    assert(drain() == 0, "no new versions -> empty drain")
  }

  test("streams honor deletion vectors: catalog and path faces both reconcile") {
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.streaming.Trigger
    catalogReady
    val loc = Files.createTempDirectory("gwtest-dv-stream").resolve("t").toString
    spark.range(3000).selectExpr("id", "id % 7 AS grp").coalesce(1)
      .write.format("gwdelta").mode("append").save(loc)
    val t = GwTable.forPath(spark, loc)
    assert(t.delete(expr("id % 2 = 0"), mergeOnRead = true) > 0)
    assert(t.snapshot().files.exists(_.dv.isDefined))
    spark.sql(s"CREATE TABLE gwtest.cda.dvtail USING gwdelta LOCATION '$loc'")
    val work = Files.createTempDirectory("gwtest-dv-stream-out")
    val out = work.resolve("out").toString
    val cp = work.resolve("cp").toString
    def sunk(): Long =
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(out))) 0L
      else spark.read.parquet(out).count()
    def drain(): Long = {
      val before = sunk()
      val q = spark.readStream.table("gwtest.cda.dvtail")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      sunk() - before
    }
    // V2 initial snapshot: LIVE rows only — a plain parquet read of the
    // re-asserted file would deliver all 3000 (deleted rows included)
    assert(drain() == 1500, "initial snapshot must reconcile deletion vectors")
    assert(spark.read.parquet(out).filter(expr("id % 2 = 0")).count() == 0)
    // an incremental MOR delete is a re-assertion with NO new rows: the
    // stream must emit nothing (not re-deliver the whole file)
    assert(t.delete(expr("id = 1"), mergeOnRead = true) > 0)
    assert(drain() == 0, "a MOR delete commit must not re-emit the file")
    // a real append still flows
    spark.range(3000, 3005).selectExpr("id", "id % 7 AS grp")
      .write.format("gwdelta").mode("append").save(loc)
    assert(drain() == 5)
    // the path face plans the same V2 stream: its initial snapshot serves
    // the table's live rows (deleted rows reconciled), not an error
    val pathOut = work.resolve("path-out").toString
    val pathStream = spark.readStream.format("gwdelta").load(loc)
    assert(pathStream.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.catalyst.streaming.StreamingRelationV2 => r
    }.nonEmpty, "the path face must plan a V2 streaming relation")
    val q = pathStream.writeStream.format("parquet")
      .option("path", pathOut)
      .option("checkpointLocation", work.resolve("path-cp").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.flatMap(_.sources)
      .exists(_.description.contains("GwMicroBatchStream")))
    val live = spark.read.format("gwdelta").load(loc).count()
    assert(live == 1504, "1,500 rows survive the first delete, one more is deleted, five appended")
    assert(spark.read.parquet(pathOut).count() == live)
    assert(spark.read.parquet(pathOut)
      .filter(expr("id < 3000 AND (id % 2 = 0 OR id = 1)")).count() == 0)
  }

  test("a checkpoint written by the retired V1 path source restarts on the V2 stream") {
    import org.apache.spark.sql.streaming.Trigger
    val root = Files.createTempDirectory("gwdelta-v1cp")
    val loc = root.resolve("t").toString
    val region = spark.read.parquet(s"$sf/region.parquet").coalesce(1)
    for (_ <- 0 until 3) graft.streaming.GwSink.append(region, loc) // v0..v2
    // the committed checkpoint drained a two-version table through the V1
    // GwDeltaStreamSource: one batch, last offset 1
    val cp = root.resolve("cp")
    val res = Paths.get(getClass.getResource("/stream/v1-path-checkpoint").toURI)
    Files.walk(res).forEach { p =>
      val dst = cp.resolve(res.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    }
    val served = new java.util.concurrent.atomic.AtomicLong()
    val q = spark.readStream.format("gwdelta").load(loc)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        served.addAndGet(b.count()); ()
      }
      .option("checkpointLocation", cp.toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(served.get == 5, "only version 2, after the checkpoint's offset, is served")
    assert(q.recentProgress.flatMap(_.sources)
      .exists(_.description.contains("GwMicroBatchStream")))
  }

  test("catalog: INSERT INTO appends a commit; INSERT OVERWRITE truncates atomically") {
    catalogReady
    // a fresh writable table over its own location (don't mutate the shared fixture)
    val loc = Files.createTempDirectory("gwtest-dml").resolve("t").toString
    spark.sql(s"CREATE TABLE gwtest.cda.dml (r_regionkey BIGINT, r_name STRING) " +
      s"USING gwdelta LOCATION '$loc'")
    // first INSERT bootstraps the log from the declared schema
    spark.sql("INSERT INTO gwtest.cda.dml SELECT r_regionkey, r_name FROM gwtest.cda.t")
    assert(spark.sql("SELECT * FROM gwtest.cda.dml").count() == 5)
    spark.sql("INSERT INTO gwtest.cda.dml VALUES (99, 'NEWLAND')")
    assert(spark.sql("SELECT * FROM gwtest.cda.dml").count() == 6)
    val table = GwTable.forPath(spark, loc)
    assert(table.log.listVersions() == Seq(0L, 1L))
    // OVERWRITE replaces content in ONE commit; old versions stay readable
    spark.sql("INSERT OVERWRITE gwtest.cda.dml VALUES (1, 'ONLY')")
    assert(spark.sql("SELECT * FROM gwtest.cda.dml").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "ONLY")))
    assert(spark.sql("SELECT count(*) AS n FROM gwtest.cda.dml VERSION AS OF 1")
      .head().getLong(0) == 6, "pre-overwrite content must remain time-travelable")
    // time-travel relations are read-only
    val e = intercept[Exception] {
      spark.sql("INSERT INTO gwtest.cda.dml VERSION AS OF 0 VALUES (2, 'X')")
    }
    assert(e.getMessage != null)
  }

  test("df.write.format(gwdelta) bootstraps, appends, and overwrites through the connector") {
    val loc = Files.createTempDirectory("gwdelta-dfw").resolve("t").toString
    val region = spark.read.parquet(s"$sf/region.parquet")
    region.write.format("gwdelta").mode("append").save(loc) // bootstrap
    region.write.format("gwdelta").mode("append").save(loc)
    assert(spark.read.format("gwdelta").load(loc).count() == 10)
    region.limit(2).write.format("gwdelta").mode("overwrite").save(loc)
    assert(spark.read.format("gwdelta").load(loc).count() == 2)
    // pre-overwrite content still time-travels
    assert(spark.read.format("gwdelta").option("versionAsOf", 1).load(loc).count() == 10)
    val e = intercept[Exception] {
      region.write.format("gwdelta").option("versionAsOf", 0).mode("append").save(loc)
    }
    assert(e.getMessage.contains("LATEST"), e.getMessage)
  }

  test("GwSink.append: bootstrap then blind append; empty batches commit nothing") {
    val path = Files.createTempDirectory("gwsink-spec").resolve("t").toString
    val region = spark.read.parquet(s"$sf/region.parquet")
    assert(graft.streaming.GwSink.append(region.limit(0), path) == -1L,
      "empty batch must not bootstrap a log")
    assert(graft.streaming.GwSink.append(region, path) == 0L)
    assert(graft.streaming.GwSink.append(region, path) == 1L)
    assert(graft.streaming.GwSink.append(region.limit(0), path) == -1L,
      "empty batch must not advance the version")
    val table = GwTable.forPath(spark, path)
    val hist = table.history.orderBy("version").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getBoolean(6)))
    assert(hist.toSeq == Seq((0L, "CREATE TABLE", false), (1L, "WRITE", true)))
    assert(table.toDF.count() == 10)
    // the sunk table round-trips through the incremental consumer too
    assert(table.changesSince(0L).count() == 5)
    // crash-replay idempotence: re-delivering the last batch id is a no-op
    assert(graft.streaming.GwSink.append(region, path, Some("b2")) == 2L)
    assert(graft.streaming.GwSink.append(region, path, Some("b2")) == 2L,
      "replayed batch must not commit twice")
    assert(table.toDF.count() == 15)
    assert(graft.streaming.GwSink.append(region, path, Some("b3")) == 3L)
    // ... even with a maintenance commit interleaved between sink commits
    assert(table.compact() == 4L, "compaction rewrites the sink batches")
    assert(graft.streaming.GwSink.append(region, path, Some("b3")) == 3L,
      "replay after a maintenance commit must still dedup")
    // vacuum reclaims the engine-owned _stream originals the compaction
    // tombstoned (CDA semantics protect only SOURCE trees, not sink output)
    assert(GwTable.withRetentionCheckDisabled(spark)(
      table.vacuum(retentionMs = 0)) == 4, "four superseded sink files")
    assert(table.toDF.count() == 20, "rows intact after vacuum")
  }

  test("stream admission: snapshot slices and version admission under read limits") {
    import org.apache.spark.sql.graftbridge.{GwStreamAdmission, GwStreamOffset}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import graft.log._
    val dir = Files.createTempDirectory("gw-admission").toString
    val log = GwLog.forTable(new org.apache.hadoop.conf.Configuration(), dir)
    val schema = spark.read.parquet(s"$sf/region.parquet").schema
    // v0: five 100-byte files
    log.commit(Seq(Protocol(), Metadata("id0", schema.json, createdTime = 1L)) ++
      (0 until 5).map(i => AddFile(s"$dir/f$i.parquet", 100, 1000L)) :+
      CommitInfo(1L, "WRITE", "Overwrite", 5, 500, isBlindAppend = false, "t0"))

    // offset wire compat: bare-long checkpoints parse; mid-snapshot offsets
    // round-trip; consumed positions serialize as the old bare form
    assert(GwStreamOffset.parse("7") == GwStreamOffset(7))
    assert(GwStreamOffset(7).json == "7")
    assert(GwStreamOffset.parse(GwStreamOffset(0, 3).json) == GwStreamOffset(0, 3))

    // initial snapshot slices by file index, two at a time
    val s0 = GwStreamOffset(-1)
    val o1 = GwStreamAdmission.nextOffset(log, s0, ReadLimit.maxFiles(2), None)
    assert(o1 == GwStreamOffset(0, 2), s"got $o1")
    val o2 = GwStreamAdmission.nextOffset(log, o1, ReadLimit.maxFiles(2), None)
    assert(o2 == GwStreamOffset(0, 4))
    val o3 = GwStreamAdmission.nextOffset(log, o2, ReadLimit.maxFiles(2), None)
    assert(o3 == GwStreamOffset(0), "final slice completes the snapshot")
    assert(GwStreamAdmission.rangeFiles(log, dir, o1, o2).map(_.path) ==
      Seq(s"$dir/f2.parquet", s"$dir/f3.parquet"))
    // byte-capped slicing admits at least one file per batch
    val b1 = GwStreamAdmission.nextOffset(log, s0, ReadLimit.maxBytes(250), None)
    assert(b1 == GwStreamOffset(0, 2), "250B admits two 100B files")
    assert(GwStreamAdmission.nextOffset(log, s0, ReadLimit.maxBytes(10), None) ==
      GwStreamOffset(0, 1), "an undersized cap still admits one file")

    // incremental: whole versions, capped by cumulative files
    def appendV(n: Int): Unit = log.commit(
      (0 until n).map(i => AddFile(s"$dir/v${log.latestVersion().get + 1}_$i.parquet",
        100, 2000L)) :+
        CommitInfo(2L, "WRITE", "Append", n, n * 100L, isBlindAppend = true, "tx"))
    appendV(2) // v1
    appendV(2) // v2
    val i1 = GwStreamAdmission.nextOffset(log, o3, ReadLimit.maxFiles(2), None)
    assert(i1 == GwStreamOffset(1), "v2 would exceed the cap")
    val i2 = GwStreamAdmission.nextOffset(log, i1, ReadLimit.maxFiles(2), None)
    assert(i2 == GwStreamOffset(2))
    assert(GwStreamAdmission.nextOffset(log, o3, ReadLimit.allAvailable(), None) ==
      GwStreamOffset(2))
    // an oversized single version is still admitted (progress guarantee)
    appendV(5) // v3
    assert(GwStreamAdmission.nextOffset(log, i2, ReadLimit.maxFiles(2), None) ==
      GwStreamOffset(3))
    // Trigger.AvailableNow's cap pins the end version
    assert(GwStreamAdmission.nextOffset(log, o3, ReadLimit.allAvailable(), Some(1L)) ==
      GwStreamOffset(1))
  }

  test("maxFilesPerTrigger rate-limits both stream faces under AvailableNow") {
    import org.apache.spark.sql.streaming.Trigger
    import scala.jdk.CollectionConverters._
    catalogReady
    val loc = Files.createTempDirectory("gwtest-rated").resolve("t").toString
    val region = spark.read.parquet(s"$sf/region.parquet")
    // three commits, one file each (the initial snapshot = 3 files)
    graft.streaming.GwSink.append(region.coalesce(1), loc)
    graft.streaming.GwSink.append(region.coalesce(1), loc)
    graft.streaming.GwSink.append(region.coalesce(1), loc)
    spark.sql(s"CREATE TABLE gwtest.cda.rated USING gwdelta LOCATION '$loc'")
    val work = Files.createTempDirectory("gwtest-rated-out")
    def batches(cp: String): Int = {
      val d = java.nio.file.Paths.get(cp, "offsets")
      if (!java.nio.file.Files.exists(d)) 0
      else java.nio.file.Files.list(d).iterator().asScala
        .count(p => !p.getFileName.toString.endsWith(".tmp"))
    }
    def drain(streamDf: org.apache.spark.sql.DataFrame, tag: String): Long = {
      val out = work.resolve(s"$tag-out").toString
      val cp = work.resolve(s"$tag-cp").toString
      val q = streamDf.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      assert(batches(cp) >= 3,
        s"$tag: expected the 3-file snapshot split into >=3 batches, got ${batches(cp)}")
      spark.read.parquet(out).count()
    }
    // catalog face
    assert(drain(spark.readStream.option("maxFilesPerTrigger", "1")
      .table("gwtest.cda.rated"), "v2") == 15)
    // path face
    assert(drain(spark.readStream.format("gwdelta")
      .option("maxFilesPerTrigger", "1").load(loc), "path") == 15)
    // startingVersion on the V2 face skips the snapshot (v1..v2 = 10 rows);
    // one batch, so bypass the >=3-batch drain helper
    val out2 = work.resolve("v2-startv-out").toString
    val q2 = spark.readStream.option("startingVersion", "1")
      .table("gwtest.cda.rated")
      .writeStream.format("parquet").option("path", out2)
      .option("checkpointLocation", work.resolve("v2-startv-cp").toString)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(spark.read.parquet(out2).count() == 10,
      "V2 startingVersion=1 must serve exactly versions 1..2")
  }

  test("a stream never builds the batch scan it is planned from") {
    import org.apache.spark.sql.streaming.Trigger
    val loc = Files.createTempDirectory("gwtest-lazy").resolve("t").toString
    graft.streaming.GwSink.append(spark.read.parquet(s"$sf/region.parquet").coalesce(1), loc)
    val q = spark.readStream.format("gwdelta").load(loc).writeStream.format("noop")
      .option("checkpointLocation", Files.createTempDirectory("gwtest-lazy-cp").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val scans = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan.collect {
        case m: org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec => m.scan
      }
    assert(scans.nonEmpty, "the stream ran a micro-batch scan")
    scans.foreach {
      case g: org.apache.spark.sql.graftbridge.GwDeltaScan =>
        assert(!g.innerBuilt, "the stream built the pruning batch scan")
      case other => fail(s"unexpected stream scan $other")
    }
  }

  test("GwSink: streams do not collide on batch ids; schema drift rejected") {
    val path = Files.createTempDirectory("gwsink-multi").resolve("t").toString
    val region = spark.read.parquet(s"$sf/region.parquet")
    assert(graft.streaming.GwSink.append(region, path, Some("s1/0")) == 0L)
    assert(graft.streaming.GwSink.append(region, path, Some("s2/0")) == 1L,
      "a different stream's batch 0 is fresh data, not a replay")
    assert(graft.streaming.GwSink.append(region, path, Some("s1/0")) == 0L,
      "s1's replay is still detected past s2's commit")
    val drifted = region.withColumnRenamed("r_name", "renamed")
    val e = intercept[IllegalArgumentException] {
      graft.streaming.GwSink.append(drifted, path)
    }
    assert(e.getMessage.contains("schema"), e.getMessage)
    // nullability alone is not drift
    assert(graft.streaming.GwSink.append(region, path, Some("s1/1")) == 2L)
  }

  test("streaming CDF equals batch rowChanges; rewrite commits stop the stream") {
    val root = Files.createTempDirectory("gwdelta-cdf")
    val loc = root.resolve("t").toString
    val region = spark.read.parquet(s"$sf/region.parquet")
    region.write.format("gwdelta").mode("append").save(loc) // v0
    region.write.format("gwdelta").mode("append").save(loc) // v1
    val table = GwTable.forPath(spark, loc)
    assert(table.delete(col("r_regionkey") >= 3) == 2L) // partial: rewrite? no —
    // r_regionkey 3..4 spans both files partially -> copy-on-write rewrite
    // at v2 (adds + removes in one commit): the CDF stream must STOP there
    def drain(): org.apache.spark.sql.DataFrame = {
      val name = s"cdf_spec_${System.nanoTime()}"
      val q = spark.readStream.format("gwdelta")
        .option("readChangeFeed", "true").load(loc)
        .writeStream.format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(name)
    }
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException](drain())
    assert(err.getMessage.contains("rowChanges") ||
      Option(err.getCause).exists(_.getMessage.contains("rowChanges")),
      s"rewrite commit must point at the batch API: ${err.getMessage}")

    // append-only + full-file-delete history streams cleanly and equals
    // the batch change feed exactly
    val loc2 = root.resolve("t2").toString
    region.write.format("gwdelta").mode("append").save(loc2) // v0
    region.write.format("gwdelta").mode("append").save(loc2) // v1
    val t2 = GwTable.forPath(spark, loc2)
    assert(t2.delete(col("r_regionkey") >= 0) == 2L) // metadata-only drop
    val streamed = drainAt(loc2)
    // batch rowChanges starts AFTER a version; compare the common range
    // (v1..v2) and pin v0's bootstrap inserts separately
    val batch = t2.rowChanges(0L)
    val key = (df: org.apache.spark.sql.DataFrame) => df
      .select("r_regionkey", "r_name", "_change_type", "_commit_version")
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(key(streamed.filter(col("_commit_version") > 0))
      .sameElements(key(batch)),
      "drained CDF stream must equal batch rowChanges over (0, latest]")
    assert(streamed.filter(col("_commit_version") === 0 &&
      col("_change_type") === "insert").count() == region.count(),
      "the bootstrap commit must stream as inserts")
  }

  private def drainAt(loc: String, opts: Map[String, String] = Map.empty)
      : org.apache.spark.sql.DataFrame = {
    val name = s"cdf_spec_${System.nanoTime()}"
    val q = opts.foldLeft(spark.readStream.format("gwdelta")
        .option("readChangeFeed", "true")) { case (r, (k, v)) => r.option(k, v) }
      .load(loc)
      .writeStream.format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  test("startingVersion skips the initial snapshot on both stream faces") {
    val root = Files.createTempDirectory("gwdelta-startv")
    val loc = root.resolve("t").toString
    val region = spark.read.parquet(s"$sf/region.parquet")
    region.write.format("gwdelta").mode("append").save(loc) // v0
    region.write.format("gwdelta").mode("append").save(loc) // v1
    val n = region.count()
    def drainPlain(opts: Map[String, String]): Long = {
      val name = s"startv_${System.nanoTime()}"
      val q = opts.foldLeft(spark.readStream.format("gwdelta")) {
          case (r, (k, v)) => r.option(k, v)
        }.load(loc)
        .writeStream.format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(name).count()
    }
    assert(drainPlain(Map.empty) == 2 * n, "default = full initial snapshot")
    assert(drainPlain(Map("startingVersion" -> "1")) == n,
      "startingVersion=1 must serve only v1's commit, no snapshot")
    // CDF face: start at the delete commit only
    val t = GwTable.forPath(spark, loc)
    assert(t.delete(col("r_regionkey") >= 0) == 2L)
    val cdfTail = drainAt(loc, Map("startingVersion" -> "2"))
    assert(cdfTail.count() == 2 * n &&
      cdfTail.filter(col("_change_type") === "delete").count() == 2 * n,
      "CDF with startingVersion=2 must emit exactly the delete commit")
  }

  test("GwSink: replay detection survives past the dedup walk window via txn marks") {
    val path = Files.createTempDirectory("gwsink-txn").resolve("t").toString
    val region = spark.read.parquet(s"$sf/region.parquet")
    assert(graft.streaming.GwSink.append(region, path, Some("s1/0")) == 0L)
    // push s1's commit far beyond the 64-version walk window with commits
    // from OTHER streams (no same-stream prefix to early-stop the walk)
    for (i <- 0 until 70)
      graft.streaming.GwSink.append(region.limit(1), path, Some(s"other$i/0"))
    val before = spark.read.format("gwdelta").load(path).count()
    // the crash replay of batch 0 must still be detected — the snapshot's
    // txn high-water mark says s1 >= 0 even though the walk can't see it
    val v = graft.streaming.GwSink.append(region, path, Some("s1/0"))
    assert(v == -1L, s"replay must not commit (got version $v)")
    assert(spark.read.format("gwdelta").load(path).count() == before,
      "replayed batch must not duplicate rows")
    // fresh batches still flow
    assert(graft.streaming.GwSink.append(region, path, Some("s1/1")) > 0L)
  }

  test("txnAppId/txnVersion writer options: validation and monotonic no-ops") {
    val path = Files.createTempDirectory("gwdelta-txn").resolve("t").toString
    val region = spark.read.parquet(s"$sf/region.parquet")
    def tagged(v: String): Unit = region.write.format("gwdelta").mode("append")
      .option("txnAppId", "job").option("txnVersion", v).save(path)
    tagged("5")
    val n = spark.read.format("gwdelta").load(path).count()
    tagged("5"); tagged("3") // replay + below-mark: both no-ops
    assert(spark.read.format("gwdelta").load(path).count() == n)
    tagged("6")
    assert(spark.read.format("gwdelta").load(path).count() == 2 * n)
    // option pair must be complete, version numeric, appId slash-free
    def fails(body: => Unit): String =
      intercept[Exception](body).getMessage
    assert(fails(region.write.format("gwdelta").mode("append")
      .option("txnAppId", "job").save(path)).contains("set together"))
    assert(fails(region.write.format("gwdelta").mode("append")
      .option("txnAppId", "job").option("txnVersion", "x").save(path))
      .contains("txnVersion"))
    assert(fails(region.write.format("gwdelta").mode("append")
      .option("txnAppId", "a/b").option("txnVersion", "1").save(path))
      .contains("txnAppId"))
  }

  test("userMetadata rides the commit, surfaces in history, stays golden when absent") {
    val dir = java.nio.file.Files.createTempDirectory("usermeta")
      .resolve("t").toString
    val region = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    region.write.format("gwdelta").mode("append")
      .option("userMetadata", "backfill #42").save(dir)
    region.write.format("gwdelta").mode("overwrite")
      .option("userMetadata", "quarterly reload").save(dir)
    region.write.format("gwdelta").mode("append").save(dir) // no audit string
    val h = GwTable.forPath(spark, dir).history.collect()
      .map(r => r.getLong(0) -> r.getString(7)).toMap
    assert(h(0L) == "backfill #42" && h(1L) == "quarterly reload")
    assert(h(2L) == null)
    // the plain commit's JSON must not even carry the key (golden parity)
    val v2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_delta_log", f"${2L}%020d.json")))
    assert(!v2.contains("userMetadata"), v2)
    // round trip through the action codec
    val ci = graft.log.Actions.fromJson(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_delta_log", f"${0L}%020d.json")))
      .linesIterator.toSeq.last)
    assert(ci.exists {
      case c: graft.log.CommitInfo => c.userMetadata.contains("backfill #42")
      case _ => false
    })
    // SQL surface: DESCRIBE HISTORY exposes the column
    val sqlH = spark.sql(s"DESCRIBE HISTORY '$dir'").collect()
      .map(r => r.getLong(0) -> r.getString(7)).toMap
    assert(sqlH(1L) == "quarterly reload" && sqlH(2L) == null)
  }

  test("CONVERT refuses hive-partitioned layouts and empty directories") {
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempDirectory("convert")
    val hive = tmp.resolve("hive").toString
    spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .write.partitionBy("n_regionkey").parquet(hive)
    val e = intercept[IllegalArgumentException](GwTable.convert(spark, hive))
    assert(e.getMessage.contains("hive-partitioned"))
    val empty = tmp.resolve("empty")
    java.nio.file.Files.createDirectory(empty)
    val e2 = intercept[IllegalArgumentException](
      GwTable.convert(spark, empty.toString))
    assert(e2.getMessage.contains("no parquet files"))
  }
}
