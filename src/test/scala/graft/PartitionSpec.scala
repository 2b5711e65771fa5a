package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Partitioned gwdelta tables: hive-style layout with the partition column
  * KEPT in the data files, partitionValues in the log, partition pruning
  * ahead of stats pruning, layout re-derivation on later appends. */
class PartitionSpec extends AnyFunSuite {
  private val spark = SparkSpec.session
  private val sf = "/root/testdata/sf0.001"

  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        ScanPeel.peel(b.scan) match {
          case m: org.apache.spark.sql.graftbridge.GwMorScan => m.inputFiles.length
          case p => p
            .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan]
            .fileIndex.inputFiles.length
        }
    }.head

  test("partitionBy write: values logged, columns retained, pruning exact") {
    val loc = Files.createTempDirectory("part-spec").resolve("nation").toString
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    nation.write.format("gwdelta").partitionBy("n_regionkey").save(loc)

    val snap = GwTable.forPath(spark, loc).snapshot()
    assert(snap.metadata.exists(_.partitionColumns == Seq("n_regionkey")))
    assert(snap.files.nonEmpty)
    assert(snap.files.forall(_.partitionValues.contains("n_regionkey")))

    // DESCRIBE DETAIL surfaces the layout: columns + live partition count
    val detail = spark.sql(s"DESCRIBE DETAIL '$loc'").collect().head
    assert(detail.getString(5) == "n_regionkey")
    assert(detail.getLong(6) ==
      nation.select("n_regionkey").distinct().count(),
      s"numPartitions must count distinct live partition values: $detail")

    val back = spark.read.format("gwdelta").load(loc)
    // the partition column is REAL data (not reconstructed): full fidelity
    assert(back.columns.sorted.sameElements(nation.columns.sorted))
    assert(back.count() == nation.count())
    assert(back.filter(col("n_regionkey") === 2).count() ==
      nation.filter(col("n_regionkey") === 2).count())

    // partition predicate plans exactly that partition's files
    val expected = snap.files.count(_.partitionValues.get("n_regionkey").contains("2"))
    val planned = plannedFiles(back.filter(col("n_regionkey") === 2))
    assert(planned == expected && planned < snap.files.size,
      s"planned=$planned expected=$expected total=${snap.files.size}")
  }

  test("append without partitionBy re-derives the logged layout; mismatch rejected") {
    val loc = Files.createTempDirectory("part-spec2").resolve("nation").toString
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    nation.write.format("gwdelta").partitionBy("n_regionkey").save(loc)
    // plain append: no partitionBy, layout comes from the log
    nation.write.format("gwdelta").mode("append").save(loc)
    val snap = GwTable.forPath(spark, loc).snapshot()
    assert(snap.files.forall(_.partitionValues.contains("n_regionkey")),
      "appended files must stay partition-addressed")
    // a DIFFERENT explicit layout is refused
    val err = intercept[Exception] {
      nation.write.format("gwdelta").mode("append").partitionBy("n_name").save(loc)
    }
    assert(err.getMessage.contains("partitionColumns"))
  }

  test("string partition values round-trip escaping; DML rewrite stays conservative") {
    val loc = Files.createTempDirectory("part-spec3").resolve("t").toString
    import spark.implicits._
    val df = Seq((1L, "a/b c"), (2L, "plain"), (3L, "a/b c")).toDF("id", "grp")
    df.write.format("gwdelta").partitionBy("grp").save(loc)
    val snap = GwTable.forPath(spark, loc).snapshot()
    val vals = snap.files.flatMap(_.partitionValues.get("grp")).distinct.sorted
    assert(vals == Seq("a/b c", "plain"), s"escaped round-trip broke: $vals")
    val back = spark.read.format("gwdelta").load(loc)
    assert(back.filter(col("grp") === "a/b c").count() == 2)
    assert(plannedFiles(back.filter(col("grp") === "plain")) <
      snap.files.size)
    // copy-on-write DELETE rewrites lose partitionValues -> files are KEPT
    // by partition pruning (conservative), and results stay correct because
    // the column itself is in the data
    val t = GwTable.forPath(spark, loc)
    t.delete(col("id") === 1L)
    val after = spark.read.format("gwdelta").load(loc)
    assert(after.count() == 2)
    assert(after.filter(col("grp") === "a/b c").count() == 1)
  }

  test("streaming sink appends stay partition-addressed (layout from the log)") {
    val loc = Files.createTempDirectory("part-stream").resolve("nation").toString
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    nation.write.format("gwdelta").partitionBy("n_regionkey").save(loc)
    val stage = Files.createTempDirectory("part-stream-src")
    graft.streaming.StreamOps.stageLinks(
      java.nio.file.Paths.get(s"$sf/nation.parquet"), stage, Seq("a.parquet"))
    val q = spark.readStream.schema(nation.schema).parquet(stage.toString)
      .writeStream.format("gwdelta")
      .option("checkpointLocation",
        Files.createTempDirectory("part-stream-cp").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(loc)
    q.awaitTermination()
    val snap = GwTable.forPath(spark, loc).snapshot()
    assert(snap.files.forall(_.partitionValues.contains("n_regionkey")),
      "the streaming batch must re-derive the partitioned layout")
    assert(spark.read.format("gwdelta").load(loc).count() == 50)
    // a log-less target takes its layout from writeStream.partitionBy, which
    // Spark hands only to a V1 sink — the reason that face stays
    val fresh = Files.createTempDirectory("part-stream-boot").resolve("nation").toString
    spark.readStream.schema(nation.schema).parquet(stage.toString)
      .writeStream.format("gwdelta").partitionBy("n_regionkey")
      .option("checkpointLocation",
        Files.createTempDirectory("part-stream-boot-cp").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(fresh).awaitTermination()
    val boot = GwTable.forPath(spark, fresh).snapshot()
    assert(boot.metadata.map(_.partitionColumns).contains(Seq("n_regionkey")))
    assert(boot.files.forall(_.partitionValues.contains("n_regionkey")))
  }

  test("SQL DELETE takes the merge-on-read path under spark.graft.mergeOnRead") {
    val loc = Files.createTempDirectory("sql-mor").resolve("nation").toString
    spark.read.parquet(s"$sf/nation.parquet").coalesce(1)
      .write.format("gwdelta").save(loc)
    val t = GwTable.forPath(spark, loc)
    val before = t.snapshot().files.map(_.path).toSet
    operators.GwCore.ensureGwCatalog(spark)
    val ns = s"mor${System.nanoTime()}"
    spark.sql(s"CREATE NAMESPACE gw.$ns")
    spark.sql(s"CREATE TABLE gw.$ns.nation USING gwdelta LOCATION '$loc'")
    spark.conf.set("spark.graft.mergeOnRead", "true")
    try spark.sql(s"DELETE FROM gw.$ns.nation WHERE n_nationkey < 5")
    finally spark.conf.unset("spark.graft.mergeOnRead")
    val snap = t.snapshot()
    assert(snap.files.map(_.path).toSet == before,
      "SQL DELETE under the conf must re-assert, not rewrite")
    assert(snap.files.exists(_.dv.exists(_.cardinality == 5)))
    assert(spark.table(s"gw.$ns.nation").count() == 20)
  }

  test("merge-on-read delete on a partitioned table keeps values and pruning") {
    val loc = Files.createTempDirectory("part-dv").resolve("nation").toString
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    nation.write.format("gwdelta").partitionBy("n_regionkey").save(loc)
    val t = GwTable.forPath(spark, loc)
    assert(t.delete(col("n_nationkey") % 2 === 0, mergeOnRead = true) > 0)
    val snap = t.snapshot()
    // the DV re-assertion copies the AddFile, so partitionValues survive
    assert(snap.files.forall(_.partitionValues.contains("n_regionkey")))
    assert(snap.files.exists(_.dv.isDefined))
    val back = spark.read.format("gwdelta").load(loc)
    assert(back.count() == nation.filter(col("n_nationkey") % 2 =!= 0).count())
    // a partition predicate still prunes to that partition's files, and the
    // MOR scan reconciles inside them
    val expected = snap.files.count(_.partitionValues.get("n_regionkey").contains("2"))
    val pruned = back.filter(col("n_regionkey") === 2)
    assert(plannedFiles(pruned) == expected)
    assert(pruned.count() ==
      nation.filter(col("n_regionkey") === 2 && col("n_nationkey") % 2 =!= 0).count())
  }

  test("delta MOR SQL UPDATE on a partitioned table: values survive, rows correct") {
    graft.operators.GwCore.ensureGwCatalog(spark)
    val loc = Files.createTempDirectory("part-delta").resolve("nation").toString
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    nation.write.format("gwdelta").partitionBy("n_regionkey").save(loc)
    val ns = s"pd${System.nanoTime()}"
    spark.sql(s"CREATE NAMESPACE gw.$ns")
    spark.sql(s"CREATE TABLE gw.$ns.nation USING gwdelta LOCATION '$loc'")
    val before = GwTable.forPath(spark, loc).snapshot().files.map(_.path).toSet
    spark.conf.set("spark.graft.mergeOnRead", "true")
    try spark.sql(s"UPDATE gw.$ns.nation SET n_name = concat('X_', n_name) " +
      "WHERE n_nationkey % 2 = 0")
    finally spark.conf.unset("spark.graft.mergeOnRead")
    val snap = GwTable.forPath(spark, loc).snapshot()
    // originals re-asserted with their partitionValues; updated rows in
    // fresh _dml files (flat — pruning stays conservative for them)
    assert(before.forall(p => snap.files.exists(_.path == p)))
    assert(snap.files.filter(f => before(f.path))
      .forall(_.partitionValues.contains("n_regionkey")))
    assert(snap.files.exists(f => f.dv.isEmpty && f.path.contains("/_dml/")))
    val back = spark.table(s"gw.$ns.nation")
    assert(back.count() == nation.count())
    assert(back.filter(col("n_nationkey") % 2 === 0 &&
      !col("n_name").startsWith("X_")).count() == 0)
    assert(back.filter(col("n_nationkey") % 2 =!= 0 &&
      col("n_name").startsWith("X_")).count() == 0)
    // partition predicate still prunes originals; updated rows still found
    assert(back.filter(col("n_regionkey") === 2).count() ==
      nation.filter(col("n_regionkey") === 2).count())
  }

  test("OPTIMIZE on a partitioned table: per-partition rewrite, WHERE-filtered") {
    graft.operators.GwCore.ensureGwCatalog(spark)
    val loc = Files.createTempDirectory("part-opt").resolve("nation").toString
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    // 3 small commits -> 3 files per live partition value
    for (_ <- 0 until 3)
      nation.write.format("gwdelta").mode("append")
        .partitionBy("n_regionkey").save(loc)
    val ns = s"popt${System.nanoTime()}"
    spark.sql(s"CREATE NAMESPACE gw.$ns")
    spark.sql(s"CREATE TABLE gw.$ns.nation USING gwdelta LOCATION '$loc'")
    val t = GwTable.forPath(spark, loc)
    val before = t.snapshot().files
    val beforeR2 = before.filter(_.partitionValues.get("n_regionkey").contains("2"))
    assert(beforeR2.size == 3)

    // WHERE-filtered OPTIMIZE rewrites ONLY the matching partition
    val opt = spark.sql(
      s"OPTIMIZE gw.$ns.nation WHERE n_regionkey = 2").collect()
    assert(opt.length == 1 && opt.head.getLong(1) > 0, "OPTIMIZE must commit")
    val mid = t.snapshot().files
    assert(mid.count(_.partitionValues.get("n_regionkey").contains("2")) == 1,
      "region 2 must compact to one file")
    assert(mid.filterNot(_.partitionValues.get("n_regionkey").contains("2"))
      .toSet == before.filterNot(_.partitionValues.get("n_regionkey").contains("2"))
      .toSet, "other partitions must be untouched")
    // the rewrite re-asserts partitionValues: pruning keeps working
    assert(mid.forall(_.partitionValues.contains("n_regionkey")))
    val back = spark.table(s"gw.$ns.nation")
    assert(plannedFiles(back.filter(col("n_regionkey") === 2)) == 1)
    assert(back.count() == 3 * nation.count())

    // unfiltered OPTIMIZE folds the remaining partitions, values intact
    assert(t.compact(targetFileBytes = 128L * 1024 * 1024) > 0)
    val after = t.snapshot().files
    assert(after.forall(_.partitionValues.contains("n_regionkey")),
      "compaction must preserve partition addressing")
    assert(after.size == nation.select("n_regionkey").distinct().count(),
      "one compacted file per partition value")
    assert(spark.table(s"gw.$ns.nation").count() == 3 * nation.count())

    // guardrails: non-partition column / unpartitioned table
    val err1 = intercept[Exception](spark.sql(
      s"OPTIMIZE gw.$ns.nation WHERE n_name = 'KENYA'"))
    assert(err1.getMessage.contains("partition columns only"), err1.getMessage)
    val flatLoc = Files.createTempDirectory("part-opt-flat").resolve("t").toString
    nation.write.format("gwdelta").save(flatLoc)
    val err2 = intercept[Exception](spark.sql(
      s"OPTIMIZE '$flatLoc' WHERE n_regionkey = 2"))
    assert(err2.getMessage.contains("unpartitioned"), err2.getMessage)
  }
}
