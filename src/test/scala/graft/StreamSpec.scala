package graft

import graft.streaming.StreamOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Streaming operators must equal their batch equivalents after an
 * AvailableNow drain — the same contract the driver's DuckDB oracle checks.
 * Also pins the production-shape properties the scaladocs claim: st01 runs
 * in Append mode (per-window emit-once, state dropped on finalize) and st03
 * keeps O(1) per-key state (no raw-timestamp accumulation).
 */
class StreamSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def batchEvents: DataFrame =
    spark.read.parquet(s"$dir/events.parquet")

  /** Batch copy of the events table with `ts` normalized to micros (`us`) —
    * same type-adaptive path the streaming ops use. */
  private def batchEventsUs: DataFrame = {
    val e = batchEvents
    e.withColumn("us", graft.functions.EventTime.micros(e))
  }

  private def assertSameRows(actual: DataFrame, expected: DataFrame): Unit = {
    val a = actual.collect().map(_.toSeq).sortBy(_.mkString("|"))
    val e = expected.collect().map(_.toSeq).sortBy(_.mkString("|"))
    val extra = a.diff(e)
    val missing = e.diff(a)
    assert(extra.isEmpty && missing.isEmpty,
      s"rows ${a.length} vs ${e.length}; " +
        s"extra=${extra.take(5).mkString("; ")} missing=${missing.take(5).mkString("; ")}")
  }

  test("st01 windowed counts equal batch answer (Append mode)") {
    val expected = batchEventsUs
      .withColumn("hour_bucket", expr("us div 3600000000"))
      .groupBy("hour_bucket", "event_type")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("value_c"))
    assertSameRows(
      StreamOps.st01WindowedCounts(spark, dir)
        .select("hour_bucket", "event_type", "n", "value_c"),
      expected)
  }

  test("st02 stateful sessions equal batch answer") {
    val expected = batchEvents
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        countDistinct("event_type").as("n_types"),
        sum(round(col("value") * 100).cast("long")).as("value_c"))
    assertSameRows(
      StreamOps.st02StatefulSessions(spark, dir)
        .select("user_id", "n_events", "n_types", "value_c"),
      expected)
  }

  test("st03 sessionization equals batch gap-sessionization") {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("us")
    val sessions = batchEventsUs
      .select(col("user_id"), col("us"))
      .withColumn("new_s",
        when(col("us") - lag("us", 1).over(byUser) > 1800000000L, 1)
          .when(lag("us", 1).over(byUser).isNull, 1).otherwise(0))
      .withColumn("sid", sum("new_s").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sid").agg(count(lit(1)).as("len"))
    val expected = sessions.groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), max("len").as("max_session_events"),
        sum("len").as("n_events"))
    assertSameRows(
      StreamOps.st03Sessionize(spark, dir)
        .select("user_id", "n_sessions", "max_session_events", "n_events"),
      expected)
  }

  test("st04 session_window equals batch gap-sessionization per session") {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("us")
    val expected = batchEventsUs
      .select(col("user_id"), col("us"),
        round(col("value") * 100).cast("long").as("vc"))
      .withColumn("new_s",
        when(col("us") - lag("us", 1).over(byUser) >= 1800000000L, 1)
          .when(lag("us", 1).over(byUser).isNull, 1).otherwise(0))
      .withColumn("sid", sum("new_s").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sid")
      .agg(min("us").as("session_start_us"), count(lit(1)).as("n_events"),
        sum("vc").as("value_c"))
      .select("user_id", "session_start_us", "n_events", "value_c")
    assertSameRows(
      StreamOps.st04SessionWindow(spark, dir)
        .select("user_id", "session_start_us", "n_events", "value_c"),
      expected)
  }

  test("streaming ops restore the caller's state-store provider conf") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(key)
    StreamOps.st02StatefulSessions(spark, dir).collect()
    assert(spark.conf.getOption(key) == before)
  }

  test("st08 sketch-state windowed distinct equals batch KMV exactly") {
    // KMV merge is order-independent AND idempotent, so streaming state
    // must produce the IDENTICAL estimate the one-shot batch aggregate does
    val expected = batchEventsUs
      .withColumn("win_bucket", expr("us div 14400000000"))
      .withColumn("__h", graft.functions.KmvDistinctAgg.hash60(col("user_id")))
      .groupBy("win_bucket", "event_type")
      .agg(graft.functions.KmvDistinctAgg(col("__h"), 64).as("nd_users_kmv"),
        count(lit(1)).as("n"))
    assertSameRows(StreamOps.st08StreamSketch(spark, dir), expected)
  }

  test("st11 transformWithState equals the batch top-3 per user") {
    val expected = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("value_c").desc, col("event_id"))
      batchEvents.filter(col("user_id") < 30)
        .select(col("user_id"),
          round(col("value") * 100).cast("long").as("value_c"), col("event_id"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select("user_id", "rank", "value_c", "event_id")
    }
    assertSameRows(StreamOps.st11TransformWithState(spark, dir), expected)
  }

  test("st10 streaming upsert equals the one-shot batch aggregate") {
    val expected = batchEvents
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_c"))
    assertSameRows(StreamOps.st10StreamUpsert(spark, dir), expected)
  }

  test("writeStream.format(gwdelta) commits one version per micro-batch and resumes") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("gwsink-v1")
    val tablePath = root.resolve("t").toString
    val cp = root.resolve("cp").toString
    val stage = Files.createTempDirectory("gwsink-v1-stage")
    val src = java.nio.file.Paths.get(s"$dir/region.parquet")
    StreamOps.stageLinks(src, stage, Seq("a.parquet", "b.parquet"))
    val schema = spark.read.parquet(src.toString).schema
    def drain(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage.toString)
        .writeStream
        .format("gwdelta")
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(tablePath)
      q.awaitTermination()
    }
    drain()
    val table = GwTable.forPath(spark, tablePath)
    assert(table.toDF.count() == 10, "two staged files, one commit each")
    assert(table.snapshot().version == 1L)
    // a crash after batch 1's log commit, before Spark's own commit marker:
    // the restart replays it through the V2 face (the log exists now),
    // which must recognise the V1 face's commit of the same batch
    Files.delete(java.nio.file.Paths.get(cp, "commits", "1"))
    Files.deleteIfExists(java.nio.file.Paths.get(cp, "commits", ".1.crc"))
    // restart from the checkpoint with one NEW file: exactly one more commit
    StreamOps.stageLinks(src, stage, Seq("c.parquet"))
    drain()
    assert(table.toDF.count() == 15, "only the new file's rows were appended")
    assert(table.snapshot().version == 2L, "no duplicate commits on resume")
  }

  test("writeStream.format(gwdelta) restarted into an existing file:/// table commits its rows") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("gwsink-uri")
    val tableUri = root.resolve("t").toUri.toString.replaceFirst("^file:/+", "file:///")
    val cp = root.resolve("cp").toString
    val stage = Files.createTempDirectory("gwsink-uri-stage")
    val src = Paths.get(s"$dir/region.parquet")
    val schema = spark.read.parquet(src.toString).schema
    def drain(): Unit = {
      val q = spark.readStream.schema(schema).parquet(stage.toString)
        .writeStream.format("gwdelta")
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(tableUri)
      q.awaitTermination()
    }
    StreamOps.stageLinks(src, stage, Seq("a.parquet"))
    drain() // no log yet: bootstraps through the V1 sink
    StreamOps.stageLinks(src, stage, Seq("b.parquet"))
    drain() // the restart writes through the existing table's V2 face
    val table = GwTable.forPath(spark, tableUri)
    assert(table.snapshot().version == 1L, "the restarted batch must commit")
    assert(table.toDF.count() == 10)
  }

  test("writeStream.toTable enforces declared CHECK constraints per micro-batch") {
    import java.nio.file.Files
    import spark.implicits._
    graft.operators.GwCore.ensureGwCatalog(spark)
    val ns = s"ns${System.nanoTime()}"
    spark.sql(s"CREATE NAMESPACE gw.$ns")
    val root = Files.createTempDirectory("gwstream-chk")
    val loc = root.resolve("t").toString
    // bootstrap + declare the constraint
    Seq((1L, 10L)).toDF("k", "v").write.format("gwdelta").save(loc)
    spark.sql(s"CREATE TABLE gw.$ns.t USING gwdelta LOCATION '$loc'")
    GwTable.forPath(spark, loc)
      .updateProperties(Map("graft.constraints.v_pos" -> "v >= 0"))
    val stage = root.resolve("stage").toString
    def drain(cpName: String): Unit = {
      val q = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("v",
            org.apache.spark.sql.types.LongType))))
        .parquet(stage)
        .writeStream
        .option("checkpointLocation", root.resolve(cpName).toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(s"gw.$ns.t")
      q.awaitTermination()
    }
    // a valid batch streams through
    Seq((2L, 20L)).toDF("k", "v").write.mode("append").parquet(stage)
    drain("cp1")
    assert(spark.table(s"gw.$ns.t").count() == 2)
    val v1 = GwTable.forPath(spark, loc).snapshot().version
    // a violating batch fails the stream with the NAMED constraint error
    // and commits nothing
    Seq((3L, -5L)).toDF("k", "v").write.mode("append").parquet(stage)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain("cp2")
    }
    def msgs(ex: Throwable): Seq[String] =
      Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(msgs(e).exists(_.contains("v_pos")),
      s"stream must fail with the named CHECK error: ${msgs(e).mkString(" | ")}")
    assert(GwTable.forPath(spark, loc).snapshot().version == v1,
      "a failed constraint micro-batch must commit nothing")
  }
}
