package graft.sources

import graft.log.GwLog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.util.{Map => JMap}

/**
 * DataSource V2 connector for the generated transaction log: the SQL-native
 * face of `GwTable` (the reference exposes the same capability through
 * Delta's connector — reference README.md:74-84).
 *
 * {{{
 *   spark.read.format("gwdelta").load(tablePath)                    // latest
 *   spark.read.format("gwdelta").option("versionAsOf", 2).load(p)   // time travel
 *   spark.read.format("gwdelta").option("timestampAsOf", ms).load(p)
 *   spark.readStream.format("gwdelta").load(tablePath)              // tail the log
 *   df.writeStream.format("gwdelta").start(tablePath)               // feed a table
 *
 *   CREATE TEMPORARY VIEW ph USING gwdelta
 *   OPTIONS (path '<table>', versionAsOf '2')
 * }}}
 *
 * The log replay resolves the snapshot's file set + schema (pure driver-side
 * metadata); the scan itself delegates to Spark's own parquet V2 table, so
 * column pruning, filter pushdown, vectorized reading, and AQE apply exactly
 * as they would on a plain parquet read. Batch reads additionally file-skip
 * with harvested footer stats; streaming reads (plain or `readChangeFeed`)
 * tail the log one version range per micro-batch through the same V2
 * stream as catalog tables (`GwMicroBatchStream`).
 *
 * Streaming WRITES keep a V1 face (`StreamSinkProvider`) for paths with no
 * transaction log yet: Spark hands `partitionBy` only to a V1 sink, so it is
 * the one face that can bootstrap a partitioned table from a stream. Once
 * the log exists, the table's V2 `GwStreamingWrite` takes over.
 */
class GwDeltaDataSource extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.sources.CreatableRelationProvider {

  override def shortName(): String = "gwdelta"

  override def supportsExternalMetadata(): Boolean = false

  // one provider instance serves one load(): inferSchema and getTable both
  // resolve the same snapshot, so replay the log once, not twice.
  // `None` = the path has no transaction log yet: legal as a writeStream
  // TARGET (the sink's first commit bootstraps it), capability-less for
  // reads (see `getTable`).
  @volatile private var cachedResolve: (String, Option[graft.log.Snapshot]) = _

  private def resolve(options: CaseInsensitiveStringMap): Option[graft.log.Snapshot] = {
    val key = options.asCaseSensitiveMap.toString
    val cached = cachedResolve
    if (cached != null && cached._1 == key) return cached._2
    val snap = doResolve(options)
    cachedResolve = (key, snap)
    snap
  }

  private def doResolve(options: CaseInsensitiveStringMap): Option[graft.log.Snapshot] = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("gwdelta requires a path"))
    val spark = SparkSession.active
    val log = GwLog.forTable(spark.sparkContext.hadoopConfiguration, path)
    val seg = log.segment()
    if (seg.versions.isEmpty) return None
    val versionAsOf = Option(options.get("versionAsOf")).map(_.toLong)
    val timestampAsOf = Option(options.get("timestampAsOf")).map(_.toLong)
    require(versionAsOf.isEmpty || timestampAsOf.isEmpty,
      "specify at most one of versionAsOf / timestampAsOf")
    val version = versionAsOf.orElse(timestampAsOf.map(log.versionAtTimestamp))
    Some(log.snapshotIn(seg, version))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    resolve(options).map(_.schema).getOrElse(new StructType())

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    resolve(options) match {
      case Some(snap) =>
        // GwDeltaTable file-skips with the log's harvested footer stats,
        // then delegates the scan to Spark's parquet V2 machinery; batch
        // writes (df.write.format("gwdelta").mode(...)) are allowed at the
        // LATEST snapshot only — a time-travel load is read-only
        val timeTravel = options.containsKey("versionAsOf") ||
          options.containsKey("timestampAsOf")
        new org.apache.spark.sql.graftbridge.GwDeltaTable(
          s"gwdelta:${options.get("path")}", SparkSession.active, options, snap,
          writable = !timeTravel)
      case None =>
        // no log yet: a capability-less table — readable by nothing, which
        // makes DataStreamWriter fall back to the V1 sink below (whose
        // first commit bootstraps the log); batch reads fail on the missing
        // read capability with the table name spelling out why
        new Table {
          override def name(): String =
            s"gwdelta:${options.get("path")} (no transaction log yet)"
          override def schema(): StructType = new StructType()
          override def capabilities(): java.util.Set[
            org.apache.spark.sql.connector.catalog.TableCapability] =
            java.util.Collections.emptySet()
        }
    }
  }

  // ---- batch write (df.write.format("gwdelta").mode(...).save(path)) ----

  /** `DataFrameWriter.save` routes plain TableProviders without a full V2
    * BatchWrite through the V1 `CreatableRelationProvider` hook — which is
    * all the engine needs: the parquet write is executor work and the
    * commit is one log append (`GwSink`), including the bootstrap of a
    * log-less path. Overwrite is a single atomic remove-all+add commit. */
  override def createRelation(
      sqlContext: org.apache.spark.sql.SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): org.apache.spark.sql.sources.BaseRelation = {
    require(!parameters.contains("versionAsOf") && !parameters.contains("timestampAsOf"),
      "writes target the LATEST snapshot; drop versionAsOf/timestampAsOf")
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("gwdelta requires a path"))
    val exists = graft.log.GwLog
      .forTable(sqlContext.sparkSession.sparkContext.hadoopConfiguration, path).exists()
    // df.write.partitionBy(...) arrives JSON-encoded in the options map
    val parts = org.apache.spark.sql.graftbridge.Bridge.partitioningColumns(parameters)
    // Delta-style idempotent writes: .option("txnAppId", app)
    // .option("txnVersion", n) — a (app, version) already recorded in the
    // log's txn high-water marks makes this write a silent no-op, the
    // foreachBatch exactly-once contract. Encoded as the sink's
    // "<app>/<version>" txnId so replay detection shares the streaming
    // path (SetTransaction action + bounded CommitInfo walk).
    val txnId = (parameters.get("txnAppId"), parameters.get("txnVersion")) match {
      case (Some(app), Some(v)) =>
        require(!app.contains("/"), s"txnAppId must not contain '/': $app")
        val ver = v.toLongOption.getOrElse(throw new IllegalArgumentException(
          s"txnVersion must be a long, got '$v'"))
        Some(s"$app/$ver")
      case (None, None) => None
      case _ => throw new IllegalArgumentException(
        "txnAppId and txnVersion must be set together")
    }
    // Delta-style auto schema evolution: .option("mergeSchema", "true")
    val mergeSchema = parameters.get("mergeSchema").exists(_.toBoolean)
    // Delta's commit audit string: .option("userMetadata", ...)
    val userMeta = parameters.get("userMetadata").filter(_.nonEmpty)
    mode match {
      case org.apache.spark.sql.SaveMode.Append =>
        graft.streaming.GwSink.append(data, path, txnId = txnId,
          partitionBy = parts, mergeSchema = mergeSchema,
          userMetadata = userMeta)
      case org.apache.spark.sql.SaveMode.Overwrite =>
        parameters.get("replaceWhere") match {
          case Some(pred) =>
            require(txnId.isEmpty && !mergeSchema,
              "replaceWhere does not combine with txnAppId/txnVersion or " +
                "mergeSchema")
            graft.GwTable.forPath(data.sparkSession, path)
              .replaceWhere(data, org.apache.spark.sql.functions.expr(pred))
          case None =>
            graft.streaming.GwSink.overwrite(data, path, parts, txnId = txnId,
              userMetadata = userMeta)
        }
      case org.apache.spark.sql.SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"gwdelta table already exists at $path (mode ErrorIfExists)")
        graft.streaming.GwSink.append(data, path, txnId = txnId, partitionBy = parts)
      case org.apache.spark.sql.SaveMode.Ignore =>
        if (!exists) {
          graft.streaming.GwSink.append(data, path, txnId = txnId, partitionBy = parts); ()
        }
    }
    val ctx = sqlContext
    new org.apache.spark.sql.sources.BaseRelation {
      override def sqlContext: org.apache.spark.sql.SQLContext = ctx
      override def schema: StructType = data.schema
    }
  }

  // ---- streaming sink for log-less targets (see the class doc) ----

  override def createSink(
      sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode):
      org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"gwdelta sink writes append-only commits; got $outputMode " +
        "(complete/update would need remove+rewrite semantics per batch)")
    new org.apache.spark.sql.graftbridge.GwDeltaStreamSink(
      parameters.getOrElse("path",
        throw new IllegalArgumentException("gwdelta requires a path")),
      partitionColumns)
  }
}
