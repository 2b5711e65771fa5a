package graft.sources

import graft.log.AddFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, MessageType, PrimitiveType, Type => PType}
import org.apache.parquet.schema.LogicalTypeAnnotation._
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.types._
import scala.annotation.tailrec
import scala.jdk.CollectionConverters._
import scala.util.Try

/**
 * Schema inference from parquet footers — no record materialization, no
 * Spark job, callable from executor tasks.
 *
 * Replaces the reference's parquet-avro sample-record pathway
 * (GuidewireUtils.scala:51-62 + ParquetStream + ParquetUtils.toSqlTypeHelper,
 * ~170 LoC) with a footer read:
 *  1. primary — the `org.apache.spark.sql.parquet.row.metadata` footer key
 *     (present in all CDA fixtures) parsed via `DataType.fromJson`;
 *  2. fallback — our own parquet MessageType -> StructType conversion,
 *     semantics mirroring ParquetUtils.scala:12-76 (widen, nullable unions
 *     are already resolved by parquet; decimal/date/timestamp honored).
 *
 * Probe order is smallest-file-first with recursive fallback over files,
 * preserving reference EDGE CASE#2 handling (GuidewireUtils.scala:33-49,
 * Guidewire.scala:157-161): CDA emits record-less files, but footers exist
 * even for 0-row files, so the first (smallest) file usually suffices.
 */
object SchemaProbe {
  val SparkRowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Schema of one parquet file, from its footer only. */
  def readSchema(conf: Configuration, file: String): Option[StructType] = Try {
    val in = HadoopInputFile.fromPath(new Path(file), conf)
    val reader = ParquetFileReader.open(in)
    try {
      val fmd = reader.getFooter.getFileMetaData
      val kv = fmd.getKeyValueMetaData
      Option(kv.get(SparkRowMetadataKey))
        .flatMap(json => Try(DataType.fromJson(json).asInstanceOf[StructType]).toOption)
        .getOrElse(fromParquet(fmd.getSchema))
    } finally reader.close()
  }.toOption

  /**
   * Delta-style per-file stats from the parquet footer:
   * `{"numRecords":N,"minValues":{..},"maxValues":{..},"nullCount":{..}}`
   * for top-level primitive columns, aggregated across row groups.
   *
   * DEVIATION from the reference, which always writes `stats = null`
   * (S3Access.scala:45): harvesting footer min/max at index time costs one
   * footer read per data file (executor-side, parallel per table) and buys
   * snapshot-level file skipping — without it every time-travel scan at
   * 100 TB must open every live file. Timestamp/decimal byte-encodings are
   * skipped rather than guessed; absent stats never exclude a file.
   */
  def readStats(conf: Configuration, file: String,
      statsCols: Option[Set[String]] = None): Option[String] = Try {
    val in = HadoopInputFile.fromPath(new Path(file), conf)
    val reader = ParquetFileReader.open(in)
    try {
      val footer = reader.getFooter
      val schema = footer.getFileMetaData.getSchema
      val blocks = footer.getBlocks.asScala.toSeq
      val numRecords = blocks.map(_.getRowCount).sum
      // candidate columns: top-level primitives with comparable stats
      final case class Agg(var min: Any, var max: Any, var nulls: Long, var ok: Boolean)
      val aggs = scala.collection.mutable.LinkedHashMap.empty[String, Agg]
      blocks.foreach { block =>
        block.getColumns.asScala.foreach { chunk =>
          val pathParts = chunk.getPath.toArray
          if (pathParts.length == 1) {
            val name = pathParts.head
            val st = chunk.getStatistics
            val agg = aggs.getOrElseUpdate(name, Agg(null, null, 0L, ok = true))
            if (st == null) agg.ok = false
            else {
              agg.nulls += math.max(st.getNumNulls, 0L)
              if (st.hasNonNullValue) {
                if (agg.min == null || comparable(st.genericGetMin, agg.min).exists(_ < 0))
                  agg.min = st.genericGetMin
                if (agg.max == null || comparable(st.genericGetMax, agg.max).exists(_ > 0))
                  agg.max = st.genericGetMax
              }
            }
          }
        }
      }
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.createObjectNode()
      root.put("numRecords", numRecords)
      // stats-encoding version: 2 = timestamp bounds normalized to micros.
      // Readers must NOT apply timestamp constraints to files without this
      // marker — v1 harvests stored raw millis, and comparing those against
      // micros literals would silently prune files that match.
      root.put("gwStatsV", 2)
      val minN = root.putObject("minValues")
      val maxN = root.putObject("maxValues")
      val nullN = root.putObject("nullCount")
      aggs.foreach { case (name, agg) =>
        // per-table stats-column control (graft.stats.columns /
        // graft.stats.numIndexedCols): undeclared columns get NO min/max/
        // nullCount — on a wide table the log would otherwise carry stats
        // JSON for every column of every file; numRecords always stays
        if (agg.ok && statsCols.forall(_.contains(name.toLowerCase))) {
          putStat(minN, name, agg.min, schema)
          putStat(maxN, name, agg.max, schema)
          nullN.put(name, agg.nulls)
        }
      }
      mapper.writeValueAsString(root)
    } finally reader.close()
  }.toOption

  /** Compare two footer stat values of the same runtime type, if ordered. */
  private def comparable(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: java.lang.Comparable[_], y) if x.getClass == y.getClass =>
      Try(x.asInstanceOf[java.lang.Comparable[Any]].compareTo(y)).toOption
    case _ => None
  }

  /** Columns whose raw footer values would MISLEAD pruning get no stats:
    * decimals store unscaled ints (12.34 at scale 2 is 1234 — comparing a
    * scaled predicate against it prunes files that match), and unsigned
    * ints surface as negative signed values. Absent stats = file kept. */
  private def statSafe(name: String, schema: MessageType): Boolean = Try {
    schema.getType(Seq(name): _*).asPrimitiveType().getLogicalTypeAnnotation match {
      case _: DecimalLogicalTypeAnnotation => false
      case i: IntLogicalTypeAnnotation => i.isSigned
      case _ => true
    }
  }.getOrElse(true)

  private def putStat(
      node: com.fasterxml.jackson.databind.node.ObjectNode,
      name: String, value: Any,
      schema: MessageType): Unit = if (statSafe(name, schema)) value match {
    case null => ()
    case b: java.lang.Boolean => node.put(name, b.booleanValue())
    case i: java.lang.Integer => node.put(name, i.intValue())
    case l: java.lang.Long =>
      // store timestamps in the encoding read-side literals use: MILLIS
      // normalize to micros (Catalyst TimestampType is always micros);
      // MICROS stay; NANOS stay raw — those columns read as LongType
      // (session nanosAsLong) so predicates are raw nanos too. A sentinel
      // millis value that overflows x1000 gets no stat (file always kept).
      val isMillis = Try {
        schema.getType(Seq(name): _*).asPrimitiveType().getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation =>
            t.getUnit == LogicalTypeAnnotation.TimeUnit.MILLIS
          case _ => false
        }
      }.getOrElse(false)
      if (!isMillis) node.put(name, l.longValue())
      else Try(Math.multiplyExact(l.longValue(), 1000L)).foreach(node.put(name, _))
    case f: java.lang.Float => node.put(name, f.floatValue())
    case d: java.lang.Double => node.put(name, d.doubleValue())
    case bin: org.apache.parquet.io.api.Binary =>
      val isString = Try {
        schema.getType(Seq(name): _*).asPrimitiveType().getLogicalTypeAnnotation
          .isInstanceOf[StringLogicalTypeAnnotation]
      }.getOrElse(false)
      if (isString) node.put(name, bin.toStringUsingUTF8)
    case _ => ()
  }

  /** Smallest-file-first recursive probe (S5 + S6). */
  def readSchemaFromFiles(conf: Configuration, files: Seq[AddFile]): Option[StructType] = {
    @tailrec
    def loop(remaining: List[AddFile]): Option[StructType] = remaining match {
      case Nil => None
      case head :: tail =>
        readSchema(conf, head.path) match {
          case some @ Some(_) => some
          case None => loop(tail)
        }
    }
    loop(files.sortBy(_.size).toList)
  }

  // ---- parquet MessageType -> Spark StructType (fallback path) ----

  def fromParquet(message: MessageType): StructType =
    StructType(message.getFields.asScala.toSeq.map(field))

  private def field(t: PType): StructField =
    StructField(t.getName, dataType(t), nullable = t.getRepetition != PType.Repetition.REQUIRED)

  private def dataType(t: PType): DataType =
    if (t.getRepetition == PType.Repetition.REPEATED) ArrayType(elementType(t), containsNull = false)
    else elementType(t)

  private def elementType(t: PType): DataType = t match {
    case p: PrimitiveType => primitive(p)
    case g: GroupType =>
      g.getLogicalTypeAnnotation match {
        case _: ListLogicalTypeAnnotation =>
          // Standard 3-level list: group (LIST) { repeated group list { <elem> } }
          val repeated = g.getFields.get(0).asGroupType()
          val elem = repeated.getFields.get(0)
          ArrayType(dataType(elem), containsNull = elem.getRepetition != PType.Repetition.REQUIRED)
        case _: MapLogicalTypeAnnotation =>
          val kv = g.getFields.get(0).asGroupType()
          val k = kv.getFields.get(0)
          val v = kv.getFields.get(1)
          MapType(dataType(k), dataType(v), valueContainsNull = v.getRepetition != PType.Repetition.REQUIRED)
        case _ =>
          StructType(g.getFields.asScala.toSeq.map(field))
      }
  }

  private def primitive(p: PrimitiveType): DataType = {
    val ann = p.getLogicalTypeAnnotation
    (p.getPrimitiveTypeName, ann) match {
      case (_, d: DecimalLogicalTypeAnnotation) => DecimalType(d.getPrecision, d.getScale)
      case (BOOLEAN, _) => BooleanType
      case (INT32, _: DateLogicalTypeAnnotation) => DateType
      case (INT32, i: IntLogicalTypeAnnotation) =>
        i.getBitWidth match {
          case 8 => ByteType
          case 16 => ShortType
          case _ => IntegerType
        }
      case (INT32, _) => IntegerType
      case (INT64, t: TimestampLogicalTypeAnnotation) =>
        // NANOS matches our session default spark.sql.legacy.parquet.nanosAsLong;
        // otherwise Spark's inferTimestampNTZ default: non-UTC-adjusted -> NTZ
        if (t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS) LongType
        else if (t.isAdjustedToUTC) TimestampType
        else TimestampNTZType
      case (INT64, _) => LongType
      case (INT96, _) => TimestampType
      case (FLOAT, _) => FloatType
      case (DOUBLE, _) => DoubleType
      case (BINARY, _: StringLogicalTypeAnnotation) => StringType
      case (BINARY, _: EnumLogicalTypeAnnotation) => StringType
      case (BINARY, _) => BinaryType
      case (FIXED_LEN_BYTE_ARRAY, _) => BinaryType
      case (other, _) => throw new IllegalArgumentException(s"Unsupported parquet type: $other")
    }
  }

  /** List an engine-written parquet output directory as commit-ready
    * AddFiles: hidden/underscore files skipped, zero-row part files
    * (footer `numRecords == 0`) dropped, footer stats harvested. The ONE
    * harvesting rule, shared by compaction and the streaming sink so the
    * two writers cannot diverge. */
  def harvestAddFiles(conf: Configuration, dir: Path, dataChange: Boolean): Seq[AddFile] =
    harvestPartitioned(conf, dir, dataChange, Nil)

  /** [[readStats]] of every file, in order, with the footer opens run
    * by a fixed small pool: at 100 TB a commit or an ingest window holds
    * hundreds of part files, and a serial harvest chains one round trip per
    * file. Results land by index, so callers' commit bytes never depend
    * on which footer finished first. */
  def readStatsAll(conf: Configuration, files: IndexedSeq[String],
      statsCols: Option[Set[String]] = None): IndexedSeq[Option[String]] =
    if (files.size <= 1) files.map(readStats(conf, _, statsCols))
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(16, files.size))
      try {
        val tasks = files.map { f =>
          new java.util.concurrent.Callable[Option[String]] {
            override def call(): Option[String] = readStats(conf, f, statsCols)
          }
        }
        pool.invokeAll(tasks.asJava).asScala.toIndexedSeq.map(_.get())
      } finally pool.shutdown()
    }

  /** Directory-name prefix under which partitioned writes stage their
    * hive-style layout: `__gwp_<col>=<escaped value>/part-*.parquet`. The
    * prefix keeps the layout column distinct from the REAL column, which
    * stays in the data files (an RLE-constant column costs ~nothing and
    * keeps every read path, schema check and footer stat identical to the
    * unpartitioned case — unlike Delta, no scan-side reconstruction). */
  val PartitionDirPrefix = "__gwp_"

  /** [[harvestAddFiles]], but also descending into `__gwp_<col>=<value>`
    * partition directories (depth = partitionColumns.length), recording the
    * decoded values as the AddFile's `partitionValues` — the Delta-protocol
    * field partition pruning reads back (Snapshot.filesForConstraints). */
  def harvestPartitioned(conf: Configuration, dir: Path, dataChange: Boolean,
      partitionColumns: Seq[String],
      statsCols: Option[Set[String]] = None): Seq[AddFile] =
      graft.log.LogMetrics.timed(
        graft.log.LogMetrics.harvestNanos, graft.log.LogMetrics.harvests) {
    val fs = dir.getFileSystem(conf)
    // two phases: a cheap sequential directory walk collecting candidates,
    // then the expensive per-file footer opens in one parallel harvest
    val listed = Vector.newBuilder[(org.apache.hadoop.fs.FileStatus, Map[String, String])]
    def walk(d: Path, values: Map[String, String]): Unit =
      fs.listStatus(d).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory && n.startsWith(PartitionDirPrefix) && n.contains("=")) {
          val (col, tok) = n.splitAt(n.indexOf('='))
          walk(st.getPath,
            values + (col.stripPrefix(PartitionDirPrefix) -> unescapePathToken(tok.tail)))
        } else if (st.isFile && !n.startsWith(".") && !n.startsWith("_") &&
            n.endsWith(".parquet") && st.getLen > 0) {
          listed += ((st, values))
        }
      }
    walk(dir, Map.empty)
    val cands = listed.result()
    val statsByIdx = readStatsAll(conf, cands.map(_._1.getPath.toString), statsCols)
    val files = cands.zip(statsByIdx).flatMap { case ((st, values), stats) =>
      // a zero-row part file is footer-only output: committing it would
      // only add a file-open cost to every future scan
      if (stats.exists(_.contains("\"numRecords\":0"))) None
      else Some(AddFile(
        path = st.getPath.toString,
        size = st.getLen,
        modificationTime = st.getModificationTime,
        dataChange = dataChange,
        partitionValues = values,
        stats = stats))
    }
    // every partition column the caller declared must be present on every
    // harvested file — a miss means the staged layout is malformed
    partitionColumns.foreach { c =>
      files.foreach(f => require(f.partitionValues.contains(c),
        s"partitioned write lost partition value for '$c': ${f.path}"))
    }
    files
  }

  /** Inverse of Spark's `escapePathName` (%xx escapes for chars illegal in
    * dir names). Malformed escapes pass through as-is (conservative). */
  private def unescapePathToken(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val hex = if (c == '%' && i + 2 < s.length) s.substring(i + 1, i + 3) else ""
      if (hex.length == 2 && hex.forall(h => Character.digit(h, 16) >= 0)) {
        sb.append(Integer.parseInt(hex, 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
