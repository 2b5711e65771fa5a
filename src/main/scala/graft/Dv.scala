package graft

import graft.log.{AddFile, DvDescriptor, RoaringBitmapArray, Snapshot}
import java.util.zip.CRC32
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.graftbridge.GwFileIndex

/**
 * Merge-on-read deletion-vector plumbing (see [[graft.log.DvDescriptor]]).
 *
 * A deletion vector is a roaring bitmap of a data file's deleted row
 * POSITIONS ([[RoaringBitmapArray]]): small bitmaps ride INLINE in the log
 * action (Z85 text), larger ones are framed into one binary sidecar per
 * commit under `<table>/_dv/` (version byte, then per DV:
 * [4-byte size][bitmap][4-byte CRC-32], each descriptor holding its
 * offset). Positions are `_metadata.row_index` — the PHYSICAL row index in
 * the file (stable under row-group skipping), the same identity Delta's
 * deletion vectors use.
 *
 * Scale posture: the driver only ever holds DESCRIPTORS (path + offset +
 * size + cardinality, O(DV'd files)); the positions themselves are decoded
 * by whichever TASK reads the file, so planning cost and driver memory are
 * independent of how many rows are deleted. A sidecar's size is
 * proportional to the rows deleted by its commit, not the table; heavily
 * deleted files should be folded by `compact()` (which reads live rows and
 * drops the DV) — the library keeps copy-on-write as the default for
 * exactly this reason.
 */
object Dv {

  /** Bitmaps at or under this serialized size are stored inline in the log
    * action instead of the sidecar (a few hundred positions in array
    * containers) — one less file open per scan task for small DVs. */
  val InlineMaxBytes: Int = 512

  /** `_metadata.file_path` renders paths URL-ENCODED; the log stores raw
    * Hadoop strings. One mapping row per form, so joins hit either. */
  def pathMapping(spark: SparkSession, files: Seq[AddFile]): DataFrame = {
    import spark.implicits._
    files.flatMap { f =>
      val enc = new Path(f.path).toUri.toString
      Seq((f.path, f.path), (f.path, enc)).distinct
    }.toDF("dv_path", "enc_path")
  }

  /** Decode a descriptor's deleted positions (sorted ascending). Runs
    * wherever the caller is — in scan tasks this is executor-side, so the
    * driver never materializes positions. */
  def readPositions(conf: Configuration, d: DvDescriptor): Array[Long] = d.storageType match {
    case "i" =>
      RoaringBitmapArray.deserialize(
        RoaringBitmapArray.z85Decode(d.pathOrInlineDv, d.sizeInBytes))
    case "p" =>
      val p = new Path(d.pathOrInlineDv)
      val in = p.getFileSystem(conf).open(p)
      try {
        in.seek(d.offset.getOrElse(0).toLong)
        val len = in.readInt()
        require(len == d.sizeInBytes,
          s"DV at $p offset ${d.offset} frames $len bytes; descriptor says ${d.sizeInBytes}")
        val data = new Array[Byte](len)
        in.readFully(data)
        val stored = in.readInt()
        val crc = new CRC32()
        crc.update(data)
        require(crc.getValue.toInt == stored, s"DV checksum mismatch at $p offset ${d.offset}")
        RoaringBitmapArray.deserialize(data)
      } finally in.close()
    case other =>
      throw new IllegalArgumentException(s"unknown deletionVector storageType '$other'")
  }

  /** Persist one commit's deletion vectors. Input: (data-file path,
    * serialized bitmap, cardinality) per DV'd file. Small bitmaps become
    * inline descriptors; the rest are concatenated into ONE sidecar file —
    * version byte 1, then per DV `[4-byte BE size][bitmap][4-byte BE
    * CRC-32]` with each descriptor recording its offset. Returns
    * descriptors keyed by `GwTable.uriKey(data-file path)`. */
  def writeDvs(conf: Configuration, tablePath: String,
      perFile: Seq[(String, Array[Byte], Long)]): Map[String, DvDescriptor] = {
    val (small, large) = perFile.partition(_._2.length <= InlineMaxBytes)
    val inline = small.map { case (p, bytes, card) =>
      GwTable.uriKey(p) -> DvDescriptor(
        "i", RoaringBitmapArray.z85Encode(bytes), None, bytes.length, card)
    }.toMap
    val onDisk =
      if (large.isEmpty) Map.empty[String, DvDescriptor]
      else {
        val unqualified = new Path(tablePath, s"_dv/${java.util.UUID.randomUUID()}.bin")
        val fs = unqualified.getFileSystem(conf)
        // store the QUALIFIED path: vacuum compares descriptors against
        // fs.listFiles output, which is always fully qualified
        val target = fs.makeQualified(unqualified)
        fs.mkdirs(target.getParent)
        val out = fs.create(target, false)
        val descs = Map.newBuilder[String, DvDescriptor]
        try {
          out.write(1) // sidecar format version
          var offset = 1L
          large.foreach { case (p, bytes, card) =>
            require(offset <= Int.MaxValue.toLong - bytes.length - 8,
              s"DV sidecar exceeds 2 GiB at $target — split the operation")
            descs += GwTable.uriKey(p) -> DvDescriptor(
              "p", target.toString, Some(offset.toInt), bytes.length, card)
            out.writeInt(bytes.length)
            out.write(bytes)
            val crc = new CRC32()
            crc.update(bytes)
            out.writeInt(crc.getValue.toInt)
            offset += 4L + bytes.length + 4L
          }
        } finally out.close()
        descs.result()
      }
    inline ++ onDisk
  }

  /** Distributed [[writeDvs]]: each non-empty partition of `perFile`
    * frames its bitmaps into its OWN sidecar under `<table>/_dv/` (same
    * per-DV `[size][bitmap][CRC-32]` layout, one file per task instead of
    * one per commit) and ships back DESCRIPTORS only — so the driver's
    * memory stays O(DV'd files), never O(deleted rows / 8), which is what
    * a DELETE touching a million files of a 100 TB table needs. Small
    * bitmaps still become inline descriptors (no file open per scan task).
    * A retried/speculated task leaves an unreferenced sidecar behind;
    * vacuum's debris sweep owns `_dv/` and reaps exactly those. */
  def writeDvsDistributed(spark: SparkSession, tablePath: String,
      perFile: org.apache.spark.sql.Dataset[(String, Array[Byte], Long)]): Map[String, DvDescriptor] = {
    import spark.implicits._
    val conf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val tp = tablePath
    perFile.mapPartitions { iter =>
      var out: org.apache.hadoop.fs.FSDataOutputStream = null
      var target: Path = null
      var offset = 1L
      val res = scala.collection.mutable.ArrayBuffer
        .empty[(String, String, String, Int, Int, Long)]
      try {
        iter.foreach { case (p, bytes, card) =>
          if (bytes.length <= InlineMaxBytes)
            res += ((p, "i", RoaringBitmapArray.z85Encode(bytes), -1,
              bytes.length, card))
          else {
            if (out == null) {
              val unq = new Path(tp, s"_dv/${java.util.UUID.randomUUID()}.bin")
              val fs = unq.getFileSystem(conf.value)
              target = fs.makeQualified(unq)
              fs.mkdirs(target.getParent)
              out = fs.create(target, false)
              out.write(1) // sidecar format version
            }
            require(offset <= Int.MaxValue.toLong - bytes.length - 8,
              s"DV sidecar exceeds 2 GiB at $target — split the operation")
            res += ((p, "p", target.toString, offset.toInt, bytes.length, card))
            out.writeInt(bytes.length)
            out.write(bytes)
            val crc = new CRC32()
            crc.update(bytes)
            out.writeInt(crc.getValue.toInt)
            offset += 4L + bytes.length + 4L
          }
        }
      } finally if (out != null) out.close()
      res.iterator
    }.collect().map { case (p, st, pi, off, size, card) =>
      GwTable.uriKey(p) -> DvDescriptor(
        st, pi, if (off < 0) None else Some(off), size, card)
    }.toMap
  }

  /** All (dv_path, pos) rows of `files`' CURRENT deletion vectors as a
    * distributed DataFrame: the driver ships descriptors only; each task
    * decodes its slice of bitmaps executor-side. `dv_path` is the DATA
    * file's logged path. */
  def positionsDF(spark: SparkSession, files: Seq[AddFile]): DataFrame = {
    import spark.implicits._
    val dvd = files.filter(_.dv.isDefined)
    if (dvd.isEmpty)
      return spark.emptyDataset[(String, Long)].toDF("dv_path", "pos")
    val conf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val descs = dvd.map { f =>
      val d = f.dv.get
      (f.path, d.storageType, d.pathOrInlineDv, d.offset.getOrElse(-1), d.sizeInBytes)
    }
    val slices = math.max(1, math.min(descs.size, spark.sparkContext.defaultParallelism))
    spark.createDataset(descs).repartition(slices)
      .flatMap { case (p, st, inline, off, size) =>
        val d = DvDescriptor(st, inline, if (off < 0) None else Some(off), size, 0L)
        readPositions(conf.value, d).iterator.map(pos => (p, pos))
      }
      .toDF("dv_path", "pos")
  }

  /** LIVE rows of `files` under `schema`: the parquet read minus each DV'd
    * file's deleted positions. The anti join's build side is the deleted
    * positions of the files READ — bounded by the operation, broadcast
    * under AQE at typical DV sizes. */
  def readLive(spark: SparkSession, schema: org.apache.spark.sql.types.StructType,
      files: Seq[AddFile]): DataFrame = {
    if (files.isEmpty)
      return spark.createDataFrame(java.util.Collections.emptyList[Row](),
        graft.log.ColumnMapping.stripMeta(schema))
    val dvd = files.filter(_.dv.isDefined)
    if (dvd.isEmpty) GwFileIndex.frame(spark, schema, files)
    else rowsAt(spark, schema, files, positionsDF(spark, dvd), dvd, "left_anti")
  }

  /** The rows of `files` (LOGICAL names) that sit at (`how = "left_semi"`)
    * or off (`"left_anti"`) the (dv_path, pos) `positions` of `posFiles`:
    * a position is `_metadata.row_index`, and the path matches in both its
    * logged and its URL-encoded form ([[pathMapping]]). */
  def rowsAt(spark: SparkSession, schema: org.apache.spark.sql.types.StructType,
      files: Seq[AddFile], positions: DataFrame, posFiles: Seq[AddFile],
      how: String): DataFrame = {
    val raw = GwFileIndex.frame(spark, schema, files)
    val at = positions.join(broadcast(pathMapping(spark, posFiles)), Seq("dv_path"))
      .select(col("enc_path"), col("pos"))
    raw.join(at, raw.col("_metadata.file_path") === at.col("enc_path") &&
      raw.col("_metadata.row_index") === at.col("pos"), how)
  }

  /** Convenience: live rows of a snapshot. */
  def readLive(spark: SparkSession, snap: Snapshot): DataFrame =
    readLive(spark, snap.schema, snap.files)

  /** Physical row count of a file from its harvested stats, if recorded —
    * lets a DV that covers every row upgrade to a plain remove. */
  def numRecords(f: AddFile): Option[Long] =
    f.parsedStats.map(_.numRecords).getOrElse(
      f.stats.flatMap { s =>
        scala.util.Try {
          val n = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(s).path("numRecords")
          if (n.isNumber) Some(n.asLong) else None
        }.toOption.flatten
      })
}
