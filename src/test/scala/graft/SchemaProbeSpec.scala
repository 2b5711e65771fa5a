package graft

import graft.log.AddFile
import graft.sources.{CdaLayout, Manifest, SchemaProbe}
import java.nio.file.Paths
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.types._

class SchemaProbeSpec extends SparkSpec {
  private val conf = new Configuration()

  test("footer schema inference on example.snappy.parquet") {
    val p = Paths.get(getClass.getResource("/example.snappy.parquet").toURI).toString
    val schema = SchemaProbe.readSchema(conf, p)
    assert(schema.isDefined)
    assert(schema.get.fieldNames.toSeq == Seq("firstName", "lastName", "age"))
    assert(schema.get("age").dataType == IntegerType)
  }

  test("inference matches spark.read.parquet schema on testdata") {
    for (t <- Seq("lineitem", "embeddings", "events", "documents")) {
      val p = s"/root/testdata/sf0.001/$t.parquet"
      val viaSpark = spark.read.parquet(p).schema
      val viaProbe = SchemaProbe.readSchema(conf, p)
      assert(viaProbe.isDefined, t)
      // pyarrow files carry no spark footer key -> exercises our converter;
      // compare names and types (nullability may differ: parquet optional)
      assert(viaProbe.get.fields.map(f => (f.name, f.dataType)).toSeq ==
        viaSpark.fields.map(f => (f.name, f.dataType)).toSeq, t)
    }
  }

  test("recursive probe falls back past unreadable files and reads 0-row footers") {
    val good = Paths.get(getClass.getResource("/example.snappy.parquet").toURI).toString
    // 0-row (footer-only) parquet written on the fly
    val tmp = java.nio.file.Files.createTempDirectory("probe").toString
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("x", LongType)))).write.parquet(s"$tmp/zero")
    val zeroFile = new java.io.File(s"$tmp/zero").listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head.getAbsolutePath
    val zeroSchema = SchemaProbe.readSchema(conf, zeroFile)
    assert(zeroSchema.contains(StructType(Seq(StructField("x", LongType, nullable = true)))))
    // bogus file first (smaller) -> probe must fall through to the good one
    val bogus = s"$tmp/bogus.parquet"
    java.nio.file.Files.write(Paths.get(bogus), "notparquet".getBytes)
    val probed = SchemaProbe.readSchemaFromFiles(conf,
      Seq(AddFile(bogus, 5, 0), AddFile(good, 1000, 0)))
    assert(probed.isDefined)
    assert(probed.get.fieldNames.toSeq == Seq("firstName", "lastName", "age"))
  }

  test("CDA footer harvest: the pooled read equals a serial readStats per listed file") {
    val root = java.nio.file.Files.createTempDirectory("cda-harvest")
    val folders = Seq("100", "200").map(root.resolve)
    spark.range(0, 60, 1, 6).selectExpr("id", "id * 2 AS v")
      .write.parquet(folders.head.toString)
    spark.range(0, 9, 1, 3).selectExpr("id").write.parquet(folders(1).toString)
    // CDA rules: a zero-byte file drops; a 0-row file stays
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("id", LongType)))).write.parquet(s"$root/zero")
    val zero = new java.io.File(s"$root/zero").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    java.nio.file.Files.copy(zero, folders(1).resolve("part-zero-rows.parquet"))
    java.nio.file.Files.write(folders(1).resolve("part-empty.parquet"), Array.emptyByteArray)
    java.nio.file.Files.write(folders(1).resolve("part-bogus.parquet"), "bogus".getBytes)

    val listed = folders.map(f => CdaLayout.listParquetFiles(conf, f.toString).toSeq)
    assert(listed.head.size == 6 && listed(1).size == 5)
    assert(!listed(1).exists(_.path.endsWith("part-empty.parquet")))
    val serial = listed.flatten.map(f => SchemaProbe.readStats(conf, f.path))
    assert(serial.count(_.isDefined) == 10)
    assert(serial.exists(_.exists(_.contains("\"numRecords\":0"))))
    // one call across both folders, and one call per folder
    val pooled = CdaLayout.withFooterStats(conf, listed.flatten.toIndexedSeq)
    val perFolder = folders.flatMap(f =>
      CdaLayout.listParquetFiles(conf, f.toString, withStats = true).toSeq)
    for (got <- Seq(pooled, perFolder)) {
      assert(got.size == serial.size)
      got.zip(listed.flatten).zip(serial).foreach { case ((g, l), s) =>
        assert(g == l.copy(stats = s), g.path)
      }
    }
  }

  test("manifest fixtures parse (both shapes, path normalization)") {
    for (res <- Seq("/manifest.json", "/guidewire/manifest.json")) {
      val text = new String(java.nio.file.Files.readAllBytes(
        Paths.get(getClass.getResource(res).toURI)))
      val m = Manifest.parse(text)
      assert(m.nonEmpty)
      m.values.foreach { e =>
        assert(!e.dataPath.endsWith("/"))
        assert(e.schemaHistory.nonEmpty)
        assert(e.lastWriteTs > 0)
      }
    }
    val single = Manifest.parse(new String(java.nio.file.Files.readAllBytes(
      Paths.get(getClass.getResource("/manifest.json").toURI))))
    assert(single.keySet == Set("databricks"))
    assert(single("databricks").dataPath == "databricks")
  }
}
