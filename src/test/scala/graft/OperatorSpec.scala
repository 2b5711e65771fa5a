package graft

import graft.operators._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Specs for the operators whose driver check is rows-only (hash-based, not
 * SQL-expressible): assert quality properties against exact ground truth
 * computed by the oracle-verified operators.
 */
class OperatorSpec extends AnyFunSuite {
  private val spark = SparkSpec.session
  private val sf = "/root/testdata/sf0.001"

  test("d02 MinHash LSH: finds high-jaccard pairs (recall) with verified precision") {
    val exact = Dedup.d04NgramJaccard(spark, sf)
      .filter(org.apache.spark.sql.functions.col("jacc_permille") >= 700)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.d02MinHashLsh(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val lshPairs = lsh.map(t => (t._1, t._2)).toSet
    // recall: every exact pair with J>=0.7 must be caught by 8x4 LSH
    assert(exact.nonEmpty, "fixture should contain near-dup pairs")
    val missed = exact -- lshPairs
    assert(missed.isEmpty, s"LSH missed high-jaccard pairs: $missed")
    // precision by construction: every reported pair really has J>=0.5
    assert(lsh.forall(_._3 >= 500))
  }

  test("d03 SimHash: identical docs get identical hashes; reported pairs are close") {
    val pairs = Dedup.d03SimHash(spark, sf).collect()
    assert(pairs.forall(_.getInt(2) <= 6))
    // near-dup docs found by exact jaccard should be hamming-close too
    val exact = Dedup.d04NgramJaccard(spark, sf)
      .filter(org.apache.spark.sql.functions.col("jacc_permille") >= 900)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val simPairs = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = exact -- simPairs
    assert(missed.isEmpty, s"simhash missed almost-identical pairs: $missed")
  }

  test("s02 ANN LSH: recall >= 0.5 of exact top-3 at sf0.001") {
    val exact = Similarity.s01TopKBruteForce(spark, sf)
      .filter(org.apache.spark.sql.functions.col("rnk") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.s02AnnLsh(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.5, s"ANN recall $recall too low (exact=${exact.size}, ann=${ann.size})")
  }

  test("s03 IVF: recall >= 0.4 of exact top-3 at sf0.001; probing more lists raises candidates") {
    val exact = Similarity.s01TopKBruteForce(spark, sf)
      .filter(org.apache.spark.sql.functions.col("rnk") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.s03IvfTopK(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVF recall $recall too low")
    // probing every list must recover exact top-k fully
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val full = graft.api.Pipelines.ivfTopK(e,
      e.filter(org.apache.spark.sql.functions.col("vec_id") < 10),
      org.apache.spark.sql.functions.col("vec_id"),
      org.apache.spark.sql.functions.col("embedding"),
      k = 3, dim = 64, nCentroids = 16, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact, "nProbe = nCentroids must equal the exact top-k")
  }

  test("s17 REINDEX: rebuild recovers recall a frozen index loses under drift") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val P = graft.api.Pipelines
    val dim = 16
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    // tight clusters around seeded random directions; `idBase` separates
    // the two corpora in one id space
    def clusters(seed: Int, nClusters: Int, perCluster: Int,
        idBase: Long): Seq[(Long, Array[Double])] = {
      val rng = new scala.util.Random(seed)
      val centers = Array.fill(nClusters)(unit(Array.fill(dim)(rng.nextGaussian())))
      for (c <- 0 until nClusters; i <- 0 until perCluster) yield {
        val noise = Array.fill(dim)(rng.nextGaussian() * 0.12)
        (idBase + c * perCluster + i,
          unit(centers(c).zip(noise).map { case (a, b) => a + b }))
      }
    }
    val original = clusters(seed = 11, nClusters = 8, perCluster = 40, idBase = 0L)
    val drifted = clusters(seed = 99, nClusters = 12, perCluster = 25, idBase = 10000L)
    val oDf = original.toDF("id", "emb")
    val dDf = drifted.toDF("id", "emb")
    val tmp = java.nio.file.Files.createTempDirectory("s17drift")
      .resolve("ivf").toString
    // FROZEN index: centroids trained on the ORIGINAL distribution only,
    // then the drifted corpus arrives through incremental appends — the
    // standard serving lifecycle rebuildIvfIndex exists to heal
    val frozen = P.trainIvfCentroids(oDf, col("emb"), dim,
      nCentroids = 16, iterations = 3)
    P.buildIvfIndex(oDf, col("id"), col("emb"), dim, tmp,
      nCentroids = 16, centroids = Some(frozen))
    P.appendToIvfIndex(dDf, col("id"), col("emb"), tmp)
    // drifted queries vs exact ground truth over the whole corpus
    val queries = dDf.filter(col("id") % 25 === 0)
    val truth = P.cosineTopK(oDf.union(dDf), queries,
      col("id"), col("emb"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallNow(): Double = {
      val got = P.ivfIndexTopK(queries, col("id"), col("emb"), tmp,
        k = 10, nProbe = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (truth & got).size.toDouble / truth.size
    }
    val frozenRecall = recallNow()
    // REINDEX: retrain over current contents (original + drifted),
    // reassign, one transactional overwrite
    P.rebuildIvfIndex(spark, tmp, nCentroids = 16, iterations = 3)
    val rebuiltRecall = recallNow()
    assert(rebuiltRecall > frozenRecall,
      s"retraining must recover recall the frozen partitioning lost under " +
        s"drift: frozen=$frozenRecall rebuilt=$rebuiltRecall")
    assert(rebuiltRecall >= 0.7,
      s"rebuilt index must serve drifted queries well: $rebuiltRecall")
  }

  test("st20 monitor: the recall metric falls under drift and recovers after REINDEX") {
    import org.apache.spark.sql.functions.{avg, col}
    import spark.implicits._
    val P = graft.api.Pipelines
    val dim = 16
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    def clusters(seed: Int, nClusters: Int, perCluster: Int,
        idBase: Long): Seq[(Long, Array[Double])] = {
      val rng = new scala.util.Random(seed)
      val centers = Array.fill(nClusters)(unit(Array.fill(dim)(rng.nextGaussian())))
      for (c <- 0 until nClusters; i <- 0 until perCluster) yield {
        val noise = Array.fill(dim)(rng.nextGaussian() * 0.12)
        (idBase + c * perCluster + i,
          unit(centers(c).zip(noise).map { case (a, b) => a + b }))
      }
    }
    val original = clusters(seed = 11, nClusters = 8, perCluster = 40, idBase = 0L)
    val drifted = clusters(seed = 99, nClusters = 12, perCluster = 25, idBase = 10000L)
    val tmp = java.nio.file.Files.createTempDirectory("st20drift")
    val idx = tmp.resolve("ivf").toString
    val met = tmp.resolve("metrics").toString
    // frozen index: centroids trained on the ORIGINAL distribution
    val frozen = P.trainIvfCentroids(original.toDF("id", "emb"), col("emb"),
      dim, nCentroids = 16, iterations = 3)
    P.buildIvfIndex(original.toDF("id", "emb"), col("id"), col("emb"), dim,
      idx, nCentroids = 16, centroids = Some(frozen))
    // the PINNED probe set every monitor tick re-measures
    val probes = drifted.filter(_._1 % 25 == 0).toDF("id", "emb")
    def mean(df: org.apache.spark.sql.DataFrame): Double =
      df.agg(avg("recall_milli")).head().getDouble(0)
    val r0 = mean(P.ivfRecallProbe(probes, col("id"), col("emb"), idx, met,
      k = 10, nProbe = 1, batch = 0L, txnId = Some("mon/0")))
    // drift arrives through the ingest face: the frozen partitioning
    // splinters the new clusters across lists
    P.appendToIvfIndex(drifted.toDF("id", "emb"), col("id"), col("emb"), idx)
    val r1 = mean(P.ivfRecallProbe(probes, col("id"), col("emb"), idx, met,
      k = 10, nProbe = 1, batch = 1L, txnId = Some("mon/1")))
    // REINDEX retrains on the current contents, the monitor sees recovery
    P.rebuildIvfIndex(spark, idx, nCentroids = 16, iterations = 3)
    val r2 = mean(P.ivfRecallProbe(probes, col("id"), col("emb"), idx, met,
      k = 10, nProbe = 1, batch = 2L, txnId = Some("mon/2")))
    assert(r1 < r0, s"drift must register as a FALLING metric: $r0 -> $r1")
    assert(r2 > r1, s"REINDEX must register as RECOVERY: $r1 -> $r2")
    // the monitor's history is the quality timeline, exactly-once per tick
    val timeline = spark.read.format("gwdelta").load(met)
      .groupBy("batch").agg(avg("recall_milli").as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(timeline(0L) == r0 && timeline(1L) == r1 && timeline(2L) == r2)
  }

  test("s22 PQ REINDEX: rebuild lowers the quantization distortion frozen codebooks accrue under drift") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val P = graft.api.Pipelines
    val dim = 16
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    def clusters(seed: Int, nClusters: Int, perCluster: Int,
        idBase: Long): Seq[(Long, Array[Double])] = {
      val rng = new scala.util.Random(seed)
      val centers = Array.fill(nClusters)(unit(Array.fill(dim)(rng.nextGaussian())))
      for (c <- 0 until nClusters; i <- 0 until perCluster) yield {
        val noise = Array.fill(dim)(rng.nextGaussian() * 0.12)
        (idBase + c * perCluster + i,
          unit(centers(c).zip(noise).map { case (a, b) => a + b }))
      }
    }
    val oDf = clusters(seed = 21, nClusters = 8, perCluster = 40, idBase = 0L)
      .toDF("id", "emb")
    val dDf = clusters(seed = 77, nClusters = 12, perCluster = 25, idBase = 10000L)
      .toDF("id", "emb")
    val tmp = java.nio.file.Files.createTempDirectory("s22drift")
      .resolve("ivfpq").toString
    // codebooks trained on the ORIGINAL distribution, then the drifted
    // corpus arrives through appends that quantize against them frozen
    val m = 4
    val frozenBooks = P.trainPqCodebooks(oDf, col("emb"), dim, m = m,
      ks = 16, iterations = 3)
    P.buildIvfPqIndex(oDf, col("id"), col("emb"), dim, tmp, nCentroids = 8,
      m = m, ks = 16, codebooks = Some(frozenBooks))
    P.appendToIvfPqIndex(dDf, col("id"), col("emb"), tmp)
    val contents = spark.read.format("gwdelta").load(tmp)
      .select(col("n_emb").as("emb"))
    val frozenDist = P.pqDistortion(contents, col("emb"), dim, frozenBooks)
    // REINDEX retrains codebooks (and centroids) over current contents
    P.rebuildIvfPqIndex(spark, tmp, nCentroids = 8, m = m, ks = 16,
      iterations = 3)
    val rebuiltBooks = P.storedCodebooks(spark, tmp)
    val rebuiltDist = P.pqDistortion(contents, col("emb"), dim, rebuiltBooks)
    assert(rebuiltDist < frozenDist,
      s"retraining must lower the reconstruction distortion frozen " +
        s"codebooks accrue under drift: frozen=$frozenDist rebuilt=$rebuiltDist")
  }

  test("s10 PQ: Lloyd training lowers distortion; trained codes raise recall machinery intact") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val seeded = graft.api.Pipelines.pqCodebooks(64, 8, 16)
    val trained = graft.api.Pipelines.trainPqCodebooks(
      e, col("embedding"), dim = 64, m = 8, ks = 16, iterations = 2)
    val d0 = graft.api.Pipelines.pqDistortion(e, col("embedding"), 64, seeded)
    val d1 = graft.api.Pipelines.pqDistortion(e, col("embedding"), 64, trained)
    assert(d1 <= d0,
      s"PQ training must not increase reconstruction distortion: $d0 -> $d1")
    // 8 codes over dim-64 high-entropy vectors is an aggressively lossy
    // quantizer, so the ABSOLUTE recall floor is loose; the trained
    // codebooks must not lose to the seeded ones (both deterministic)
    val exact = Similarity.s01TopKBruteForce(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(books: Array[Array[Array[Double]]]): Double = {
      val pq = graft.api.Pipelines.pqTopK(
        e, e.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
        k = 5, dim = 64, candidates = 20, codebooks = Some(books))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pq.size == 50, "pqTopK must return k rows per query")
      (exact & pq).size.toDouble / exact.size
    }
    val seededRecall = recallOf(seeded)
    val trainedRecall = recallOf(trained)
    assert(seededRecall >= 0.05, s"PQ machinery broken: seeded recall $seededRecall")
    assert(trainedRecall >= seededRecall - 0.05,
      s"training must not hurt recall: $seededRecall -> $trainedRecall")
    // widening the shortlist must not lower recall (monotone candidates)
    val wide = graft.api.Pipelines.pqTopK(
      e, e.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
      k = 5, dim = 64, candidates = 60, codebooks = Some(trained))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((exact & wide).size.toDouble / exact.size >= trainedRecall,
      "a wider ADC shortlist must not lose exact neighbors")
  }

  test("s05 quantization: dequantized vectors stay within the half-step error bound") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val quantized = graft.api.Pipelines.quantizeEmbeddings(e, col("vec_id"), col("embedding"))
      .select("vec_id", "scale_micro", "q")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Int](2))).toMap
    val originals = e.select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(quantized.keySet == originals.keySet)
    originals.foreach { case (id, xs) =>
      val (scaleMicro, q) = quantized(id)
      val scale = scaleMicro / 1e6
      assert(q.forall(v => v >= -127 && v <= 127), s"vec $id codes out of int8 range")
      // reconstruction error per element is at most half a quantization
      // step (scale/127/2), plus slack for the micro-rounded scale
      val step = scale / 127.0
      xs.zip(q).foreach { case (x, v) =>
        val err = math.abs(x.toDouble - v * step)
        assert(err <= step / 2 + 1e-5, s"vec $id: |$x - $v*$step| = $err > ${step / 2}")
      }
    }
  }

  test("d06 ANN near-dup: precision exact by construction, recall vs all-pairs") {
    import org.apache.spark.sql.functions.col
    // ground truth: blockless all-pairs (no label restriction) at sf0.001
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val exact = graft.api.Pipelines.cosineNearDupPairsExact(
      e.withColumn("one", org.apache.spark.sql.functions.lit(1)),
      col("vec_id"), col("embedding"), col("one"), threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val ann = Dedup.d06CosineNearDupAnn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // every emitted pair must carry the bit-identical exact cosine
    assert(ann.subsetOf(exact), s"ANN emitted non-exact pairs: ${(ann -- exact).take(3)}")
    val recall = ann.size.toDouble / exact.size
    assert(recall >= 0.5, s"ANN near-dup recall $recall too low (exact=${exact.size})")
  }

  test("d06 LSH bucket cap bounds candidates on an adversarial identical-vector corpus") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // every vector identical -> all n land in the SAME (band, bucket) for
    // every band: uncapped, that is n(n-1)/2 candidate pairs (the classic
    // LSH skew blowup); with the cap, at most cap members survive per
    // bucket, so emitted pairs are bounded by bands * cap(cap-1)/2 — the
    // rank hash is salted PER BAND (each band keeps a DIFFERENT cap-sized
    // subset, so capping sheds per-band advertisements, never whole docs)
    val n = 200
    val cap = 16
    val bands = 8 // cosineNearDupPairsAnn default
    val vec = Array.fill(64)(0.5f)
    val corpus = (0 until n).map(i => (i.toLong, vec)).toDF("vec_id", "embedding")
    val cappedPairs = graft.api.Pipelines.cosineNearDupPairsAnn(
      corpus, col("vec_id"), col("embedding"),
      threshold = 0.9, dim = 64, bucketCap = cap)
    val capped = cappedPairs.count()
    assert(capped > 0, "capped run must still emit pairs among kept members")
    assert(capped <= bands.toLong * cap * (cap - 1) / 2,
      s"cap=$cap over $bands bands must bound pairs to " +
        s"${bands * cap * (cap - 1) / 2}, got $capped")
    // the per-band salt's point: participation spreads past one band's
    // cap-sized clique instead of freezing the same cap docs everywhere
    val participants = cappedPairs
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.array(col("vec_a"), col("vec_b"))))
      .distinct().count()
    assert(participants > cap,
      s"per-band salt must advertise more than one band's clique: $participants")
    // disabled cap (<= 0) restores the exhaustive behavior
    val uncapped = graft.api.Pipelines.cosineNearDupPairsAnn(
      corpus, col("vec_id"), col("embedding"),
      threshold = 0.9, dim = 64, bucketCap = 0).count()
    assert(uncapped == n.toLong * (n - 1) / 2,
      s"uncapped identical corpus must emit all ${n * (n - 1) / 2} pairs, got $uncapped")
  }

  test("TopKAgg: any partitioning equals global sort-take-k, ties broken by id") {
    import org.apache.spark.sql.functions.{col, posexplode}
    import spark.implicits._
    val rng = new scala.util.Random(7)
    // few distinct scores -> heavy ties at the k boundary; ids unique
    val rows = (0L until 500L).map(i => (rng.nextInt(20).toDouble, i))
    for (parts <- Seq(1, 7, 32)) {
      val got = rows.toDF("score", "id").repartition(parts)
        .groupBy()
        .agg(graft.functions.TopKAgg.topk(col("score"), col("id"), 10).as("t"))
        .select(posexplode(col("t")))
        .collect().map(r => (r.getInt(0),
          r.getStruct(1).getLong(0), r.getStruct(1).getDouble(1))).toSeq
      val expect = rows.sortBy { case (s, i) => (-s, i) }.take(10)
        .zipWithIndex.map { case ((s, i), p) => (p, i, s) }
      assert(got.sortBy(_._1) == expect,
        s"parts=$parts diverged from the global order")
    }
  }

  test("m03 real PNG decode: ImageIO round trip returns the encode formula exactly") {
    import org.apache.spark.sql.functions.col
    val out = Multimodal.m03Decode(spark, sf).collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").cast("long"), col("n_chars").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.length == docs.size)
    out.foreach { r =>
      val docId = r.getLong(0)
      val (w, h) = Multimodal.PngCodec.dims(docId, docs(docId))
      assert(r.getLong(1) == w && r.getLong(2) == h,
        s"doc $docId dims ${(r.getLong(1), r.getLong(2))} != ${(w, h)}")
      var expected = 0L
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
        expected += Multimodal.PngCodec.pixel(docId, x, y, c)
      assert(r.getLong(3) == expected, s"doc $docId pixel sum drifted")
    }
  }

  test("m04 real WAV decode: javax.sound round trip returns the encode formula exactly") {
    import org.apache.spark.sql.functions.col
    val out = Multimodal.m04AudioDecode(spark, sf).collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").cast("long"), col("n_chars").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.length == docs.size)
    out.foreach { r =>
      val docId = r.getLong(0)
      val n = Multimodal.WavCodec.nSamples(docs(docId))
      assert(r.getLong(1) == 8000L && r.getLong(2) == n.toLong,
        s"doc $docId rate/samples ${(r.getLong(1), r.getLong(2))} != (8000, $n)")
      var expected = 0L
      for (i <- 0 until n) {
        val v = Multimodal.WavCodec.sample(docId, i).toLong
        expected += v * v
      }
      assert(r.getLong(3) == expected, s"doc $docId energy drifted")
    }
  }

  test("q25 sketches stay within error bounds of the exact answers") {
    import org.apache.spark.sql.functions._
    val approx = Relational.q25SketchAggs(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    val exact = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_returnflag"), col("l_partkey"), col("l_suppkey"),
        round(col("l_extendedprice") * 100).cast("long").as("price_c"))
      .groupBy("l_returnflag")
      .agg(countDistinct("l_partkey").as("nd_part"),
        countDistinct("l_suppkey").as("nd_supp"),
        expr("percentile(price_c, 0.5)").as("p50"),
        expr("percentile(price_c, 0.99)").as("p99"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(approx.keySet == exact.keySet)
    for ((flag, a) <- approx) {
      val e = exact(flag)
      def relErr(x: Double, y: Double): Double = math.abs(x - y) / math.max(y, 1.0)
      assert(relErr(a.getLong(1).toDouble, e.getLong(1).toDouble) < 0.05,
        s"$flag nd_part ${a.getLong(1)} vs ${e.getLong(1)}")
      assert(relErr(a.getLong(2).toDouble, e.getLong(2).toDouble) < 0.05,
        s"$flag nd_supp ${a.getLong(2)} vs ${e.getLong(2)}")
      assert(relErr(a.getLong(3).toDouble, e.getDouble(3)) < 0.05,
        s"$flag p50 ${a.getLong(3)} vs ${e.getDouble(3)}")
      assert(relErr(a.getLong(4).toDouble, e.getDouble(4)) < 0.05,
        s"$flag p99 ${a.getLong(4)} vs ${e.getDouble(4)}")
    }
  }

  test("SimHashAgg equals the declarative 64-column vote bank") {
    import org.apache.spark.sql.functions._
    val wordCounts = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy("doc_id", "word")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("h", xxhash64(col("word")))
      .repartition(7, col("doc_id")) // force partial/merge paths
    val custom = wordCounts.groupBy("doc_id")
      .agg(graft.functions.SimHashAgg(col("h"), col("cnt")).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bitVotes = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, col("cnt"))
        .otherwise(-col("cnt"))).as(s"v$j")
    }
    val fingerprintCol = (0 until 64).map { j =>
      when(col(s"v$j") > 0, shiftleft(lit(1L), j)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    val declarative = wordCounts.groupBy("doc_id").agg(bitVotes.head, bitVotes.tail: _*)
      .select(col("doc_id"), fingerprintCol.as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(custom == declarative)
  }

  /** The sf0.001 documents plus edge texts (null, empty, 1 and 2 words,
    * double/leading/trailing spaces, non-ASCII words, repeated shingles),
    * checkpointed so no projection over them folds into a local relation. */
  private def kernelInputs: org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val edges = Seq[String](null, "", "one", "two words", "a b c", "a  b c",
      " a b c", "a b c ", "   ", "naïve café über straße 日本語 テキスト",
      "x y z x y z x y z x y z", "ünï ünï ünï ünï")
      .zipWithIndex.map { case (t, i) => (-1L - i, t) }.toDF("doc_id", "text")
    spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
      .unionByName(edges).localCheckpoint()
  }

  /** Runs `f` once through whole-stage codegen and once through
    * interpreted `eval`, and returns both answers. */
  private def codegenAndEval[T](f: => T): Seq[T] =
    Seq("true" -> "CODEGEN_ONLY", "false" -> "NO_CODEGEN").map { case (wscg, mode) =>
      spark.conf.set("spark.sql.codegen.wholeStage", wscg)
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try f
      finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }

  test("ShingleHashes, MinHashLanes and SimHash equal their declarative forms, codegen and eval") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val in = kernelInputs
    // the declarative shingle rows the kernels replace: posexplode, two
    // window leads, a three-column xxhash64 and a distinct
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    val rows = in.select(col("doc_id"), posexplode(split(col("text"), " ")))
      .withColumn("w2", lead("col", 1).over(byPos))
      .withColumn("w3", lead("col", 2).over(byPos))
      .filter(col("w3").isNotNull)
      .select(col("doc_id"), xxhash64(col("col"), col("w2"), col("w3")).as("s"))
      .distinct()
    val declSets = rows.collect().groupMap(_.getLong(0))(_.getLong(1))
      .map { case (id, s) => id -> s.toSeq.sorted }
    val lanes = (0 until 32).map(p => min(xxhash64(lit(p), col("s"))).as(s"mh$p"))
    val declLanes = rows.groupBy("doc_id").agg(lanes.head, lanes.tail: _*).collect()
      .map(r => r.getLong(0) -> (1 to 32).map(r.getLong)).toMap
    val declSim = in.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
      .withColumn("h", conv(substring(md5(col("word")), 1, 15), 16, 10).cast("long"))
      .groupBy("doc_id").agg(graft.functions.SimHashAgg(col("h"), col("cnt")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(declSets.size > 400 && declSets.contains(-11L) && declSets(-11L).size == 3)

    val answers = codegenAndEval {
      in.select(col("doc_id"),
          graft.functions.ShingleHashes(col("text")).as("set"),
          graft.functions.SimHash(col("text")).as("sim"))
        .withColumn("mh", graft.functions.MinHashLanes(col("set"), 32))
        .collect().map { r =>
          val set = Option(r.getSeq[Long](1))
          (r.getLong(0), set, Option(r.get(2)).map(_.asInstanceOf[Long]),
            Option(r.getSeq[Long](3)))
        }.toSeq
    }
    answers.foreach { got =>
      // a set is ascending and distinct; fewer than 3 words is the empty
      // set, a null text is null
      val sets = got.collect { case (id, Some(s), _, _) if s.nonEmpty => id -> s }.toMap
      assert(sets == declSets)
      assert(sets.values.forall(s => s == s.distinct.sorted))
      assert(got.filter(_._2.exists(_.isEmpty)).map(_._1).toSet == Set(-2L, -3L, -4L))
      assert(got.find(_._1 == -1L).exists(r => r._2.isEmpty && r._3.isEmpty && r._4.isEmpty))
      assert(got.collect { case (id, _, _, Some(l)) => id -> l }.toMap == declLanes)
      assert(got.collect { case (id, _, Some(h), _) => id -> h }.toMap == declSim)
    }
    assert(answers.distinct.size == 1)
  }

  /** Word-trigram sets of the sf0.001 documents, with their blocks. */
  private def trigramDocs: Array[(Long, String, Long, Set[Seq[String]])] =
    spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "n_chars", "text").collect().map { r =>
        // limit -1: keep trailing empty words, as Spark's split() does
        val w = r.getString(3).split(" ", -1)
        (r.getLong(0), r.getString(1), r.getLong(2) / 100,
          w.sliding(3).filter(_.length == 3).map(_.toSeq).toSet)
      }

  /** Spark's `round` on a double: HALF_UP on its decimal form. */
  private def permille(num: Long, den: Long): Long =
    BigDecimal(1000.0 * num / den).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  test("ngramJaccardPairs equals in-memory all-pairs Jaccard at sf0.001 (t = 0.2, 0.5)") {
    import org.apache.spark.sql.functions._
    val docs = trigramDocs.filter(_._4.nonEmpty)
    Seq(0.2, 0.5).foreach { t =>
      val expected = (for {
        a <- docs; b <- docs
        if a._1 < b._1 && a._2 == b._2 && a._3 == b._3
        inter = (a._4 intersect b._4).size.toLong
        if inter > 0
        j = permille(inter, a._4.size + b._4.size - inter)
        if j >= (t * 1000).toLong
      } yield (a._1, b._1, j)).toSet
      val got = graft.api.Pipelines.ngramJaccardPairs(
        spark.read.parquet(s"$sf/documents.parquet"), col("doc_id"), col("text"),
        Seq(col("lang"), expr("n_chars div 100").as("len_block")), t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expected, s"t=$t extra=${got -- expected} missing=${expected -- got}")
      if (t == 0.2) assert(got.nonEmpty, "fixture should contain near-dup pairs")
    }
  }

  test("containmentPairs equals in-memory directed containment at sf0.001") {
    import org.apache.spark.sql.functions._
    val docs = trigramDocs.filter(_._4.nonEmpty)
    val expected = (for {
      a <- docs; b <- docs
      if a._1 != b._1 && a._2 == b._2
      inter = (a._4 intersect b._4).size.toLong
      if inter > 0 && 1000L * inter >= 500L * a._4.size
    } yield (a._1, b._1, permille(inter, a._4.size))).toSet
    val got = Dedup.d19ContainmentDedup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.nonEmpty && got == expected,
      s"extra=${got -- expected} missing=${expected -- got}")
  }

  test("minHashDedupPairs reports every identical-text pair at jacc_permille 1000") {
    import org.apache.spark.sql.functions._
    val d = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    // every fifth document planted again under a new id
    val planted = d.unionByName(d.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    val identical = planted.collect().groupMap(_.getString(1))(_.getLong(0)).values
      .filter(_.size > 1).flatMap { ids =>
        val s = ids.toSeq.sorted
        for (i <- s.indices; j <- i + 1 until s.size) yield (s(i), s(j))
      }.toSet
    val got = graft.api.Pipelines.minHashDedupPairs(planted, col("doc_id"), col("text"),
      numPerm = 32, bands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(identical.size >= 100)
    identical.foreach(p => assert(got.get(p).contains(1000L), s"pair $p: ${got.get(p)}"))
  }

  test("IVF centroid training monotonically improves the spherical objective") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val p = graft.api.Pipelines
    val random = p.hyperplanes(16, 64)
    val trained = p.trainIvfCentroids(e, col("embedding"), dim = 64,
      nCentroids = 16, iterations = 3)
    val before = p.ivfObjective(e, col("embedding"), random)
    val after = p.ivfObjective(e, col("embedding"), trained)
    assert(after >= before - 1e-9,
      s"Lloyd iterations degraded the objective: $before -> $after")
    // trained centroids plug into the same probe machinery
    val out = p.ivfTopK(e, e.filter(col("vec_id") < 5),
      col("vec_id"), col("embedding"), k = 3, dim = 64,
      centroids = Some(trained))
    assert(out.count() == 15)
    // determinism: same seed + data -> same centroids
    val again = p.trainIvfCentroids(e, col("embedding"), dim = 64,
      nCentroids = 16, iterations = 3)
    assert(trained.flatten.toSeq == again.flatten.toSeq)
  }

  test("connectedComponents matches union-find on random graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 30 + trial * 10
      val edges = Seq.fill(n)((rng.nextInt(40).toLong, rng.nextInt(40).toLong))
        .filter { case (a, b) => a != b }
      // reference: plain union-find
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(x => x -> find(x)).toMap
      val got = graft.api.Pipelines.connectedComponents(
        edges.toDF("a", "b"),
        org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial: component mismatch")
    }
  }

  test("connectedComponents with a reliable checkpointDir: identical labels, files written") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val edges = Seq.fill(60)((rng.nextInt(40).toLong, rng.nextInt(40).toLong))
      .filter { case (a, b) => a != b }.toDF("a", "b")
    val cA = org.apache.spark.sql.functions.col("a")
    val cB = org.apache.spark.sql.functions.col("b")
    val local = graft.api.Pipelines.connectedComponents(edges, cA, cB)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = java.nio.file.Files.createTempDirectory("cc-ckpt").toString
    val reliable = graft.api.Pipelines.connectedComponents(edges, cA, cB,
        checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reliable == local)
    // the rounds really went through the reliable path: checkpoint files exist
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .anyMatch(p => p.getFileName.toString.startsWith("rdd-"))
    assert(wrote, s"no reliable checkpoint written under $dir")
  }

  test("hyperplanes are deterministic across invocations") {
    val a = graft.api.Pipelines.hyperplanes(4, 8)
    val b = graft.api.Pipelines.hyperplanes(4, 8)
    assert(a.flatten.toSeq == b.flatten.toSeq)
  }

  test("t09 heavy hitters: MG bounds hold vs exact counts; guaranteed items present") {
    import org.apache.spark.sql.functions._
    val words = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
    val exact = words.groupBy("lang", "word").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val totals = exact.groupMapReduce(_._1._1)(_._2)(_ + _)
    val capacity = 64
    val sketch = graft.api.Pipelines.heavyHitters(
      words, Seq(col("lang")), col("word"), k = 5, capacity = capacity)
      .collect().map(r => (r.getString(0), r.getString(2), r.getLong(3)))
    assert(sketch.nonEmpty)
    sketch.foreach { case (lang, item, countLo) =>
      val truth = exact.getOrElse((lang, item), 0L)
      val slack = totals(lang) / (capacity + 1)
      assert(countLo <= truth, s"($lang,$item): sketch $countLo > true $truth")
      assert(countLo >= truth - slack,
        s"($lang,$item): sketch $countLo below true $truth - n/(m+1) $slack")
    }
    // every item frequent enough for the MG guarantee must survive in the
    // sketch — checked against the FULL counter set (k = capacity): a k=5
    // report may legitimately order near-tied items differently than the
    // true counts, which is the error band, not a bug
    val full = graft.api.Pipelines.heavyHitters(
      words, Seq(col("lang")), col("word"), k = capacity, capacity = capacity)
      .collect().map(r => (r.getString(0), r.getString(2))).toSet
    totals.keys.foreach { lang =>
      exact.foreach { case ((l, w), n) =>
        if (l == lang && n > totals(lang) / (capacity + 1))
          assert(full.contains((lang, w)), s"guaranteed item ($lang,$w) missing")
      }
    }
  }

  test("s08 MMR: first pick is top-1 relevance, no repeats, diversification reorders") {
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = e.filter(col("vec_id") < 5)
    val mmr = graft.api.Pipelines.mmrTopK(e, q, col("vec_id"), col("embedding"),
      k = 10, candidates = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val rel = graft.api.Pipelines.cosineTopK(e, q, col("vec_id"), col("embedding"), k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(1))).toSeq // (q, rnk, n)
    val mmrByQ = mmr.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    val relByQ = rel.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    assert(mmrByQ.keySet == relByQ.keySet && mmrByQ.nonEmpty)
    mmrByQ.foreach { case (qid, picks) =>
      assert(picks.size == picks.distinct.size, s"query $qid repeats a pick")
      assert(picks.head == relByQ(qid).head,
        s"query $qid: first MMR pick must be the relevance top-1")
      assert(picks.toSet.subsetOf(relByQ(qid).toSet),
        s"query $qid: picks must come from the relevance shortlist")
    }
    // the redundancy penalty must actually change at least one trajectory
    assert(mmrByQ.exists { case (qid, picks) =>
      picks != relByQ(qid).take(picks.size) },
      "MMR never deviated from pure relevance order — penalty had no effect")
  }

  test("KMV distinct sketch: exact below k, bounded error above, partition-invariant") {
    import org.apache.spark.sql.functions._
    import graft.functions.KmvDistinctAgg
    val k = 64
    def est(parts: Int): Map[String, Long] =
      spark.read.parquet(s"$sf/lineitem.parquet")
        .repartition(parts)
        .select(col("l_returnflag"), KmvDistinctAgg.hash60(col("l_partkey")).as("h"))
        .groupBy("l_returnflag").agg(KmvDistinctAgg(col("h"), k).as("nd"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // merge-order / partitioning invariance: the estimate is a pure
    // function of the input SET
    val a = est(1)
    assert(a == est(7) && a == est(32))
    val exact = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy("l_returnflag").agg(countDistinct("l_partkey").as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((flag, nd) <- exact) {
      if (nd < k) assert(a(flag) == nd, s"$flag: below-k estimate must be exact")
      else {
        val rel = math.abs(a(flag).toDouble - nd) / nd
        assert(rel < 4.0 / math.sqrt(k), s"$flag: KMV rel err $rel out of bound")
      }
    }
  }

  test("verified heavy hitters: exact counts, provable threshold, deterministic") {
    import org.apache.spark.sql.functions._
    val words = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
    val capacity = 64
    val got = graft.api.Pipelines.verifiedHeavyHitters(
      words, Seq("lang"), col("word"), k = 5, capacity = capacity)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(got.nonEmpty)
    val exact = words.groupBy("lang", "word").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val totals = exact.groupMapReduce(_._1._1)(_._2)(_ + _)
    // every reported count is the exact count and clears the n/(cap+1) bar
    got.foreach { case (lang, _, item, cnt) =>
      assert(cnt == exact((lang, item)), s"($lang,$item) count not exact")
      assert(cnt * (capacity + 1) > totals(lang), s"($lang,$item) below bar")
    }
    // rank order is (count desc, item asc) within each language
    got.groupBy(_._1).values.foreach { rows =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(r => (-r._4, r._3)).sorted.toSeq ==
        sorted.map(r => (-r._4, r._3)).toSeq)
    }
  }

  test("d13 substring dedup equals an in-memory sliding-window reimplementation") {
    import org.apache.spark.sql.functions._
    val L = 40
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    // corpus-wide window counts (code points, mirroring Spark/DuckDB substr)
    val counts = scala.collection.mutable.HashMap.empty[String, Int]
    def windows(t: String): Seq[(Int, String)] = {
      val cps = t.codePointCount(0, t.length)
      (0 to cps - L).map { i =>
        val a = t.offsetByCodePoints(0, i)
        val b = t.offsetByCodePoints(0, i + L)
        (i, t.substring(a, b))
      }
    }
    docs.foreach { case (_, t) => windows(t).foreach { case (_, w) =>
      counts(w) = counts.getOrElse(w, 0) + 1 } }
    val expected = docs.flatMap { case (id, t) =>
      val hits = windows(t).collect { case (i, w) if counts(w) >= 2 => i }
      // merge [i, i+L) islands
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      // chain while pos <= prevHit + L (= current span end), else new span
      hits.sorted.foreach { i =>
        if (spans.nonEmpty && i.toLong <= spans.last._2)
          spans(spans.length - 1) = (spans.last._1, i + L.toLong)
        else spans += ((i.toLong, i + L.toLong))
      }
      spans.map { case (s, e) => (id, s, e, e - s) }
    }.toSet
    val got = graft.api.Pipelines.substringDedupSpans(
      spark.read.parquet(s"$sf/documents.parquet"), col("doc_id"), col("text"), L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected, s"spans diverge: extra=${got -- expected} missing=${expected -- got}")
    assert(got.nonEmpty, "fixture should contain duplicated substrings")
  }

  test("t16 winnowing: every window covered, selections are true window minima") {
    import org.apache.spark.sql.functions._
    val (k, w) = (8, 8)
    val got = graft.api.Pipelines.winnowFingerprints(
      spark.read.parquet(s"$sf/documents.parquet"), col("doc_id"), col("text"), k, w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    val byDoc = got.groupBy(_._1)
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.lang.Long.parseLong(md.map("%02x".format(_)).mkString.take(15), 16)
    }
    byDoc.foreach { case (id, rows) =>
      val t = texts(id)
      val grams = (0 to t.length - k).map(i => h60(t.substring(i, i + k)))
      val sel = rows.map(r => r._2.toInt -> r._3).toMap
      // every selection is a real gram hash at its position
      sel.foreach { case (p, fp) => assert(grams(p) == fp, s"doc $id pos $p hash") }
      // winnowing guarantee: every w-window of grams contains a selection,
      // and that selection is the window's minimum hash
      (0 to grams.length - w).foreach { s =>
        val inWin = sel.keys.filter(p => p >= s && p < s + w)
        assert(inWin.nonEmpty, s"doc $id window $s has no fingerprint")
        val winMin = (s until s + w).map(grams).min
        assert(inWin.exists(p => grams(p) == winMin),
          s"doc $id window $s: no selected position carries the window min")
      }
      // density sanity: far below full shingling
      assert(sel.size <= grams.length / 2 + 1, s"doc $id selected too densely")
    }
    // ASCII-only corpus assumption for the in-memory check would be wrong
    // for zh docs — substring here is code-point-safe because the fixture's
    // zh text stays in the BMP; the cross-engine gate is the real contract
  }

  test("d09 chunk dedup equals an in-memory reimplementation at sf0.001") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val chunksOf = docs.map { case (id, t) =>
      // limit -1: keep trailing empty strings, matching Spark split() and
      // DuckDB string_split (Java's default drops them)
      id -> t.split(" ", -1).grouped(5).map(_.mkString(" ")).toVector
    }.toMap
    val counts = chunksOf.values.flatten.groupBy(identity)
      .map { case (k, v) => k -> v.size }
    val expected = docs.map { case (id, _) =>
      val cs = chunksOf(id)
      val kept = cs.filter(c => counts(c) == 1)
      (id, cs.size.toLong, kept.size.toLong, kept.mkString(" "))
    }.toSet
    val got = Dedup.d09ChunkDedup(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(counts.exists(_._2 > 1), "fixture should contain repeated chunks")
    assert(got == expected)
  }

  test("s11 BM25: overlap-ranked synthetic corpus, candidates need a shared term") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // q0 = "apple banana": d1 shares both terms, d2 one, d3 none.
    val corpus = Seq(
      (0L, "apple banana"),
      (1L, "apple banana cherry"),
      (2L, "apple cherry durian"),
      (3L, "cherry durian elderberry")).toDF("doc_id", "text")
    val got = graft.api.Pipelines.bm25TopK(
        corpus, corpus.filter($"doc_id" === 0L), col("doc_id"), col("text"), k = 10)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))) // (n_id, rnk, score)
      .sortBy(_._2)
    // d3 shares no term -> never a candidate; d1 outranks d2 (two hits vs one)
    assert(got.map(_._1).toSeq == Seq(1L, 2L), s"unexpected ranking: ${got.toSeq}")
    assert(got.forall(_._3 > 0), "BM25 scores of overlapping docs must be positive")
    // fixture run: k rows per query, no self-matches, no repeats
    val fix = Similarity.s11Bm25TopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(fix.length == 50 && fix.distinct.length == 50)
    assert(fix.forall { case (q, n) => q != n })
  }

  test("m06 block-mean hash: robust to a tiny perturbation, far for different images") {
    import graft.operators.Multimodal.{PngCodec, PngDecoder, PngHashOps}
    val d = new PngDecoder
    def hash(bytes: Array[Byte]): Long = d.blockMeanHash(bytes)
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val base = hash(PngCodec.encode(7L, 123L))
    // perturb ONE pixel's blue channel by +1 and re-encode
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(PngCodec.encode(7L, 123L)))
    img.setRGB(3, 3, img.getRGB(3, 3) + 1)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val perturbed = hash(bos.toByteArray)
    assert(hamming(base, perturbed) <= 2,
      s"one-pixel perturbation moved ${hamming(base, perturbed)} bits")
    // structurally different images land far apart
    val others = (1L to 20L).filterNot(_ == 7L)
      .map(id => hamming(base, hash(PngCodec.encode(id, 123L + id))))
    assert(others.count(_ >= 8) >= 15,
      s"different images should be hamming-far, got $others")
  }

  test("s12 RRF fusion: exact integer nano-reciprocal arithmetic on synthetic lists") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val listA = Seq((0L, 10L, 1L), (0L, 11L, 2L)).toDF("q_id", "n_id", "rnk")
    val listB = Seq((0L, 11L, 1L), (0L, 12L, 2L)).toDF("q_id", "n_id", "rnk")
    val got = graft.api.Pipelines.rrfFuse(Seq(listA, listB), k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._2)
    val r1 = 1000000000L / 61; val r2 = 1000000000L / 62
    // doc 11 appears in both lists (rnk 2 + rnk 1) and must win
    assert(got.toSeq == Seq((11L, 1L, r1 + r2), (10L, 2L, r1), (12L, 3L, r2)))
  }

  test("t22 boilerplate lines: normalized-form removal, order kept, threshold exact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 6 docs share a footer (3 of them UPPERCASED — removal keys on the
    // NORMALIZED form); 4 docs share a header (below the minDocs=5
    // threshold — kept); every doc has a unique body line
    val pages = (0 until 8).map { i =>
      val footer = if (i < 6) Some(if (i % 2 == 0) "SHARED FOOTER LINE." else "shared footer line.") else None
      val header = if (i < 4) Some("rare header line.") else None
      val body = Seq(s"unique body $i alpha", s"unique body $i beta")
      (i.toLong, (header.toSeq ++ body ++ footer.toSeq).mkString("\n"))
    }.toDF("doc_id", "page")
    val out = graft.api.Pipelines.boilerplateLines(
      pages, col("page"), col("doc_id"), minDocs = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    (0 until 8).foreach { i =>
      val (nLines, nBoiler, cleaned) = out(i.toLong)
      val wantHeader = if (i < 4) Seq("rare header line.") else Nil
      assert(nLines == (if (i < 6) 1 else 0) + (if (i < 4) 1 else 0) + 2)
      assert(nBoiler == (if (i < 6) 1L else 0L),
        s"doc $i: footer removed regardless of case, header kept")
      assert(cleaned.split("\n").toSeq ==
        wantHeader ++ Seq(s"unique body $i alpha", s"unique body $i beta"),
        s"doc $i: original order preserved")
    }
    // repartitioning must not change the distributed df-count decision
    val again = graft.api.Pipelines.boilerplateLines(
      pages.repartition(7), col("page"), col("doc_id"), minDocs = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(again == out.map { case (d, (a, b, c)) => (d, a, b, c) }.toSet)
  }

  test("s20 range search: threshold-complete within probed lists, superset of top-k hits") {
    import org.apache.spark.sql.functions.col
    val range = Similarity.s20IvfRangeSearch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(range.nonEmpty, "fixture should contain in-radius pairs")
    // every reported pair really clears the threshold
    assert(range.forall(_._3 >= 250000L))
    // completeness within the probed lists: every top-k (same probes)
    // result above the threshold must appear in the range result
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val topk = graft.api.Pipelines.ivfTopK(e, e.filter(col("vec_id") < 10),
      col("vec_id"), col("embedding"), k = 3, dim = 64, nCentroids = 16, nProbe = 8)
      .filter(col("cos_micro") >= 250000L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rangePairs = range.map(t => (t._1, t._2)).toSet
    assert(topk.nonEmpty && (topk -- rangePairs).isEmpty,
      s"range search missed in-radius top-k pairs: ${topk -- rangePairs}")
  }

  test("t24 DSIR: max-score doc always kept, scores favor target-like docs, deterministic") {
    import org.apache.spark.sql.functions.col
    val out = TextOps.t24DsirResample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.nonEmpty)
    val maxScore = out.map(_._2).max
    // the resampling coin is 2^(score - max): the argmax doc is certain
    assert(out.filter(_._2 == maxScore).forall(_._3),
      "every max-score doc must be kept with probability 1")
    assert(out.exists(_._3) && out.exists(!_._3),
      "fixture should both keep and drop")
    // target-likeness: English docs (the target slice) must score higher
    // on average than the rest — the whole point of importance weighting
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val (en, other) = out.partition(t => docs(t._1) == "en")
    assert(en.nonEmpty && other.nonEmpty)
    assert(en.map(_._2).sum.toDouble / en.length >
      other.map(_._2).sum.toDouble / other.length,
      "target-language docs must out-score the rest on average")
    // determinism: a second run reproduces the verdicts exactly
    val again = TextOps.t24DsirResample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(again == out.toSet)
  }
}
