package graft

import graft.api._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Drives the user-facing extension syntax (`import graft.api._`) the way a
  * library consumer would. */
class ApiSpec extends AnyFunSuite {
  private val spark = SparkSpec.session
  private val sf = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sf/documents.parquet")
  private def embs = spark.read.parquet(s"$sf/embeddings.parquet")

  test("text pipeline syntax composes on arbitrary DataFrames") {
    val out = docs
      .langId(col("text"))
      .textQuality(col("text"))
      .fingerprint(col("text"))
      .select("doc_id", "pred_lang", "keep", "fp_full")
    assert(out.count() == docs.count())
    assert(out.columns.toSet == Set("doc_id", "pred_lang", "keep", "fp_full"))
  }

  test("exactDedup groups by content digest") {
    val doubled = docs.select(col("doc_id"), col("text"))
      .unionAll(docs.select(col("doc_id") + 100000, col("text")))
    val groups = doubled.exactDedup(col("text"), col("doc_id"))
    assert(groups.count() == docs.count())
    assert(groups.filter(col("n_copies") === 2).count() == docs.count())
  }

  test("minHashDedupPairs finds planted near-duplicates") {
    // plant an exact duplicate pair: doc 0 cloned as id 999999
    val planted = docs.select(col("doc_id"), col("text"))
      .unionAll(docs.filter(col("doc_id") === 0)
        .select(lit(999999L).as("doc_id"), col("text")))
    val pairs = planted.minHashDedupPairs(col("doc_id"), col("text"))
    val hit = pairs.filter(col("doc_a") === 0 && col("doc_b") === 999999 &&
      col("jacc_permille") === 1000)
    assert(hit.count() == 1)
  }

  test("minHashDedupPairs rejects numPerm not divisible by bands") {
    val e = intercept[IllegalArgumentException] {
      docs.minHashDedupPairs(col("doc_id"), col("text"), numPerm = 30, bands = 8)
    }
    assert(e.getMessage.contains("divisible"))
  }

  test("cosineTopK ranks the clone first") {
    val clone = embs.filter(col("vec_id") === 0)
      .select(lit(999999L).as("vec_id"), col("embedding"), col("label"))
    val corpus = embs.select("vec_id", "embedding", "label").unionAll(clone)
    val top = corpus.cosineTopK(corpus.filter(col("vec_id") === 0),
      col("vec_id"), col("embedding"), k = 1)
    val row = top.collect().head
    assert(row.getLong(1) == 999999L) // nearest neighbor is the clone
    assert(row.getLong(3) == 1000000L) // cos = 1.0 exactly
  }

  test("cosineTopK keeps non-numeric ids intact (no silent long cast)") {
    // string doc ids: the old row_number path handled these; the bounded
    // heap must too — ids pass through the aggregate untouched and typed
    val named = embs.select(
      concat(lit("doc-"), col("vec_id")).as("vec_id"),
      col("embedding"))
    val top = named.cosineTopK(named.filter(col("vec_id") === "doc-0"),
      col("vec_id"), col("embedding"), k = 3)
    val rows = top.collect()
    assert(rows.length == 3)
    assert(rows.forall(_.getString(0) == "doc-0"))
    assert(rows.forall(r => r.getString(1).startsWith("doc-")), "ids must survive typed")
    assert(rows.map(_.getLong(2)).toSeq == Seq(1L, 2L, 3L))
    // same neighbors as the numeric-id run, modulo the prefix
    val numeric = embs.select("vec_id", "embedding")
      .cosineTopK(embs.filter(col("vec_id") === 0), col("vec_id"), col("embedding"), k = 3)
      .collect().map(r => s"doc-${r.getLong(1)}").toSeq
    assert(rows.map(_.getString(1)).toSeq == numeric)
  }

  test("packSequences: greedy next-fit invariants hold and the scan is deterministic") {
    val budget = 1000L
    val packed = docs.packSequences(col("lang"), col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long"), budget)
    val rows = packed.collect()
    assert(rows.length == docs.count())
    // per (shard, pack): fill <= budget unless the pack is a single
    // oversized doc; positions are 0..n-1 in doc_id order
    val byPack = rows.groupBy(r => (r.getString(0), r.getLong(3)))
    byPack.foreach { case ((s, p), ps) =>
      val fill = ps.map(_.getLong(2)).sum
      assert(fill <= budget || ps.length == 1, s"pack ($s,$p) overflows: $fill")
      val sorted = ps.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(4)).toSeq == ps.indices.map(_.toLong),
        s"pack ($s,$p) positions not contiguous in id order")
    }
    // greedy = no doc could have stayed in the previous pack: the first doc
    // of pack p+1 must not fit after pack p's fill
    byPack.toSeq.groupBy(_._1._1).foreach { case (_, packs) =>
      val ordered = packs.sortBy(_._1._2)
      ordered.sliding(2).foreach {
        case Seq((_, prev), (_, next)) =>
          val prevFill = prev.map(_.getLong(2)).sum
          val firstNext = next.minBy(_.getLong(1)).getLong(2)
          assert(prevFill + firstNext > budget,
            "doc moved to a new pack while the previous still had room")
        case _ => ()
      }
    }
    // deterministic: a second run produces the identical assignment
    val again = docs.packSequences(col("lang"), col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long"), budget).collect()
    assert(again.map(_.toSeq).toSet == rows.map(_.toSeq).toSet)
  }

  test("cosineNearDupPairs DEFAULTS to the blockless ANN path and finds a planted clone") {
    val clone = embs.filter(col("vec_id") === 0)
      .select(lit(999999L).as("vec_id"), col("embedding"), col("label"))
    val corpus = embs.select("vec_id", "embedding", "label").unionAll(clone)
    // the default entry point takes NO blocking column: it must be the
    // sub-quadratic LSH form (the 100 TB path), per SCALE.md
    val pairs = corpus.cosineNearDupPairs(col("vec_id"), col("embedding"),
      threshold = 0.99, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // identical vectors share every LSH band, so the clone pair must appear
    assert(pairs.exists(p => p._1 == 0L && p._2 == 999999L && p._3 == 1000000L))
    // the explicit ANN name stays available and agrees with the default
    val annPairs = corpus.cosineNearDupPairsAnn(col("vec_id"), col("embedding"),
      threshold = 0.99, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(annPairs.toSet == pairs.toSet)
  }

  test("quantizedTopK ranks the exact clone first through the integer prefilter") {
    val clone = embs.filter(col("vec_id") === 0)
      .select(lit(999999L).as("vec_id"), col("embedding"), col("label"))
    val corpus = embs.select("vec_id", "embedding", "label").unionAll(clone)
    val top = corpus.quantizedTopK(corpus.filter(col("vec_id") === 0),
      col("vec_id"), col("embedding"), k = 1, candidates = 8)
    val row = top.collect().head
    assert(row.getLong(1) == 999999L) // identical codes -> max integer dot
    assert(row.getLong(3) == 1000000L) // exact rerank: cos = 1.0
  }

  test("editDistancePairs: bounded distances, length gate, block isolation") {
    import spark.implicits._
    val df = Seq(
      (1L, "abcdefghij", "b"),
      (2L, "abcdefghiX", "b"), // dist 1 to id 1
      (3L, "a completely different long text", "b"), // length gap > maxDist: gated out
      (4L, "abcdef", "b"),     // dist 4 to ids 1 and 2 (4 deletions)
      (5L, "abcdefghij", "OTHER_BLOCK") // identical text, different block: excluded
    ).toDF("id", "text", "blk")
    val pairs = df.editDistancePairs(col("id"), col("text"), Seq(col("blk")), maxDist = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((1L, 2L, 1L), (1L, 4L, 4L), (2L, 4L, 4L)))
  }

  test("char_hist_l1 bound: l1 <= 2 * levenshtein on random string pairs") {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    val alphabets = Seq("ab", "abcdefgh", "日本語中文字漢")
    val pairs = (1 to 300).map { i =>
      val alpha = alphabets(i % alphabets.size)
      def mk(n: Int) = Seq.fill(n)(alpha(rng.nextInt(alpha.length))).mkString
      (mk(1 + rng.nextInt(30)), mk(1 + rng.nextInt(30)))
    }
    val out = pairs.toDF("a", "b")
      .select(graft.functions.CharHistL1(col("a"), col("b")).as("l1"),
        org.apache.spark.sql.functions.levenshtein(col("a"), col("b")).as("d"))
      .collect()
    out.foreach { r =>
      assert(r.getInt(0) <= 2 * r.getInt(1),
        s"bound violated: l1=${r.getInt(0)} dist=${r.getInt(1)}")
    }
    // and it is exactly 0 on equal strings (sanity of the bucketing)
    val z = Seq(("同じ文字列です", "同じ文字列です")).toDF("a", "b")
      .select(graft.functions.CharHistL1(col("a"), col("b"))).collect().head.getInt(0)
    assert(z == 0)
  }

  test("decontaminationReport flags exactly the planted gram overlap") {
    import spark.implicits._
    val train = Seq(
      (1L, "a b c d e f g"), // contains eval 5-gram "a b c d e"
      (2L, "z y x w v u t"), // clean
      (3L, "q a b c d e r"), // contains "a b c d e"
      (4L, "a b")            // shorter than n: no grams, must not crash
    ).toDF("doc_id", "text")
    val evalSet = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    val out = train.decontaminationReport(evalSet, col("doc_id"), col("text"), n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(1L -> 1L, 3L -> 1L))
  }

  test("membershipReport is exact even at an absurd sketch fpp") {
    import spark.implicits._
    val corpus = (1L to 200L).map(i => (i, s"key-${i % 50}")).toDF("id", "k")
    val reference = Seq("key-7", "key-13", "key-999").toDF("k")
    // fpp 0.5 floods the prefilter with false positives; the verify join
    // must still return exactly the true members
    val got = corpus.membershipReport(col("k"), col("id"), reference, col("k"),
      expectedItems = 3L, fpp = 0.5)
      .collect().map(_.getLong(0)).toSet
    val want = (1L to 200L).filter(i => i % 50 == 7 || i % 50 == 13).toSet
    assert(got == want)
    // empty reference: nothing can match, no crash on the null sketch
    assert(corpus.membershipReport(col("k"), col("id"),
      reference.limit(0), col("k")).count() == 0L)
  }

  test("qualityClassifierScore: integer logit fold, bigram features, 0-threshold keep") {
    import spark.implicits._
    val df = Seq((1L, "good good"), (2L, "bad"), (3L, "x")).toDF("doc_id", "text")
    val b = 64
    def bucketOf(s: String): Long = {
      val h = java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(s).take(15), 16)
      h % b
    }
    // weights: +500 for every "good"-related feature, -500 for "bad", else 0
    val pos = Set(bucketOf("good"), bucketOf("good good"))
    val neg = Set(bucketOf("bad"))
    val weights = (0 until b).map { bk =>
      (bk.toLong, if (pos.contains(bk.toLong)) 500L
        else if (neg.contains(bk.toLong)) -500L else 0L)
    }.toDF("bucket", "weight_milli")
    val out = df.qualityClassifierScore(col("doc_id"), col("text"), weights, b)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    // doc 1: features good, good, "good good" -> n=3, logit 1500, keep
    assert(out(1L) == ((3L, 1500L, true)), s"got ${out(1L)}")
    assert(out(2L) == ((1L, -500L, false)))
    // unknown feature: weight 0 counts as neutral, keeps at threshold 0
    assert(out(3L)._1 == 1L && out(3L)._3)
  }

  test("redactPii replaces every email/IP/phone and counts each kind") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail a@b.co and c.d+x@e-f.org, host 10.0.0.1 then 192.168.1.255, call +4915512345"),
      (2L, "clean text with version 1.2 and price +99")).toDF("id", "text")
    val out = Pipelines.redactPii(df, col("text")).orderBy("id").collect()
    assert(out(0).getAs[Long]("n_emails") == 2)
    assert(out(0).getAs[Long]("n_ips") == 2)
    assert(out(0).getAs[Long]("n_phones") == 1)
    assert(out(0).getAs[String]("redacted") ==
      "mail <EMAIL> and <EMAIL>, host <IP> then <IP>, call <PHONE>")
    // short digit runs and bare version numbers are not PII
    assert(out(1).getAs[Long]("n_emails") + out(1).getAs[Long]("n_ips") +
      out(1).getAs[Long]("n_phones") == 0)
    assert(out(1).getAs[String]("redacted").endsWith("price +99"))
  }

  test("c4Filters applies the published line and page rules exactly") {
    import spark.implicits._
    val good = "this line has enough words to survive."
    val pages = Seq(
      (1L, Seq(good, good, good).mkString("\n")),                    // clean keep
      (2L, Seq(good, "too short.", "no terminal punct here at all",
        good, good).mkString("\n")),                                 // line drops only
      (3L, Seq(good, good, "please enable javascript to continue.").mkString("\n")), // js line -> <3 kept
      (4L, Seq(good, good, good, "code { inside } page.").mkString("\n")), // brace page drop
      (5L, Seq(good, good, good, "classic lorem ipsum filler text here.").mkString("\n")) // lorem drop
    ).toDF("id", "text")
    val out = pages.c4Filters(col("text"))
      .select("id", "n_lines", "n_kept", "page_keep", "cleaned")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(out(1) == (3L, 3L, 1L, Seq(good, good, good).mkString("\n")))
    assert(out(2) == (5L, 3L, 1L, Seq(good, good, good).mkString("\n")),
      "short and punctuation-less lines drop; page survives with 3 kept")
    assert(out(3)._3 == 0L, "fewer than 3 surviving lines drops the page")
    assert(out(4)._3 == 0L && out(4)._4 == "", "curly brace drops the page")
    assert(out(5)._3 == 0L, "lorem ipsum drops the page")
  }

  test("canonicalizeUrls strips scheme/www/tracking/fragment/trailing-slash noise") {
    import spark.implicits._
    val urls = Seq(
      (1L, "https://WWW.Example.com/A/B/?utm_source=x&page=2#frag"),
      (2L, "http://example.com/A/B?page=2&gclid=zz"),   // same canonical as 1
      (3L, "example.com/A/B?page=2"),                   // schemeless: same again
      (4L, "https://example.com/A/B?page=3"),           // different surviving param
      (5L, "https://other.org"),                        // bare host, no path
      (6L, "http://Other.ORG/?utm_medium=a&utm_term=b") // all params tracked away
    ).toDF("id", "url")
    val out = urls.canonicalizeUrls(col("url"))
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("host"), r.getAs[String]("canonical_url"))).toMap
    assert(out(1) == ("example.com", "example.com/A/B?page=2"))
    assert(out(2) == out(1) && out(3) == out(1), "noise variants must collide")
    assert(out(4) == ("example.com", "example.com/A/B?page=3"))
    assert(out(5) == ("other.org", "other.org"))
    assert(out(6) == ("other.org", "other.org"), "tracked-only query drops entirely")
  }

  test("chunkByTokens covers every token; overlap and tail semantics exact") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "a b"),                                    // shorter than one chunk
      (3L, "")                                        // degenerate: [""] = 1 token
    ).toDF("id", "text")
    val out = docs.chunkByTokens(col("id"), col("text"), chunkTokens = 8, overlap = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 1: n=10, stride=4 -> ceil((10-4)/4)=2 chunks: [0,8) and [4,10)
    assert(out.filter(_._1 == 1L).toSet ==
      Set((1L, 0L, 0L, 8L), (1L, 1L, 4L, 6L)))
    // short and empty docs emit exactly one chunk each
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0L, 0L, 2L)))
    assert(out.filter(_._1 == 3L).toSeq == Seq((3L, 0L, 0L, 1L)))
    // no chunk may be fully contained in its predecessor: every chunk past
    // idx 0 must end strictly later than the previous one
    val ends = out.filter(_._1 == 1L).sortBy(_._2).map(c => c._3 + c._4)
    assert(ends.sameElements(ends.sorted.distinct), s"chunk ends $ends")
  }

  test("retrieval + sampling + hamming syntax (the late-wave surface)") {
    val bm = docs.bm25TopK(docs.filter(col("doc_id") < 2),
      col("doc_id"), col("text"), k = 3)
    assert(bm.columns.toSeq == Seq("q_id", "n_id", "rnk", "score_micro"))
    assert(bm.count() == 6)
    val temp = docs.temperatureSample(col("lang"), col("doc_id"))
    assert(temp.count() > 0 && temp.count() <= docs.count())
    val red = docs.redactPii(col("text"))
    assert(red.columns.contains("redacted"))
    val fan = embs.filteredAnnTopK(embs.filter(col("vec_id") < 3),
      col("vec_id"), col("embedding"), col("label"), k = 2, dim = 64)
    assert(fan.columns.toSeq == Seq("q_id", "n_id", "rnk", "cos_micro"))
    val mmr = embs.mmrTopK(embs.filter(col("vec_id") < 2),
      col("vec_id"), col("embedding"), k = 3, candidates = 10)
    assert(mmr.count() == 6)
    val codes = docs.select(col("doc_id"),
      xxhash64(col("lang")).as("code")) // same-lang docs share a code
    val hp = codes.hammingNearDupPairs(col("doc_id"), col("code"), maxHamming = 0)
    assert(hp.count() > 0 && hp.columns.toSeq == Seq("doc_a", "doc_b", "hamming"))
  }

  test("hamming bucket cap bounds a degenerate identical-code corpus") {
    import spark.implicits._
    // 500 documents sharing ONE code — the duplicate-heavy degeneracy
    // (boilerplate pages collapsing to one SimHash): uncapped, the
    // (chunk, chunk_val) self-join would generate 4 * 500²/2 candidates
    val degenerate = (1L to 500L).map(i => (i, 0x0123456789ABCDEFL))
      .toDF("doc_id", "code")
    // cap at 20 members/bucket -> candidates bounded by 4 buckets * C(20,2)
    val capped = graft.api.Pipelines.hammingNearDupPairs(
      degenerate, col("doc_id"), col("code"), maxHamming = 0, bucketCap = 20)
    val n = capped.count()
    assert(n > 0 && n <= 4 * 20 * 19 / 2,
      s"capped candidate pairs out of bound: $n")
    // the kept set is deterministic (seedless hash ranking): same answer
    // on a rerun regardless of partitioning
    val again = graft.api.Pipelines.hammingNearDupPairs(
      degenerate.repartition(7), col("doc_id"), col("code"),
      maxHamming = 0, bucketCap = 20)
    assert(again.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    // default cap is far above gate cardinalities: results unchanged
    val uncapped = graft.api.Pipelines.hammingNearDupPairs(
      degenerate.limit(50), col("doc_id"), col("code"),
      maxHamming = 0, bucketCap = 0)
    val default = graft.api.Pipelines.hammingNearDupPairs(
      degenerate.limit(50), col("doc_id"), col("code"), maxHamming = 0)
    assert(uncapped.count() == default.count())
  }

  test("hammingNearDupPairs releases its cached chunks when the verify fails") {
    spark.catalog.clearCache()
    // the bits column raises only when the eager verify runs
    val codes = docs.select(col("doc_id"), raise_error(lit("bad code")).cast("long").as("code"))
    intercept[Exception] {
      graft.api.Pipelines.hammingNearDupPairs(codes, col("doc_id"), col("code"), maxHamming = 3)
    }
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("persisted IVF index answers exactly what the in-memory path answers") {
    val e = embs
    val dir = java.nio.file.Files.createTempDirectory("apiivf")
      .resolve("ivf").toString
    // build without every 7th vector, append them, search through the api
    // syntax — the persisted path must equal ivfTopK over the SAME corpus
    // (same centroids, same assignment, same tiebreaks)
    e.filter(col("vec_id") % 7 =!= 0)
      .buildIvfIndex(col("vec_id"), col("embedding"), dim = 64, indexPath = dir)
    e.filter(col("vec_id") % 7 === 0)
      .appendToIvfIndex(col("vec_id"), col("embedding"), dir)
    val queries = e.filter(col("vec_id") < 6)
    val persisted = queries
      .ivfIndexTopK(col("vec_id"), col("embedding"), dir, k = 3, nProbe = 8)
      .collect().map(_.toSeq).toSet
    val inMemory = graft.api.Pipelines.ivfTopK(e, queries,
      col("vec_id"), col("embedding"), k = 3, dim = 64,
      nCentroids = 16, nProbe = 8)
      .collect().map(_.toSeq).toSet
    assert(persisted == inMemory,
      s"persisted != in-memory: ${persisted.diff(inMemory)} / ${inMemory.diff(persisted)}")
    // a non-index table refuses with guidance
    val plain = java.nio.file.Files.createTempDirectory("apiivf2")
      .resolve("t").toString
    e.limit(5).write.format("gwdelta").mode("append").save(plain)
    val err = intercept[IllegalArgumentException](
      queries.ivfIndexTopK(col("vec_id"), col("embedding"), plain, 3, 8))
    assert(err.getMessage.contains("buildIvfIndex"))
  }

  test("persisted IVF+PQ index: probe-all search equals the in-memory PQ path") {
    val e = embs.filter(col("vec_id") < 200)
    val dir = java.nio.file.Files.createTempDirectory("apiivfpq")
      .resolve("ivfpq").toString
    graft.api.Pipelines.buildIvfPqIndex(
      e, col("vec_id"), col("embedding"), dim = 64, indexPath = dir)
    val queries = e.filter(col("vec_id") < 5)
    // probing every list removes the IVF filter, so the index path must
    // reproduce pqTopK over the same corpus EXACTLY (same codebooks, same
    // argmax-code ties, same left-to-right ADC sum, same shortlist heap)
    val persisted = graft.api.Pipelines.ivfPqIndexTopK(queries,
      col("vec_id"), col("embedding"), dir, k = 3, nProbe = 16, candidates = 20)
      .collect().map(_.toSeq).toSet
    val inMemory = graft.api.Pipelines.pqTopK(e, queries,
      col("vec_id"), col("embedding"), k = 3, dim = 64, candidates = 20)
      .collect().map(_.toSeq).toSet
    assert(persisted == inMemory,
      s"persisted != pq in-memory: ${persisted.diff(inMemory)} / ${inMemory.diff(persisted)}")
    // a plain IVF index (no codebooks in config) refuses with guidance
    val plain = java.nio.file.Files.createTempDirectory("apiivfpq2")
      .resolve("ivf").toString
    e.buildIvfIndex(col("vec_id"), col("embedding"), dim = 64, indexPath = plain)
    val err = intercept[IllegalArgumentException](
      graft.api.Pipelines.ivfPqIndexTopK(queries,
        col("vec_id"), col("embedding"), plain, 3, 8, 20))
    assert(err.getMessage.contains("buildIvfPqIndex"))
  }

  test("centroidScores: literal and large-matrix representations agree bitwise") {
    val e = embs.limit(100)
    val cents = graft.api.Pipelines.hyperplanes(12, 64)
    def collectScores(force: Boolean) = e.select(col("vec_id"),
      graft.api.Pipelines.centroidScores(col("embedding"), cents,
        forceLarge = force).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val viaLiterals = collectScores(false)
    val viaMatrix = collectScores(true)
    // bitwise equality: both paths accumulate left to right in doubles,
    // so the large-deployment representation changes NOTHING downstream
    // (assignment argmax, probe ranking, every oracle)
    viaLiterals.foreach { case (id, s) =>
      assert(s.map(java.lang.Double.doubleToLongBits) ==
        viaMatrix(id).map(java.lang.Double.doubleToLongBits),
        s"representations diverged for vec $id")
    }
    // and a beyond-the-literal-limit IVF search runs end to end through
    // the matrix path (300 centroids > LiteralCentroidMax)
    val big = graft.api.Pipelines.ivfTopK(embs.limit(400),
      embs.filter(col("vec_id") < 3), col("vec_id"), col("embedding"),
      k = 3, dim = 64, nCentroids = 300, nProbe = 20)
    assert(big.count() == 9, "3 queries x k=3 through the matrix path")
  }

  test("NormalizeText: ascii fast path and unicode path share one contract") {
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    val f = graft.functions.NormalizeText
    // ascii fast path: lowercase, collapse, trim — no allocation
    assert(f.normalize(u("  Hello   WORLD\t\r\n")) == u("hello world"))
    assert(f.normalize(u("plain")) == u("plain"))
    assert(f.normalize(u("")) == u(""))
    assert(f.normalize(u("   ")) == u(""))
    // unicode path: NFD-form composes, accents fold, İ has no Turkish
    // surprise (mark strips before the ROOT lowercase)
    assert(f.normalize(u("Café  NAÏVE")) == u("cafe naive"))
    assert(f.normalize(u("İstanbul")) == u("istanbul"))
    assert(f.normalize(u("Façade — Øre")) == u("facade — øre"))
    // a single non-ascii char must not change the ascii subset's behavior
    assert(f.normalize(u("A  b é  c")) == u("a b e c"))
    // and the codegen path through a real query agrees with eval
    import spark.implicits._
    val out = Seq("  MiXeD   Case ", "Café x")
      .toDF("t").normalizeText(col("t"))
      .select("norm").collect().map(_.getString(0)).toSeq
    assert(out == Seq("mixed case", "cafe x"))
  }

  test("temperatureSample refuses a high-cardinality group column loudly") {
    import spark.implicits._
    val wide = (1L to 500L).map(i => (i, s"g$i")).toDF("id", "g")
    val e = intercept[IllegalArgumentException](
      graft.api.Pipelines.temperatureSample(
        wide, col("g"), col("id"), maxGroups = 100))
    assert(e.getMessage.contains("maxGroups"))
    // within bounds it still works
    assert(graft.api.Pipelines.temperatureSample(
      wide, col("g"), col("id"), maxGroups = 1000).count() == 500L)
  }

  test("temperatureSample keeps NULL-group rows at their own derived rate") {
    import spark.implicits._
    // 3 sources, one of them NULL: a plain === join would silently drop
    // every null-group row; the null-safe join must keep them — and the
    // NULL group is the smallest source, so its rate is 1000 permille
    // (kept in full)
    val rows = (1L to 200L).map(i => (i, "big")) ++
      (201L to 260L).map(i => (i, "mid")) ++
      (261L to 270L).map(i => (i, null: String))
    val df = rows.toDF("id", "g")
    val kept = graft.api.Pipelines.temperatureSample(df, col("g"), col("id"))
    assert(kept.filter(col("g").isNull).count() == 10L,
      "the smallest (NULL) source must be kept in full, not dropped by the join")
    assert(kept.count() < 270L, "larger sources must downsample")
  }

  test("semanticDecontaminationReport refuses a corpus-sized eval set loudly") {
    val e = intercept[IllegalArgumentException](
      graft.api.Pipelines.semanticDecontaminationReport(
        embs, embs, col("vec_id"), col("embedding"),
        thresholdMicro = 990000L, maxEvalRows = 10).count())
    assert(e.getMessage.contains("maxEvalRows") &&
      e.getMessage.contains("broadcast"),
      s"guard must carry guidance: ${e.getMessage}")
    // benchmark-sized eval still works
    assert(graft.api.Pipelines.semanticDecontaminationReport(
      embs, embs.filter(col("vec_id") < 5), col("vec_id"), col("embedding"),
      thresholdMicro = 999999L).count() >= 5)
  }

  test("hammingBucketAudit names exactly the over-cap buckets") {
    import spark.implicits._
    val degenerate = (1L to 100L).map(i => (i, 0x0123456789ABCDEFL))
      .toDF("doc_id", "code")
    // 100 identical codes: all 4 chunks overflow a cap of 60
    val audit = graft.api.Pipelines.hammingBucketAudit(
      degenerate, col("doc_id"), col("code"), bucketCap = 60).collect()
    assert(audit.length == 4, s"expected 4 over-cap buckets, got ${audit.length}")
    assert(audit.forall(r => r.getAs[Long]("members") == 100L &&
      r.getAs[Long]("dropped") == 40L))
    // a spread-out corpus certifies unconditional recall: empty audit
    val spread = (1L to 100L).map(i => (i, i * 0x9E3779B97F4A7C15L))
      .toDF("doc_id", "code")
    assert(graft.api.Pipelines.hammingBucketAudit(
      spread, col("doc_id"), col("code"), bucketCap = 60).count() == 0L)
  }

  test("bpeTrain learns the hand-computed merges on the classic corpus") {
    import spark.implicits._
    // Sennrich et al. 2016's worked example, char-level without the
    // end-of-word marker: low x5, lower x2, newest x6, widest x3.
    val corpus = Seq((Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" "))
      .toDF("text")
    val (merges, words) = graft.api.Pipelines.bpeTrain(corpus, "text", 3)
    // round 1: es/st tie at 9 -> pair-ASC tie-break picks "es";
    // round 2: (\uE000="es") "\uE000t" at 9 (newest 6 + widest 3);
    // round 3: lo/ow tie at 7 -> "lo".
    assert(merges == Seq((1, "es", 9L), (2, "\uE000t", 9L), (3, "lo", 7L)),
      s"got $merges")
    // replacement is invertible: distinct words stay distinct, and the
    // final state pairs are the hand-derived ones
    val state = words.as[(String, Long)].collect().toMap
    assert(state == Map(
      "\uE002w" -> 5L, "\uE002wer" -> 2L, "new\uE001" -> 6L, "wid\uE001" -> 3L),
      s"got $state")
    val p4 = graft.api.Pipelines.bpePairStats(words)
      .as[(String, Long)].collect().toMap
    assert(p4("\uE002w") == 7L && p4("ne") == 6L && p4("w\uE001") == 6L &&
      p4("d\uE001") == 3L && p4.get("es").isEmpty, s"got $p4")
  }

  test("incrementalExactDedup: membership grows across batches, txn replay is a no-op") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("incdedup")
      .resolve("fpidx").toString
    graft.api.Pipelines.buildFingerprintIndex(
      Seq((1L, "aaa"), (2L, "bbb")).toDF("id", "text"),
      col("id"), col("text"), idx)
    val b1 = Seq((3L, "aaa"), (4L, "ccc"), (5L, "ccc")).toDF("id", "text")
    val r1 = graft.api.Pipelines.incrementalExactDedup(
      b1, col("id"), col("text"), idx, txnId = Some("t/1"))
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(2), r.getBoolean(3), r.getBoolean(4))).toMap
    assert(r1(3L) == ((true, false, false)), s"dup of history: ${r1(3L)}")
    assert(r1(4L) == ((false, false, true)), "first ccc is kept")
    assert(r1(5L) == ((false, true, false)), "second ccc is an in-batch dup")
    val t = graft.GwTable.forPath(spark, idx)
    val v1 = t.snapshot().version
    // replaying batch 1's txn commits nothing
    graft.api.Pipelines.incrementalExactDedup(
      b1, col("id"), col("text"), idx, txnId = Some("t/1"))
    assert(t.snapshot().version == v1)
    // batch 2 sees batch 1's survivor as already-indexed
    val r2 = graft.api.Pipelines.incrementalExactDedup(
      Seq((6L, "ccc"), (7L, "ddd")).toDF("id", "text"),
      col("id"), col("text"), idx, txnId = Some("t/2"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(!r2(6L), "batch-2 dup of a batch-1 survivor must drop")
    assert(r2(7L), "a never-seen digest is kept")
    // the index now holds all four distinct digests with first-seen ids
    val state = spark.read.format("gwdelta").load(idx)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(state.values.toSet == Set(1L, 2L, 4L, 7L), s"got $state")
    // over the broadcast threshold the digest-keyed SHUFFLE semi-join
    // must answer identically (fresh index, same batch 1)
    val idx2 = java.nio.file.Files.createTempDirectory("incdedup2")
      .resolve("fpidx").toString
    graft.api.Pipelines.buildFingerprintIndex(
      Seq((1L, "aaa"), (2L, "bbb")).toDF("id", "text"),
      col("id"), col("text"), idx2)
    val r1s = graft.api.Pipelines.incrementalExactDedup(
      b1, col("id"), col("text"), idx2, broadcastMaxDigests = 0L)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(2), r.getBoolean(3), r.getBoolean(4))).toMap
    assert(r1s == r1, s"shuffle path diverged: $r1s vs $r1")
  }

  test("mergeClusterBatch: only touched components rewrite; labels merge; replay is a no-op") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("clmaint")
      .resolve("clidx").toString
    // three appends -> disjoint file sets, each holding one component
    graft.api.Pipelines.buildClusterIndex(
      Seq((4L, 5L)).toDF("a", "b"), col("a"), col("b"), idx)
    val t = graft.GwTable.forPath(spark, idx)
    val bootFiles = t.snapshot().files.map(_.path).toSet
    graft.streaming.GwSink.append(
      Seq((10L, 10L), (11L, 10L)).toDF("node", "component"), idx)
    val comp10Files = t.snapshot().files.map(_.path).toSet -- bootFiles
    graft.streaming.GwSink.append(
      Seq((20L, 20L), (21L, 20L)).toDF("node", "component"), idx)
    val comp20Files = t.snapshot().files.map(_.path).toSet --
      bootFiles -- comp10Files
    assert(bootFiles.nonEmpty && comp10Files.nonEmpty && comp20Files.nonEmpty)
    // batch: (5,30) extends component 4 with a new node; (2,10) merges a
    // SMALLER new node into component 10, relabeling its members to 2;
    // component 20 is untouched. The merge reads membership + this
    // batch's edges only — never any prior batch's edge history.
    val batch = Seq((5L, 30L), (2L, 10L)).toDF("a", "b")
    val ups = graft.api.Pipelines.mergeClusterBatch(
      batch, col("a"), col("b"), idx, txnId = Some("cm/1"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(ups == Set((10L, 2L, true), (11L, 2L, true),
      (30L, 4L, false), (2L, 2L, false)), s"got $ups")
    // file-level minimal-rewrite pin: only component 10's file (the one
    // holding matched rows) was rewritten; components 4 and 20 survive
    val live = t.snapshot().files.map(_.path).toSet
    assert(bootFiles.subsetOf(live), "component 4's rows were relabel-free")
    assert(comp20Files.subsetOf(live), "untouched component 20 must not rewrite")
    assert((comp10Files & live).isEmpty, "component 10's file must be replaced")
    // final membership equals the from-scratch recompute over all edges
    val fin = spark.read.format("gwdelta").load(idx)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fin == Map(4L -> 4L, 5L -> 4L, 30L -> 4L,
      10L -> 2L, 11L -> 2L, 2L -> 2L, 20L -> 20L, 21L -> 20L), s"got $fin")
    // exactly-once: the replayed txn upserts and commits nothing
    val v = t.snapshot().version
    val rep = graft.api.Pipelines.mergeClusterBatch(
      batch, col("a"), col("b"), idx, txnId = Some("cm/1"))
    assert(rep.isEmpty && t.snapshot().version == v)
    // an all-intra-component batch (no merges, no new nodes) is a no-op
    val noop = graft.api.Pipelines.mergeClusterBatch(
      Seq((4L, 5L)).toDF("a", "b"), col("a"), col("b"), idx,
      txnId = Some("cm/2"))
    assert(noop.isEmpty && t.snapshot().version == v)
  }

  test("incrementalSemanticDedup: clones drop across batches; forget re-admits") {
    import spark.implicits._
    val dim = 8
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val rng = new scala.util.Random(7)
    def rand() = unit(Array.fill(dim)(rng.nextGaussian()))
    val base = (0L until 6L).map(i => (i, rand()))
    val idx = java.nio.file.Files.createTempDirectory("semdedup")
      .resolve("embidx").toString
    graft.api.Pipelines.buildEmbeddingIndex(
      base.toDF("id", "emb"), col("id"), col("emb"), dim, idx, nPlanes = 16)
    // batch 1: a clone of history vector 2 (drops), a fresh vector (kept),
    // and an in-batch clone pair (larger id drops)
    val fresh = rand(); val pairv = rand()
    val b1 = Seq((10L, base(2)._2), (11L, fresh), (12L, pairv), (13L, pairv))
      .toDF("id", "emb")
    val r1 = graft.api.Pipelines.incrementalSemanticDedup(
      b1, col("id"), col("emb"), idx, thresholdMicro = 999000L,
      txnId = Some("sem/1"))
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toMap
    assert(r1(10L) == ((true, false, false)), s"clone of history: ${r1(10L)}")
    assert(r1(11L) == ((false, false, true)), s"fresh vector kept: ${r1(11L)}")
    assert(r1(12L) == ((false, false, true)) &&
      r1(13L) == ((false, true, false)), s"in-batch pair: ${r1(12L)} ${r1(13L)}")
    val t = graft.GwTable.forPath(spark, idx)
    val v1 = t.snapshot().version
    // replay: same report, no commit
    val r1b = graft.api.Pipelines.incrementalSemanticDedup(
      b1, col("id"), col("emb"), idx, thresholdMicro = 999000L,
      txnId = Some("sem/1"))
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toMap
    assert(r1b == r1 && t.snapshot().version == v1)
    // batch 2 sees batch-1 survivors as members; forget re-admits
    val r2 = graft.api.Pipelines.incrementalSemanticDedup(
      Seq((20L, fresh)).toDF("id", "emb"), col("id"), col("emb"), idx,
      thresholdMicro = 999000L, txnId = Some("sem/2"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(!r2(20L), "a clone of a batch-1 survivor must drop")
    assert(graft.api.Pipelines.forgetEmbeddings(
      Seq(11L).toDF("id"), col("id"), idx) > 0)
    assert(graft.api.Pipelines.forgetEmbeddings(
      Seq(11L).toDF("id"), col("id"), idx) == -1L, "second forget = no-op")
    val r3 = graft.api.Pipelines.incrementalSemanticDedup(
      Seq((30L, fresh)).toDF("id", "emb"), col("id"), col("emb"), idx,
      thresholdMicro = 999000L, txnId = Some("sem/3"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(r3(30L), "a clone of a FORGOTTEN vector must be re-admitted")
  }

  test("incrementalFuzzyDedup: the estimator separates high from low Jaccard") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("fuzzyest")
      .resolve("mhidx").toString
    val w = (1 to 100).map(i => s"w$i")
    val a = w.mkString(" ")                                        // reference
    val b = (w.take(90) ++ (91 to 100).map(i => s"u$i")).mkString(" ") // J ~ 0.8
    val c = (w.take(20) ++ (21 to 100).map(i => s"v$i")).mkString(" ") // J ~ 0.16
    graft.api.Pipelines.buildMinHashIndex(
      Seq((1L, a)).toDF("id", "text"), col("id"), col("text"), idx)
    val rep = graft.api.Pipelines.incrementalFuzzyDedup(
      Seq((2L, b), (3L, c)).toDF("id", "text"), col("id"), col("text"),
      idx, thresholdPermille = 700)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(rep(2L), "J~0.8 must estimate over the 0.7 threshold")
    assert(!rep(3L), "J~0.16 must estimate under the 0.7 threshold")
  }

  test("incrementalFuzzyDedup: index bucket cap bounds membership per bucket") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("fuzzycap")
      .resolve("mhidx").toString
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    // B = A with one word changed: most lanes (mins over all shingles)
    // survive, so A and B share many band buckets — but under
    // threshold 1000 (ALL lanes must match) B is KEPT
    val a = Seq((1L, base)).toDF("id", "text")
    val b = Seq((2L, base.replace("w20", "zzz"))).toDF("id", "text")
    graft.api.Pipelines.buildMinHashIndex(a, col("id"), col("text"), idx)
    val rep = graft.api.Pipelines.incrementalFuzzyDedup(
      b, col("id"), col("text"), idx, thresholdPermille = 1000,
      txnId = None, indexBucketCap = 1)
      .collect()
    assert(rep.length == 1 && rep.head.getBoolean(3), "B must be kept")
    val byBucket = spark.read.format("gwdelta").load(idx)
      .groupBy("band", "bucket")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect()
    assert(byBucket.forall(_.getLong(2) == 1L),
      s"cap=1 must keep every bucket at one member: ${byBucket.mkString(", ")}")
    // B still advertises through its unsaturated bands — but the bands it
    // shares with A (6 of 8 under the multiply-mod family) are capped out
    val bRows = spark.read.format("gwdelta").load(idx)
      .filter(col("doc_id") === 2L).count()
    assert(bRows >= 1 && bRows < 8,
      s"kept doc must append ONLY through unsaturated bands, got $bRows rows")
  }

  test("incrementalExactDedup: a replayed txn returns the FIRST attempt's report") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("replayexact")
      .resolve("fpidx").toString
    graft.api.Pipelines.buildFingerprintIndex(
      Seq((1L, "aaa")).toDF("id", "text"), col("id"), col("text"), idx)
    val b = Seq((2L, "aaa"), (3L, "bbb"), (4L, "bbb")).toDF("id", "text")
    def run() = graft.api.Pipelines.incrementalExactDedup(
        b, col("id"), col("text"), idx, txnId = Some("s/7"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4))).sortBy(_._1).toSeq
    val first = run()
    assert(first.map(t => t._1 -> t._5).toMap == Map(2L -> false, 3L -> true, 4L -> false))
    // the crash-retry window: the index now holds doc 3's digest from the
    // first attempt — the replayed report must NOT invert kept to false
    val replay = run()
    assert(replay == first,
      s"replayed report diverged:\n  first  $first\n  replay $replay")
  }

  test("incrementalFuzzyDedup: a replayed txn returns the FIRST attempt's report") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("replayfuzzy")
      .resolve("mhidx").toString
    val w = (1 to 60).map(i => s"w$i")
    val a = w.mkString(" ")
    val near = (w.take(55) ++ (56 to 60).map(i => s"u$i")).mkString(" ")
    val far = (1 to 60).map(i => s"z$i").mkString(" ")
    graft.api.Pipelines.buildMinHashIndex(
      Seq((1L, a)).toDF("id", "text"), col("id"), col("text"), idx)
    val b = Seq((2L, near), (3L, far)).toDF("id", "text")
    def run() = graft.api.Pipelines.incrementalFuzzyDedup(
        b, col("id"), col("text"), idx, thresholdPermille = 600,
        txnId = Some("s/9"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3))).sortBy(_._1).toSeq
    val first = run()
    assert(first.map(t => t._1 -> t._4).toMap == Map(2L -> false, 3L -> true),
      s"got $first")
    // doc 3's own signatures are in the index now; the replay must not
    // self-match them into dup_of_index
    val replay = run()
    assert(replay == first,
      s"replayed report diverged:\n  first  $first\n  replay $replay")
    assert(graft.GwTable.forPath(spark, idx).snapshot().version == 1L,
      "replay must not re-commit")
  }

  test("incrementalFuzzyDedup: broadcast and shuffle census paths agree byte-for-byte") {
    import spark.implicits._
    val docs = (1 to 12).map(i => (i.toLong,
      (1 to 40).map(j => s"w${(i % 4) * 100 + j}").mkString(" ")))
    def run(maxKeys: Long) = {
      val idx = java.nio.file.Files.createTempDirectory(s"fuzzypath$maxKeys")
        .resolve("mhidx").toString
      graft.api.Pipelines.buildMinHashIndex(
        docs.take(4).toDF("id", "text"), col("id"), col("text"), idx)
      val rep = graft.api.Pipelines.incrementalFuzzyDedup(
          docs.drop(4).toDF("id", "text"), col("id"), col("text"), idx,
          thresholdPermille = 900, broadcastMaxKeys = maxKeys)
        .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
          r.getBoolean(3))).sortBy(_._1).toSeq
      val state = spark.read.format("gwdelta").load(idx)
        .select("band", "bucket", "doc_id")
        .as[(Int, String, Long)].collect().sorted.toSeq
      (rep, state)
    }
    val (repB, stateB) = run(4000000L) // broadcast path
    val (repS, stateS) = run(0L)       // shuffle semi-join path
    assert(repB == repS, s"reports diverged:\n  bcast $repB\n  shuffle $repS")
    assert(stateB == stateS, "post-append index state diverged between paths")
  }

  test("incrementalFuzzyDedup: the skew cap never drops a doc from the report") {
    import spark.implicits._
    // cap+1 IDENTICAL docs: under an unsalted rank the same doc falls
    // past the cap in every band and vanishes; the per-band salt keeps
    // every doc in >= 1 band, and the report base covers all signed docs
    val text = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = (1 to 5).map(i => (i.toLong, text))
    val idx = java.nio.file.Files.createTempDirectory("fuzzycapdoc")
      .resolve("mhidx").toString
    graft.api.Pipelines.buildMinHashIndex(
      Seq((100L, "completely different corpus seed text here")).toDF("id", "text"),
      col("id"), col("text"), idx)
    val rep = graft.api.Pipelines.incrementalFuzzyDedup(
        docs.toDF("id", "text"), col("id"), col("text"), idx,
        thresholdPermille = 1000, bucketCap = 2)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(rep.keySet == Set(1L, 2L, 3L, 4L, 5L),
      s"every batch doc with >= 3 words must appear in the report: ${rep.keySet}")
    // identical docs at threshold 1000: exactly one kept among the pairs
    // the capped candidate generator still surfaces — at minimum the
    // smallest id is kept
    assert(rep(1L), "the smallest id of an identical clique must be kept")
  }

  test("forgetSignatures: a forgotten doc's bands leave the index; near-dups of it are kept again") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("forgetsig")
      .resolve("mhidx").toString
    val w = (1 to 80).map(i => s"w$i")
    val a = w.mkString(" ")
    val near1 = (w.take(75) ++ (76 to 80).map(i => s"u$i")).mkString(" ")
    val near2 = (w.take(75) ++ (76 to 80).map(i => s"v$i")).mkString(" ")
    graft.api.Pipelines.buildMinHashIndex(
      Seq((1L, a)).toDF("id", "text"), col("id"), col("text"), idx)
    val r1 = graft.api.Pipelines.incrementalFuzzyDedup(
      Seq((2L, near1)).toDF("id", "text"), col("id"), col("text"), idx,
      thresholdPermille = 700).collect()
    assert(!r1.head.getBoolean(3), "near-dup of an indexed doc must drop")
    // the deletion request: doc 1 (and doc 2's appended rows stay — it
    // was a dup, nothing of it was ever appended)
    val v = graft.api.Pipelines.forgetSignatures(
      Seq(1L).toDF("id"), col("id"), idx)
    assert(v > 0, s"forget must commit: $v")
    assert(spark.read.format("gwdelta").load(idx)
      .filter(col("doc_id") === 1L).count() == 0,
      "every band row of the forgotten doc must leave the index")
    assert(graft.api.Pipelines.forgetSignatures(
      Seq(1L).toDF("id"), col("id"), idx) == -1L,
      "a second identical forget matches nothing")
    val r2 = graft.api.Pipelines.incrementalFuzzyDedup(
      Seq((3L, near2)).toDF("id", "text"), col("id"), col("text"), idx,
      thresholdPermille = 700).collect()
    assert(r2.head.getBoolean(3),
      "after the forget, a near-dup of the forgotten doc must be KEPT")
  }

  test("unigramTrain: hand-checked EM round on the micro corpus") {
    import spark.implicits._
    // words: aa x2, b x1. Seeds: a(freq 4), b(1), aa(2); T0=7, V0=3.
    // score0: a = bits(10)-bits(5) = 3-2 = 1; aa = 3-bits(3) = 2; b = 3-1 = 2.
    // Viterbi("aa"): [aa] cost 2 np 1 beats [a,a] cost 2 np 2 (np tiebreak).
    // counts: aa=2, b=1, a=0 -> a kept (single char), T1=3, V1=3:
    // a = bits(6)-bits(1) = 2-0 = 2; aa = 2-bits(3) = 1; b = 2-bits(2) = 1.
    val docs = Seq("aa aa b").toDF("text")
    val (vocab, segment) = graft.api.Pipelines.unigramTrain(
      docs, "text", maxPieceLen = 2, seedSize = 8, emIters = 1)
    assert(vocab.toSet == Set(("a", 0L, 2L), ("aa", 2L, 1L), ("b", 1L, 1L)),
      s"got $vocab")
    val seg = segment(Seq("aa", "b", "aab").toDF("w"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(seg("aa") == Seq("aa") && seg("b") == Seq("b"))
    assert(seg("aab") == Seq("aa", "b"), s"got ${seg("aab")}")
  }

  test("unigramEncode prices documents: DP pieces within the cap, char fallback beyond it") {
    import spark.implicits._
    // trained on the micro corpus: vocab a(2 bits), aa(1), b(1) — see the
    // hand-checked EM test above
    val (vocab, _) = graft.api.Pipelines.unigramTrain(
      Seq("aa aa b").toDF("text"), "text", maxPieceLen = 2, seedSize = 8,
      emIters = 1, maxWordLen = 8)
    val scores = vocab.map(v => (v._1, v._3))
    val docs = Seq(
      (1L, "aa aa b"),        // 3 words: [aa]+[aa]+[b] = 3 tokens
      (2L, "aab4aa"),         // split on the digit: aab -> [aa][b], aa -> [aa] = 3
      (3L, "abcdefghij"),     // 10 chars > cap 8 -> char fallback = 10
      (4L, "zz"),             // unseen chars: the whole unknown run
                              // collapses into ONE unk-piece (the DP
                              // minimizes miss count — SentencePiece's
                              // <unk> behavior) = 1 token
      (5L, "123 456")         // no alphabetic words -> dropped
    ).toDF("id", "text")
    val got = graft.api.Pipelines.unigramEncode(docs, col("id"), col("text"),
      scores, maxPieceLen = 2, maxWordLen = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) == ((3L, 5L, 3L)), s"got ${got(1L)}")
    assert(got(2L) == ((2L, 5L, 3L)), s"got ${got(2L)}")
    assert(got(3L) == ((1L, 10L, 10L)), s"got ${got(3L)}")
    assert(got(4L) == ((1L, 2L, 1L)), s"got ${got(4L)}")
    assert(!got.contains(5L), "no-token-mass docs drop")
  }

  test("unigramTrain: invariants on a compound corpus; segmentation is total and lossless") {
    import spark.implicits._
    // 'ab' saturates the corpus: the trained model must price ab-family
    // pieces cheaply enough that 'ababab' never segments char-by-char
    val docs = Seq.fill(8)("ababab").mkString(" ") + " cd qq"
    val (vocab, segment) = graft.api.Pipelines.unigramTrain(
      Seq(docs).toDF("text"), "text", maxPieceLen = 4, seedSize = 16,
      emIters = 2)
    val byPiece = vocab.map(v => v._1 -> v).toMap
    // every single training char survives pruning; counts conserve mass
    assert(Seq("a", "b", "c", "d", "q").forall(byPiece.contains))
    // every multi-char survivor carries a positive Viterbi count
    assert(vocab.filter(_._1.length > 1).forall(_._2 > 0), s"got $vocab")
    val seg = segment(Seq("ababab", "cd", "abq", "zzz").toDF("w"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    // lossless: pieces reassemble the word, even for unseen chars
    assert(seg.forall { case (w, ps) => ps.mkString == w })
    assert(seg("ababab").length <= 3,
      s"dominant bigram must compress: ${seg("ababab")}")
    // deterministic: a second training run reproduces the exact state
    val (vocab2, _) = graft.api.Pipelines.unigramTrain(
      Seq(docs).toDF("text"), "text", maxPieceLen = 4, seedSize = 16,
      emIters = 2)
    assert(vocab2 == vocab)
  }

  test("bpeEncode prices documents with the trained merge chain, in order") {
    import spark.implicits._
    val corpus = Seq(
      (1L, (Seq.fill(5)("low") ++ Seq.fill(2)("lower")).mkString(" ")),
      (2L, (Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")),
      (3L, "...!!!"), // no alphabetic words: dropped, not a zero row
    ).toDF("doc_id", "text")
    val (merges, _) = graft.api.Pipelines.bpeTrain(
      corpus.select(col("text")), "text", 3)
    assert(merges == Seq((1, "es", 9L), (2, "t", 9L), (3, "lo", 7L)))
    val got = graft.api.Pipelines.bpeEncode(
      corpus, col("doc_id"), col("text"), merges)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // doc 1: 5 x low (3 chars -> "w" = 2 tokens)
    //       + 2 x lower (5 chars -> "wer" = 4 tokens)
    //   n_words 7, n_chars 5*3+2*5=25, n_tokens 5*2+2*4=18
    // doc 2: newest (6 -> "new" = 4), widest (6 -> "wid" = 4)
    //   n_words 9, n_chars 9*6=54, n_tokens 9*4=36
    assert(got == Seq((1L, 7L, 25L, 18L), (2L, 9L, 54L, 36L)), s"got $got")
    // merge ORDER matters: round 2's pair contains round 1's sentinel, so
    // a reversed table must NOT produce the same counts
    val reversed = graft.api.Pipelines.bpeEncode(
      corpus, col("doc_id"), col("text"),
      merges.zip(merges.map(_._1).reverse).map { case ((_, p, c), r) => (r, p, c) })
    val rev = reversed.as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(rev != got, "reversed merge order should change token counts")
  }

  test("bpeTrain on zero merges returns the raw word-frequency state") {
    import spark.implicits._
    val (merges, words) =
      graft.api.Pipelines.bpeTrain(Seq("a b a").toDF("text"), "text", 0)
    assert(merges.isEmpty)
    assert(words.as[(String, Long)].collect().toMap == Map("a" -> 2L, "b" -> 1L))
  }

  test("trigramLmScore: hand-checked bits at every backoff level") {
    import spark.implicits._
    // self-trained corpus: uni a4 b4 c2 d2 (N=12, V=4); bi ab3 bc2 ca1
    // bd1 ba1 ad1; trigram abc x2 survives pruning, the rest prune.
    //  d1 = abc(0) + bca(2+bits(2)-bits(1)=3) + cab(2+bits(4)-bits(3)=3)
    //       + abc(0) over 4 trigrams -> 1500 milli-bits
    //  d2 = abd -> bigram backoff (b,d): 2+bits(4)-bits(1)=4 -> 4000
    //  d3 = bad -> bigram backoff (a,d): 2+bits(4)-bits(1)=4 -> 4000
    val self = Seq((1L, "a b c a b c"), (2L, "a b d"), (3L, "b a d"))
      .toDF("id", "tx")
    val got = Pipelines.trigramLmScore(self, col("id"), col("tx"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(1L -> ((4L, 1500L)), 2L -> ((1L, 4000L)),
      3L -> ((1L, 4000L))), s"self-trained bits broke: $got")
    // cross-trained: model from "a b c a b c" alone (uni a2 b2 c2, N=6,
    // V=3, bi ab2 bc2 ca1; only abc survives pruning).
    //  "b c a" -> bca pruned, bigram backoff (c,a)=1: 2+bits(2)-bits(1)=3
    //  "x y z" -> nothing attested anywhere: UNIGRAM floor
    //             4 + bits(N+V=9) - bits(0+1) = 4+3-0 = 7
    val train = Seq(Tuple1("a b c a b c")).toDF("tx")
    val score = Seq((10L, "b c a"), (11L, "x y z")).toDF("id", "tx")
    val cross = Pipelines.trigramLmScore(score, col("id"), col("tx"),
      train = Some(train))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(cross == Map(10L -> ((1L, 3000L)), 11L -> ((1L, 7000L))),
      s"cross-trained backoff/floor broke: $cross")
  }
}
