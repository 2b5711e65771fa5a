package graft

import graft.operators.{Relational, Similarity}
import org.apache.spark.sql.DataFrame

/**
 * Physical-plan assertions for the headline queries: the "would this
 * survive a 100x scale-up" properties — pushdown reaching the scan,
 * map-side partial aggregation, broadcast (not shuffle) joins for
 * dimensions, top-k as TakeOrderedAndProject, as-of join without a
 * cartesian, hot paths inside whole-stage codegen. A regression here means
 * the query still returns correct rows but stopped scaling.
 */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Post-execution plan: under AQE, codegen stages (`*(n)` markers) only
    * appear once the final plan is materialized. */
  private def executedPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q02 scan gets pushed filters and a pruned read schema") {
    val p = plan(Relational.q02FilterProject(spark, sf))
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("l_quantity"), p)
    // projection needs 5 of lineitem's 16 columns; the wide rest must not
    // reach the scan
    assert(!p.contains("l_comment"), s"unpruned scan:\n$p")
    assert(!p.contains("l_shipmode"), s"unpruned scan:\n$p")
  }

  test("q01 aggregation is partial (map-side) before the shuffle, in codegen") {
    val p = executedPlan(Relational.q01PricingSummary(spark, sf))
    assert(p.contains("partial_sum"), s"no map-side combine:\n$p")
    assert(p.contains("*("), s"agg fell out of whole-stage codegen:\n$p")
  }

  test("q03 star join broadcasts dimensions and plans top-k as TakeOrdered") {
    val p = plan(Relational.q03TopOrders(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"dimension not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not TakeOrdered:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact shuffled for a dim join:\n$p")
  }

  test("q05 five-way star join stays all-broadcast (zero fact shuffles)") {
    val p = plan(Relational.q05RegionRevenue(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"fact shuffled for a dim join:\n$p")
  }

  test("q17 as-of join is a single window pass, no cartesian explosion") {
    val p = plan(Relational.q17AsofJoin(spark, sf))
    assert(!p.contains("CartesianProduct"), s"as-of went cartesian:\n$p")
    assert(p.contains("Window"), s"expected the window formulation:\n$p")
  }

  test("q18 range join is an equi join with a band filter, not a cartesian") {
    val p = plan(Relational.q18RangeJoin(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q26 bucketed join shuffles neither side (exchange-free SMJ)") {
    val p = executedPlan(Relational.q26BucketedJoin(spark, sf))
    assert(p.contains("SortMergeJoin"), s"expected sort-merge join:\n$p")
    assert(!p.contains("hashpartitioning(o_custkey"),
      s"orders side re-shuffled despite bucketing:\n$p")
    assert(!p.contains("hashpartitioning(c_custkey"),
      s"customer side re-shuffled despite bucketing:\n$p")
  }

  test("s01 brute-force top-k broadcasts the query side only") {
    val p = plan(Similarity.s01TopKBruteForce(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$p")
    // the bounded-heap aggregate must run a PARTIAL pass before the
    // exchange (k rows per query per partition cross the wire, not the
    // whole scored product) and the old sort-the-product window is gone
    assert(p.contains("partial_topk_agg"),
      s"no map-side partial top-k before the exchange:\n$p")
    assert(!p.contains("Window"), s"product-sorting window crept back:\n$p")
  }

  test("q29 correlated scalar subquery decorrelates to an aggregate join") {
    val p = plan(Relational.q29CorrScalar(spark, sf))
    // the per-row probe must become a per-part aggregate joined back on the
    // key — a nested-loop re-execution per row would never survive scale
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_avg") || p.contains("avg("),
      s"no decorrelated aggregate in plan:\n$p")
  }

  test("q30 distribution windows compute in a single window pass per frame") {
    // AQE's toString appends the pre-adaptive "Initial Plan" — count
    // operators in the final plan only
    val p = executedPlan(Relational.q30WindowZoo(spark, sf))
      .split("== Initial Plan ==").head
    // all five functions share the partition ordering, so Spark fuses them
    // into at most two Window operators (running frame + whole frame) over
    // ONE exchange; more means a frame split re-sorted the partition
    val windows = "\\bWindow\\b".r.findAllIn(p).size
    assert(windows <= 2, s"expected <= 2 window operators, got $windows:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"windows should share one partition exchange:\n$p")
  }

  test("d11 decontamination broadcasts the eval grams; the corpus side never shuffles") {
    val p = plan(graft.operators.Dedup.d11Decontamination(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"eval grams not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus grams shuffled for the join:\n$p")
    // the per-doc distinct count is partial-aggregated on the candidate set
    assert(p.contains("partial_count"), s"no map-side combine after the join:\n$p")
  }

  test("d14 membership dedup: Bloom prefilter sits scan-side, verify join is the only shuffle consumer") {
    val p = plan(graft.operators.Dedup.d14MembershipDedup(spark, sf))
    assert(p.contains("might_contain"),
      s"Bloom might_contain prefilter missing from the corpus scan stage:\n$p")
    // the sketch is a resolved literal at plan time: no subquery, no extra
    // aggregation on the corpus side — the only join input is the
    // prefiltered candidates
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t17 quality classifier broadcasts the weight table; one doc exchange for window+sum") {
    val p = plan(graft.operators.TextOps.t17QualityClassifier(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"weight table not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"feature stream shuffled for the model join:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"logit fold must partial-aggregate before the doc exchange:\n$p")
  }

  test("t18 rare-word scoring broadcasts the vocabulary; corpus tokens never shuffle for it") {
    val p = plan(graft.operators.TextOps.t18RareWords(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"vocabulary not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"token stream shuffled for the vocab join:\n$p")
  }

  test("s09 sign-bit shortlist keeps the heap shape: no window over the scored product") {
    val p = plan(graft.operators.Similarity.s09SignBitTopK(spark, sf))
    assert(p.contains("TopKAgg") || p.contains("topk"),
      s"bounded-heap aggregate missing:\n$p")
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"),
      s"unexpected join shape:\n$p")
  }

  test("q32 interval-range window computes both aggregates in one window pass") {
    val p = plan(Relational.q32IntervalWindow(spark, sf))
    assert(p.contains("Window"), p)
    // one exchange on user_id serves the whole query: the range frame must
    // not introduce a second shuffle or a second window operator
    assert("RunningWindowFunction|Window\\b".r.findAllIn(p).size >= 1, p)
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"expected exactly one user_id exchange:\n$p")
  }

  test("t11 mixture sampling is a pure scan-side filter (no shuffle, no agg)") {
    val p = plan(graft.operators.TextOps.t11MixtureSample(spark, sf))
    assert(!p.contains("Exchange"), s"mixture sampling must not shuffle:\n$p")
    assert(!p.contains("Aggregate"), s"mixture sampling must not aggregate:\n$p")
  }

  test("s06 quantized rerank broadcasts the query codes; corpus side never shuffles for the prefilter") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val df = graft.api.Pipelines.quantizedTopK(
      e, e.filter(org.apache.spark.sql.functions.col("vec_id") < 10),
      org.apache.spark.sql.functions.col("vec_id"),
      org.apache.spark.sql.functions.col("embedding"), k = 5, candidates = 20)
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query codes not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"prefilter went cartesian:\n$p")
    // both ranking stages ride the bounded-heap aggregate with map-side
    // partials; no window over the query x corpus product anywhere
    assert(p.contains("partial_topk_agg"),
      s"no map-side partial top-k before the exchange:\n$p")
    assert(!p.contains("Window"), s"product-sorting window crept back:\n$p")
  }

  test("d12 edit-distance pairs stay an equi join on the blocks, not a cartesian") {
    val p = plan(graft.operators.Dedup.d12EditDistance(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q23 salting replicates only the hot-key slice of the build side") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val lineitem = spark.read.parquet(s"$sf/lineitem.parquet")
    val nOrders = orders.count()
    // gate parameters: with unskewed TPC-H-ish data only the frequency
    // tail is nominated, so the build side must stay far below the 8x a
    // blanket salt would cost — that delta IS the fix
    val (lTagged, oTagged) = Relational.saltedJoinSides(
      spark, sf, salts = 8, sampleFraction = 0.5, hotSampleCount = 6)
    val factor = oTagged.count().toDouble / nOrders
    assert(factor < 1.5, f"build side replicated $factor%.2fx — salting is not hot-key-gated")
    // the hot branch is genuinely exercised (some keys replicate) ...
    assert(oTagged.count() > nOrders, "no key was nominated hot; branch untested")
    // ... and the salted join still returns exactly the plain join's rows
    val salted = lTagged.join(oTagged,
      lTagged("l_orderkey") === oTagged("o_orderkey") && lTagged("salt") === oTagged("salt"))
    val plain = lineitem.join(orders,
      lineitem("l_orderkey") === orders("o_orderkey"))
    assert(salted.count() == plain.count(), "salted join changed the result")
  }

  test("t14 chunking is a pure generator fan-out: no exchange, no shuffle") {
    val p = plan(graft.operators.TextOps.t14ChunkDocs(spark, sf))
    assert(p.contains("Generate"), s"expected explode generator:\n$p")
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
  }

  test("s07 knn graph stays an equi join on band buckets, no cartesian") {
    val p = plan(Similarity.s07KnnGraph(spark, sf))
    assert(!p.contains("CartesianProduct"), s"knn graph went all-pairs:\n$p")
    assert(p.contains("band"), s"expected the bucket equi join:\n$p")
  }

  test("t15 C4 filters are pure per-row work: no exchange anywhere") {
    val p = plan(graft.operators.TextOps.t15C4Filters(spark, sf))
    assert(!p.contains("Exchange"), s"C4 filters must not shuffle:\n$p")
  }

  test("t13 URL canonicalization shuffles only for the final dedup group-by") {
    val p = plan(graft.operators.TextOps.t13UrlCanonicalize(spark, sf))
    // exactly one exchange: the canonical-url aggregation; the per-row
    // canonicalization itself must not repartition anything
    assert("Exchange".r.findAllIn(p).size == 1, s"expected one exchange:\n$p")
  }

  test("d13 substring dedup marks duplicates in one window pass, no join") {
    val p = plan(graft.operators.Dedup.d13SubstringDedup(spark, sf))
    // duplicate marking is a window count over the hash partitioning —
    // a join-back would evaluate the per-character gram fan-out twice
    assert(!p.contains("Join"), s"duplicate marking regressed to a join:\n$p")
    assert(p.contains("Window"), s"expected the window count:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t16 winnowing is generator + window passes, no join anywhere") {
    val p = plan(graft.operators.TextOps.t16WinnowFingerprints(spark, sf))
    assert(p.contains("Generate"), s"expected the gram generator:\n$p")
    assert(p.contains("Window"), s"expected the window min pass:\n$p")
    assert(!p.contains("Join"), s"winnowing must not join:\n$p")
  }

  test("q25 sketch aggregation partial-aggregates and broadcasts the tiny frames") {
    val p = executedPlan(Relational.q25SketchAggs(spark, sf))
    // the KMV/min/max/count pass must map-side combine (ObjectHashAggregate
    // for the TypedImperative KMV state), and the 3-row frame/quantile
    // joins must broadcast, never shuffle the fact side
    assert(p.contains("ObjectHashAggregate"), s"KMV agg not object-hash:\n$p")
    assert(p.contains("partial"), s"no map-side combine:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"frame join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact side shuffled for a 3-row join:\n$p")
  }

  test("t09 verified heavy hitters broadcast the candidate set onto the corpus") {
    val p = plan(graft.operators.TextOps.t09HeavyHitters(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"candidates not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffled against <=capacity candidates:\n$p")
  }

  test("s11 BM25 broadcasts query terms into posting lists; heap ranking, no cartesian") {
    val p = plan(Similarity.s11Bm25TopK(spark, sf))
    // query-term set and df table broadcast onto the tf posting lists
    assert(p.contains("BroadcastHashJoin"), s"query terms not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in BM25:\n$p")
    // ranking goes through the bounded-heap aggregate, not a global window
    // over the scored candidates
    assert(p.contains("topk_agg"), s"ranking not on the bounded heap:\n$p")
    assert(!p.contains("Window"), s"window over scored candidates:\n$p")
  }

  test("s12 RRF fusion is integer arithmetic on top-k lists, heap-ranked") {
    val p = plan(Similarity.s12HybridRrf(spark, sf))
    assert(p.contains("topk_agg"), s"fusion ranking not on the heap:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in fusion:\n$p")
  }

  test("d17 semantic decontamination broadcasts the eval set, never a cartesian") {
    val p = plan(graft.operators.Dedup.d17SemanticDecontamination(spark, sf))
    // benchmark-sized eval side rides a broadcast nested loop onto the
    // one corpus scan; only FLAGGED rows reach the closest-eval window's
    // exchange — a CartesianProduct (unbroadcast cross) or a sort-merge
    // join would mean train vectors shuffled
    assert(p.contains("BroadcastNestedLoopJoin"), s"eval set not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"unbroadcast cross product:\n$p")
    assert(!p.contains("SortMergeJoin"), s"train side shuffled into a join:\n$p")
  }

  test("t20 temperature sampling never shuffles a corpus row") {
    val p = plan(graft.operators.TextOps.t20TemperatureSample(spark, sf))
    // the SAMPLING query joins the driver-computed rate table BROADCAST
    // onto the scan (a literal when-chain would overflow the analyzer
    // stack past a few hundred sources): corpus rows must meet the rates
    // map-side — a broadcast exchange of the tiny rate table is the
    // expected shape, a shuffle of corpus rows is the regression
    assert(!p.contains("ShuffleExchange") && !p.contains("hashpartitioning"),
      s"sampling shuffled corpus rows:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"rate table not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"rate join must not sort-merge:\n$p")
  }

  test("t32 unigram encode is one zero-shuffle codegen scan") {
    // the per-word Viterbi DP nests inside the per-doc fold and the
    // vocabulary is a literal map — any Exchange means the tokenizer
    // started shuffling the corpus to price it
    val p = plan(graft.operators.TextOps.t32UnigramEncode(spark, sf))
    assert(!p.contains("Exchange"), s"unigram encode must not shuffle:\n$p")
  }

  test("d25 semantic-dedup candidates stay an equi join on band buckets, index never broadcast") {
    // the candidate stage must join (band, bucket) — never all-pairs —
    // and the INDEX side must stream (broadcasting the corpus-scale
    // index is the driver-OOM regression); probe the same join shape
    // through the library's banded frames
    import org.apache.spark.sql.functions.col
    val idx = java.nio.file.Files.createTempDirectory("d25plan")
      .resolve("embidx").toString
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    graft.api.Pipelines.buildEmbeddingIndex(
      e.filter(col("vec_id") % 3 === 0), col("vec_id"), col("embedding"),
      dim = 64, indexPath = idx)
    val report = graft.api.Pipelines.incrementalSemanticDedup(
      e.filter(col("vec_id") % 3 === 1), col("vec_id"), col("embedding"),
      idx, thresholdMicro = 300000L)
    val p = plan(report)
    assert(!p.contains("CartesianProduct"), s"candidates went all-pairs:\n$p")
    // the comment above promises the INDEX never broadcasts (broadcasting
    // a corpus-scale index is a driver OOM at 100 TB) — pin it: no
    // BroadcastExchange whose subtree scans the index table's files
    val badBroadcasts = report.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
          if b.child.collectLeaves().map(_.toString).exists(_.contains("embidx")) => b
    }
    assert(badBroadcasts.isEmpty,
      s"the index side must stream, never broadcast:\n${badBroadcasts.mkString("\n")}")
    // adaptive pin (round-12 ADVICE): the static sparkPlan check above can
    // be defeated by an AQE runtime join-strategy switch — execute the
    // query and assert over the FINAL adaptive plan, traversing through
    // AdaptiveSparkPlanExec / query stages / reused exchanges
    report.count()
    def flatten(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val kids = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(s.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          Seq(r.child)
        case other => other.children
      }
      p +: kids.flatMap(flatten)
    }
    val badFinal = flatten(report.queryExecution.executedPlan).collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
          if flatten(b.child).map(_.toString).exists(_.contains("embidx")) => b
    }
    assert(badFinal.isEmpty,
      s"AQE switched the index side to a broadcast at runtime:\n${badFinal.mkString("\n")}")
  }

  test("t27 split+shuffle sorts within (split, shard), never globally") {
    val p = plan(graft.operators.TextOps.t27SplitShuffle(spark, sf))
    // the window must partition on (split, shard) — parallelism is
    // splits x shards; a global ORDER BY (rangepartitioning into one
    // effective sink, or an empty window partition spec) is the
    // regression that funnels 100 TB through one task
    assert(p.contains("hashpartitioning(split"),
      s"window not hash-partitioned on (split, shard):\n$p")
    assert(!p.contains("rangepartitioning"), s"global sort crept in:\n$p")
    // one md5 per row feeds split/shard/order; scan reads only doc_id
    assert(!p.contains("text"), s"unpruned documents scan:\n$p")
  }

  // ---- reads plan from the log, not from storage ----

  /** Spark jobs started, and metadata calls on data paths under `root`
    * (outside `_delta_log`), while `df` is built and planned. */
  private def planCost(df: () => DataFrame, root: String): (Int, Seq[String]) = {
    import scala.jdk.CollectionConverters._
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.GraftTestAccess.drainListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    CountingFileSystem.calls.clear()
    try {
      df().queryExecution.executedPlan
      org.apache.spark.GraftTestAccess.drainListeners(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    (jobs.get, CountingFileSystem.calls.asScala.toSeq
      .filter(p => p.startsWith(root + "/") && !p.contains("/_delta_log")))
  }

  private def tempTable(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).resolve("t").toString

  test("planning a read costs no filesystem call per data file and no job") {
    import org.apache.spark.sql.functions.col
    spark.sparkContext.hadoopConfiguration
      .set("fs.cntfs.impl", classOf[CountingFileSystem].getName)
    for (n <- Seq(64, 400)) {
      val dir = tempTable("plan-probe")
      val path = "cntfs://" + dir
      graft.streaming.GwSink.append(
        spark.range(0, n * 2L, 1, n).selectExpr("id % 7 AS k", "id AS v"), path)
      assert(GwTable.forPath(spark, path).snapshot().files.size == n)
      val (jobs, calls) =
        planCost(() => GwTable.forPath(spark, path).toDF.filter(col("k") === 3), dir)
      assert(jobs == 0, s"$n files: $jobs Spark jobs while planning")
      assert(calls.isEmpty,
        s"$n files: ${calls.size} filesystem calls on data paths, e.g. ${calls.take(3)}")
    }
  }

  test("a logged file missing from storage fails the read, not the plan") {
    val dir = tempTable("plan-missing")
    graft.streaming.GwSink.append(spark.range(0, 30, 1, 3).toDF, dir)
    val files = GwTable.forPath(spark, dir).snapshot().files
    assert(files.size == 3)
    val gone = new org.apache.hadoop.fs.Path(files.head.path)
    assert(gone.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(gone, false))
    val df = GwTable.forPath(spark, dir).toDF
    df.queryExecution.executedPlan
    val e = intercept[Exception](df.collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains(gone.toUri.getPath)),
      s"failure does not name ${gone.toUri.getPath}: ${messages.mkString(" | ")}")
  }

  test("an emptied table plans with no Spark job and counts 0") {
    val dir = tempTable("plan-empty")
    graft.streaming.GwSink.append(spark.range(10).toDF, dir)
    GwTable.forPath(spark, dir).truncate()
    val (jobs, _) = planCost(() => GwTable.forPath(spark, dir).toDF, dir)
    assert(jobs == 0, s"$jobs Spark jobs while planning an emptied table")
    assert(GwTable.forPath(spark, dir).toDF.count() == 0)
  }
}
