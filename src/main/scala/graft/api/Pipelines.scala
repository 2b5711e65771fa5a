package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Column-parameterized implementations of the training-data-pipeline
 * operators (the engine behind `graft.api` syntax). Design notes:
 *
 *  - everything is declarative DataFrame code: Catalyst plans the shuffles,
 *    AQE re-plans at runtime, no driver materialization anywhere;
 *  - hot paths avoid interpreted higher-order expressions and UDFs (the
 *    array/transform() forms measured ~20x slower): a document's text
 *    near-dup facts come from native codegen'd kernels in one narrow
 *    projection — its shingle set (`ShingleHashes`), MinHash lanes
 *    (`MinHashLanes`) and SimHash (`SimHash`) — and candidate pairs are
 *    verified on those per-document sets with `array_intersect`, never by
 *    joining shingle rows back;
 *  - near-dup candidate generation is always sub-quadratic (LSH band
 *    buckets / shared-shingle blocks / chunk pigeonholing), then verified
 *    exactly — the shape that survives a 100 TB corpus.
 */
object Pipelines {

  /** Per-language stopword lists for the stopword-overlap language ID. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "pas"),
    "es" -> Seq("el", "los", "las", "y", "es", "un", "no"))

  // int64 like the DuckDB oracle's len() (int32 would dtype-drift the gate)
  private def hitsFor(text: Column, lang: String): Column =
    size(array_intersect(array_distinct(split(text, " ")), lit(stopwords(lang).toArray))).cast("long")

  // ------------------------------------------------------------- text ops

  def langId(df: DataFrame, text: Column): DataFrame = {
    val withHits = df
      .withColumn("h_en", hitsFor(text, "en"))
      .withColumn("h_de", hitsFor(text, "de"))
      .withColumn("h_fr", hitsFor(text, "fr"))
      .withColumn("h_es", hitsFor(text, "es"))
    withHits.withColumn("pred_lang",
      when(col("h_en") + col("h_de") + col("h_fr") + col("h_es") === 0, "und")
        .when(col("h_en") >= greatest(col("h_de"), col("h_fr"), col("h_es")), "en")
        .when(col("h_de") >= greatest(col("h_fr"), col("h_es")), "de")
        .when(col("h_fr") >= col("h_es"), "fr")
        .otherwise("es"))
  }

  def textQuality(df: DataFrame, text: Column): DataFrame =
    df.withColumn("n_words", size(split(text, " ")).cast("long"))
      .withColumn("punct_cnt", length(regexp_replace(text, "[^.,;:!?]", "")).cast("long"))
      .withColumn("alpha_cnt", length(regexp_replace(text, "[^a-zA-Z]", "")).cast("long"))
      .withColumn("stop_hits", hitsFor(text, "en"))
      .withColumn("alpha_permille",
        round(lit(1000.0) * col("alpha_cnt") / length(text)).cast("long"))
      .withColumn("keep",
        when(col("n_words") >= 5 && col("alpha_permille") >= 500, 1).otherwise(0))

  /** The Gopher stop-word list (Rae et al. 2021 §A1.1): a document must
    * contain at least two of these to look like running English prose. */
  val GopherStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /**
   * Gopher quality rules (t23, Rae et al. 2021 Appendix A1.1) — the
   * published heuristic bundle MassiveWeb was filtered with, kept as the
   * paper states them: word count in [50, 100k]; mean word length in
   * [3, 10]; symbol-to-word ratio (# and ...) below 0.1; under 90% of
   * lines starting with a bullet; under 30% ending in an ellipsis; at
   * least 80% of words containing an alphabetic character; and at least
   * two [[GopherStopWords]]. Every metric lands as an INTEGER
   * (centi/milli fixed point, floor division) so keep decisions replay
   * exactly in any engine; regexes use the Java-regex/RE2 common subset.
   *
   * 100 TB posture: pure per-row string work — zero shuffle, runs at
   * scan speed; the two higher-order filters iterate each row's own
   * words/lines once (per-row-once interpreted HOFs, the same budget the
   * IVF probe construction spends).
   */
  def gopherQualityFilters(df: DataFrame, text: Column): DataFrame = {
    val words = split(trim(text), "\\s+")
    val lines = split(text, "\n")
    df.withColumn("n_words", size(words).cast("long"))
      .withColumn("__wchars", aggregate(
        transform(words, w => length(w).cast("long")), lit(0L), (a, x) => a + x))
      .withColumn("__alpha_words",
        size(filter(words, w => w.rlike("[a-zA-Z]"))).cast("long"))
      .withColumn("__symbols",
        regexp_count(text, lit("#|\\.\\.\\.")).cast("long"))
      .withColumn("__n_lines", size(lines).cast("long"))
      .withColumn("__bullet_lines",
        size(filter(lines, l => l.rlike("^\\s*[-*•]"))).cast("long"))
      .withColumn("__ellipsis_lines",
        size(filter(lines, l => l.rlike("(\\.\\.\\.|…)\\s*$"))).cast("long"))
      .withColumn("stop_hits", size(array_intersect(
        array_distinct(split(text, " ")),
        typedLit(GopherStopWords))).cast("long"))
      .withColumn("mean_word_len_centi",
        expr("__wchars * 100 DIV greatest(n_words, 1)"))
      .withColumn("symbol_ratio_milli",
        expr("__symbols * 1000 DIV greatest(n_words, 1)"))
      .withColumn("bullet_frac_milli",
        expr("__bullet_lines * 1000 DIV greatest(__n_lines, 1)"))
      .withColumn("ellipsis_frac_milli",
        expr("__ellipsis_lines * 1000 DIV greatest(__n_lines, 1)"))
      .withColumn("alpha_frac_milli",
        expr("__alpha_words * 1000 DIV greatest(n_words, 1)"))
      .withColumn("keep", when(
        col("n_words").between(50L, 100000L) &&
          col("mean_word_len_centi").between(300L, 1000L) &&
          col("symbol_ratio_milli") < 100L &&
          col("bullet_frac_milli") < 900L &&
          col("ellipsis_frac_milli") < 300L &&
          col("alpha_frac_milli") > 800L &&
          col("stop_hits") >= 2L, 1L).otherwise(0L))
      .drop("__wchars", "__alpha_words", "__symbols", "__n_lines",
        "__bullet_lines", "__ellipsis_lines")
  }

  def tokenCounts(df: DataFrame, text: Column): DataFrame =
    df.withColumn("ws_tokens", size(split(trim(text), "\\s+")))
      .withColumn("word_tokens", regexp_count(text, lit("[a-zA-Z]+")))
      .withColumn("chars", length(text))

  /**
   * PII redaction (t12): emails, IPv4 addresses and international-format
   * phone numbers are replaced with typed placeholder tokens, with a
   * per-kind match count kept alongside (audit trail — pipelines filter
   * or sample on "how much PII did this doc carry"). Pure per-row
   * codegen'd regex work, no shuffle: at 100 TB this runs at scan speed.
   *
   * The patterns deliberately use the regex subset that means the same
   * thing in Java regex (this engine) and RE2 (the DuckDB oracle):
   * character classes, bounded repetition and ASCII `\b` / `\d` only.
   * Emails redact FIRST so the address's host part cannot be re-matched
   * as a bare host/IP by the later passes.
   */
  def redactPii(df: DataFrame, text: Column): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipv4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val phone = "\\+\\d{5,15}"
    df.withColumn("n_emails", regexp_count(text, lit(email)).cast("long"))
      .withColumn("n_ips", regexp_count(text, lit(ipv4)).cast("long"))
      .withColumn("n_phones", regexp_count(text, lit(phone)).cast("long"))
      .withColumn("redacted",
        regexp_replace(regexp_replace(regexp_replace(text,
          email, "<EMAIL>"), ipv4, "<IP>"), phone, "<PHONE>"))
  }

  /**
   * C4-style cleanup filters (t15) — the published page/line heuristics
   * from the C4 corpus construction: keep only lines that end in terminal
   * punctuation, carry at least 5 words, and don't mention javascript;
   * drop entire pages that contain a curly brace (code), the phrase
   * "lorem ipsum" (boilerplate placeholder), or retain fewer than 3 lines
   * after the line pass. Adds `n_lines` / `n_kept` / `page_keep` /
   * `cleaned` (the kept lines rejoined; empty when the page drops).
   * Per-row array/regex work only — no shuffle, scan speed at 100 TB.
   */
  def c4Filters(df: DataFrame, text: Column): DataFrame = {
    val lines = split(text, "\n")
    val kept = filter(lines, l =>
      l.rlike("[.!?\"]\\s*$") &&
        size(split(trim(l), "\\s+")) >= 5 &&
        not(lower(l).contains("javascript")))
    df.withColumn("n_lines", size(lines).cast("long"))
      .withColumn("n_kept", size(kept).cast("long"))
      .withColumn("page_keep",
        when(text.contains("{") ||
          lower(text).contains("lorem ipsum") ||
          col("n_kept") < 3, 0L).otherwise(1L))
      .withColumn("cleaned",
        when(col("page_keep") === 1, array_join(kept, "\n")).otherwise(lit("")))
  }

  /**
   * Cross-document boilerplate line removal (t22) — the CCNet/RefinedWeb
   * paragraph-dedup pass: a line whose normalized form (lower + trim)
   * appears in at least `minDocs` DISTINCT documents is template chrome
   * (nav bars, cookie banners, copyright footers), not content, and is
   * dropped from EVERY document that carries it. This is the dedup class
   * exact/doc-level dedup cannot see: no two pages are duplicates, yet
   * 30% of the corpus is the same footer.
   *
   * Returns one row per document: `n_lines`, `n_boiler` (lines removed),
   * and `cleaned` (surviving lines joined in original order).
   *
   * 100 TB posture: lines shuffle ONCE, keyed by the md5 of the
   * normalized line (32 hex chars cross the exchange, never the line
   * text), into a partially-aggregated distinct-doc count; the
   * boilerplate key set — heavy hitters by construction — joins back by
   * the same key (AQE broadcasts it when small); one regroup by document
   * rebuilds the cleaned text with order restored by the carried line
   * index. No collect, no driver state; both shuffles are on
   * high-cardinality keys. md5 (not a faster hash) is deliberate: the
   * pass replays exactly in any engine with md5, so the oracle checks
   * the distributed df-count bit for bit.
   */
  def boilerplateLines(df: DataFrame, text: Column, id: Column,
      minDocs: Int): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val lines = df.select(id.as("doc_id"), posexplode(split(text, "\n")))
      .toDF("doc_id", "__i", "__line")
      .withColumn("__k", md5(lower(trim(col("__line")))))
    val boiler = lines.groupBy("__k")
      .agg(count_distinct(col("doc_id")).as("__df"))
      .filter(col("__df") >= minDocs)
    lines.join(boiler, Seq("__k"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("__df").isNotNull, 1L).otherwise(0L)).as("n_boiler"),
        array_join(transform(
          array_sort(collect_list(
            when(col("__df").isNull, struct(col("__i"), col("__line"))))),
          s => s.getField("__line")), "\n").as("cleaned"))
  }

  /** Query parameters dropped by [[canonicalizeUrls]]: tracking/attribution
    * noise that fragments otherwise-identical fetches. */
  val TrackingParamRegex: String =
    "^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref|mc_cid|mc_eid)="

  /**
   * URL canonicalization (t13) — the zero-cost FIRST dedup pass of a web
   * corpus (CommonCrawl-style pipelines drop duplicate fetches by URL
   * before reading any content): strips the fragment and scheme,
   * lowercases the host and drops a leading `www.`, removes tracking
   * query parameters ([[TrackingParamRegex]]) while preserving the order
   * of the survivors, and trims a trailing path slash. Adds
   * `host` + `canonical_url`. Per-row string work only — no shuffle; runs
   * at scan speed at any corpus size (the one interpreted higher-order
   * filter over the query-param list is per-row-once).
   */
  def canonicalizeUrls(df: DataFrame, url: Column): DataFrame = {
    val noScheme = regexp_replace(
      regexp_replace(url, "#.*", ""), "^https?://", "")
    val rawHost = regexp_extract(noScheme, "^[^/?]+", 0)
    val host = regexp_replace(lower(rawHost), "^www\\.", "")
    val rest = noScheme.substr(length(rawHost) + 1, length(noScheme))
    val path = regexp_extract(rest, "^[^?]*", 0)
    val query = rest.substr(length(path) + 2, length(rest))
    val cleanPath = regexp_replace(path, "/$", "")
    val params = filter(split(query, "&"),
      p => !(p === "" || p.rlike(TrackingParamRegex)))
    df.withColumn("host", host)
      .withColumn("canonical_url", concat(host, cleanPath,
        when(size(params) > 0, concat(lit("?"), array_join(params, "&")))
          .otherwise(lit(""))))
  }

  /**
   * Overlapping token-window chunking (t14) — the context-window prep
   * step for RAG indexing and long-document pretraining: each document's
   * whitespace tokens are windowed into chunks of `chunkTokens` advancing
   * by `stride = chunkTokens - overlap`, so consecutive chunks share
   * `overlap` tokens and every token is covered. Chunks per doc =
   * `max(1, ceil((n - overlap) / stride))` — each chunk past the first
   * must contribute at least one new token, so a short tail never emits a
   * chunk fully contained in its predecessor. Pure generator fan-out
   * (`sequence` + `explode` + `slice`): zero shuffle, output rows ~
   * corpus tokens / stride — scan-speed at 100 TB.
   */
  def chunkByTokens(df: DataFrame, id: Column, text: Column,
      chunkTokens: Int, overlap: Int): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need chunkTokens > overlap >= 0, got chunk=$chunkTokens overlap=$overlap")
    val stride = chunkTokens - overlap
    df.select(id.as("doc_id"), split(text, " ").as("__toks"))
      .withColumn("__n", size(col("__toks")).cast("long"))
      .withColumn("__n_chunks",
        expr(s"greatest(1L, (__n - $overlap + ${stride - 1}) div $stride)"))
      .withColumn("chunk_idx", explode(sequence(lit(0L), col("__n_chunks") - 1)))
      .withColumn("chunk_start", col("chunk_idx") * stride)
      .withColumn("__chunk", slice(col("__toks"),
        (col("chunk_start") + 1).cast("int"), lit(chunkTokens)))
      .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
        size(col("__chunk")).cast("long").as("chunk_tokens"),
        md5(array_join(col("__chunk"), " ")).as("chunk_md5"))
  }

  /**
   * Sequence packing (t10): greedy next-fit packing of documents into
   * fixed token-budget rows — the standard pre-training batching step.
   * Deterministic: docs are processed in `id` order within each `shard`
   * and appended to the current pack until the budget would overflow,
   * which opens the next pack (an oversized doc occupies a pack alone).
   *
   * Scale shape: packing is inherently sequential, so it is SHARDED —
   * each shard (e.g. language, source, date bucket) packs independently,
   * which is exactly how production pipelines run it. One repartition by
   * shard + an in-partition sort; the scan itself carries O(1) state
   * (running pack id / budget fill), never buffering a shard. Returns
   * (shard, id, tokens, pack_id, pack_pos), all int64.
   */
  def packSequences(df: DataFrame, shard: Column, id: Column, tokens: Column,
      budget: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(shard.cast("string").as("__shard"), id.cast("long").as("__id"),
        tokens.cast("long").as("__tokens"))
      .repartition(col("__shard"))
      .sortWithinPartitions(col("__shard"), col("__id"))
      .as[(String, Long, Long)]
      .mapPartitions { it =>
        // secondary-sort scan: shards arrive contiguously, docs id-ordered.
        // An explicit first-row flag (not a null sentinel: a NULL shard
        // value would alias it and skip the reset) starts each partition.
        var first = true
        var curShard: String = null
        var pack = 0L; var fill = 0L; var pos = 0L
        it.map { case (s, docId, tk) =>
          if (first || s != curShard) {
            first = false; curShard = s; pack = 0L; fill = tk; pos = 0L
          }
          else if (fill + tk > budget) { pack += 1; fill = tk; pos = 0L }
          else { fill += tk; pos += 1 }
          (s, docId, tk, pack, pos)
        }
      }
      .toDF("shard", "id", "tokens", "pack_id", "pack_pos")
  }

  /**
   * Repetition-based quality signals (the word-level analogue of the
   * published "duplicate n-gram fraction" filters for training corpora):
   * per document, the share of bigram occurrences taken by the most
   * frequent bigram and the distinct-word ratio. High rep_permille / low
   * distinct_permille = degenerate repetitive text. Integer permille
   * outputs keep the oracle comparison exact. Narrow explode + window
   * pairing, two partial aggregates — no all-pairs anything.
   */
  def repetitionStats(df: DataFrame, id: Column, text: Column): DataFrame = {
    val byDoc = Window.partitionBy("__id").orderBy("pos")
    val words = df.select(id.as("__id"), posexplode(split(text, " ")))
    val wordStats = words.groupBy("__id").agg(
      count(lit(1)).as("n_words"),
      countDistinct(col("col")).as("n_distinct"))
    val bigramCounts = words
      .withColumn("w2", lead("col", 1).over(byDoc))
      .filter(col("w2").isNotNull)
      .groupBy(col("__id"), col("col"), col("w2"))
      .agg(count(lit(1)).as("c"))
    val bigramStats = bigramCounts.groupBy("__id").agg(
      sum(col("c")).as("n_bigrams"),
      max(col("c")).as("top_bigram_n"))
    wordStats.join(bigramStats, Seq("__id"))
      .select(col("__id"), col("n_words"), col("n_distinct"),
        round(lit(1000.0) * col("n_distinct") / col("n_words")).cast("long").as("distinct_permille"),
        col("n_bigrams"), col("top_bigram_n"),
        round(lit(1000.0) * col("top_bigram_n") / col("n_bigrams")).cast("long").as("rep_permille"))
  }

  /**
   * Deterministic stratified sampling: keep `k` rows per group, chosen by
   * ranking on a content hash of the id — reproducible across runs,
   * engines, and cluster layouts (no RNG state), which is what a curation
   * pipeline needs for auditable subsets. One window per group partition;
   * no global shuffle beyond the group hash partitioning.
   */
  def stratifiedSample(df: DataFrame, group: Column, id: Column, k: Int): DataFrame = {
    val w = Window.partitionBy("__g").orderBy(col("__r"), col("__id"))
    df.withColumn("__g", group)
      .withColumn("__id", id)
      .withColumn("__r", md5(id.cast("string")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .drop("__g", "__id", "__r")
  }

  def fingerprint(df: DataFrame, text: Column): DataFrame = {
    val norm = trim(regexp_replace(lower(text), "\\s+", " "))
    df.withColumn("fp_full", md5(norm))
      .withColumn("fp_head", md5(concat_ws(" ", slice(split(norm, " "), 1, 8))))
  }

  /**
   * Per-group heavy hitters with bounded state: one Misra-Gries summary
   * (`capacity` counters) per group — see [[graft.functions.FreqItemsAgg]]
   * for the sketch, its merge rule, and the frequency guarantee. Returns
   * one row per (group, reported item): the top `k` surviving counters,
   * highest first.
   */
  def heavyHitters(df: DataFrame, groups: Seq[Column], item: Column,
      k: Int, capacity: Int): DataFrame =
    df.groupBy(groups: _*)
      .agg(graft.functions.FreqItemsAgg(item, k, capacity).as("__top"))
      .select(col("*"), posexplode(col("__top")).as(Seq("__rnk", "__hit")))
      .select(col("*"),
        (col("__rnk") + 1).cast("long").as("rnk"),
        col("__hit.item").as("item"),
        col("__hit.count").as("count_lo"))
      .drop("__top", "__rnk", "__hit")

  /**
   * Two-pass VERIFIED heavy hitters — the deterministic upgrade of
   * [[heavyHitters]]: pass 1 runs the Misra-Gries sketch with `capacity`
   * counters per group purely as a CANDIDATE GENERATOR (its guarantee:
   * every item with true frequency > n/(capacity+1) survives the sketch,
   * whatever the row order or merge tree); pass 2 broadcast-joins the tiny
   * candidate set (<= capacity rows per group) back onto the corpus,
   * counts candidates EXACTLY, keeps the items whose exact count clears
   * the same n/(capacity+1) bar, and ranks the top `k` by (count desc,
   * item asc). The output is therefore a pure function of the input set —
   * "the provable heavy hitters, exactly counted" — and hash-exact against
   * a plain GROUP BY oracle, while the corpus is still never aggregated
   * per-distinct-item: the exact pass only counts the broadcast candidates.
   *
   * 100 TB posture: pass 1 is bounded-state map-side-combined aggregation;
   * pass 2 is a broadcast-semi-join + count over (groups x <=capacity)
   * keys. Nothing scales with distinct-item cardinality.
   */
  def verifiedHeavyHitters(df: DataFrame, groups: Seq[String], item: Column,
      k: Int, capacity: Int): DataFrame = {
    val gcols = groups.map(col)
    val base = df.select(gcols :+ item.cast("string").as("__item"): _*)
    val cand = base.groupBy(gcols: _*)
      .agg(graft.functions.FreqItemsAgg(col("__item"), capacity, capacity).as("__top"),
        count(lit(1)).as("__n"))
      .select(gcols ++ Seq(col("__n"), explode(col("__top.item")).as("__item")): _*)
    val w = Window.partitionBy(gcols: _*).orderBy(col("cnt").desc, col("item"))
    base.join(broadcast(cand), groups :+ "__item")
      .groupBy(gcols :+ col("__item"): _*)
      .agg(count(lit(1)).as("cnt"), first("__n").as("__n"))
      .filter(col("cnt") * (capacity + 1) > col("__n"))
      .withColumnRenamed("__item", "item")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(gcols ++ Seq(col("rnk"), col("item"), col("cnt")): _*)
  }

  // ------------------------------------------------------------- dedup

  def exactDedup(df: DataFrame, key: Column, id: Column): DataFrame =
    df.groupBy(md5(key).as("content_hash"))
      .agg(min(id).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Materialize the deduplicated corpus: keep exactly one row (lowest id)
    * per duplicate-key group, with all original columns — the apply side of
    * [[exactDedup]]'s report. One window keyed by the content hash. */
  def applyExactDedup(df: DataFrame, key: Column, id: Column): DataFrame = {
    val w = Window.partitionBy(md5(key)).orderBy(id)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /**
   * Corpus-level chunk dedup — the C4-style boilerplate rule applied to
   * fixed word windows: split each document into consecutive `chunkWords`-
   * word chunks, drop EVERY occurrence of any chunk text that appears more
   * than once anywhere in the corpus, and reassemble the survivors in
   * order. Returns (id, n_chunks, n_kept, kept_text).
   *
   * Shapes: chunk assembly is a hash aggregate over (doc, chunk#) with one
   * codegen'd max(when(pos % k = slot)) per slot — no collect_list ordering
   * hazard, no interpreted lambda per word; the corpus-frequency filter is
   * one count aggregate keyed by chunk text and a left-anti join back —
   * both partial-aggregated map-side. The only higher-order expression is
   * the final per-document reassembly (once per doc, not per word).
   */
  def chunkDedup(df: DataFrame, id: Column, text: Column, chunkWords: Int = 5): DataFrame = {
    require(chunkWords >= 1, "chunkWords must be positive")
    val words = df.select(id.as("__id"), posexplode(split(text, " ")))
    val slots = (0 until chunkWords).map(k =>
      max(when(pmod(col("pos"), lit(chunkWords)) === k, col("col"))))
    val chunks = words
      .groupBy(col("__id"), (col("pos") / chunkWords).cast("long").as("chunk"))
      .agg(concat_ws(" ", slots: _*).as("chunk_text"))
    val dupTexts = chunks
      .groupBy("chunk_text").agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") > 1)
      .select("chunk_text")
    val kept = chunks.join(dupTexts, Seq("chunk_text"), "left_anti")
    val before = chunks.groupBy("__id").agg(count(lit(1)).as("n_chunks"))
    val keptAgg = kept.groupBy("__id").agg(
      count(lit(1)).as("n_kept"),
      array_join(
        transform(
          array_sort(collect_list(struct(col("chunk"), col("chunk_text")))),
          x => x("chunk_text")),
        " ").as("kept_text"))
    before.join(keptAgg, Seq("__id"), "left")
      .select(col("__id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /**
   * Exact substring dedup spans — the sliding-window, ANY-OFFSET exact
   * dedup of "Deduplicating Training Data Makes Language Models Better"
   * (Lee et al., 2022), re-expressed as distributed hash aggregation
   * instead of the paper's single-node suffix array: every length-`L`
   * character window of every document is keyed by the cross-engine
   * 60-bit md5-prefix hash; a window occurring >= 2 times ANYWHERE in the
   * corpus (other documents or elsewhere in the same one) marks all its
   * occurrences; per document the marked offsets merge into maximal
   * duplicated spans (gaps-and-islands over the fixed window length).
   * This is the complement of [[chunkDedup]] (C4's fixed non-overlapping
   * chunks): arbitrary-offset duplication is caught even when the copies
   * are shifted by a single character.
   *
   * Returns (id, start, end_pos, span_len): 0-based character intervals
   * `[start, end_pos)` of corpus-duplicated text, one row per maximal
   * span.
   *
   * 100 TB posture: the window fan-out shuffles one (hash, id, pos)
   * tuple per input character — the honest cost of any-offset exact
   * dedup, and still linear (the suffix-array original is super-linear
   * in memory and single-node). The duplicate-hash set comes from one
   * partial-aggregated count and joins back hash-partitioned — never
   * broadcast, it scales with the corpus; span merging is one window
   * scan per document. Skew-safe: window hashes are near-uniform, and
   * per-document work is bounded by document length.
   */
  def substringDedupSpans(df: DataFrame, id: Column, text: Column, L: Int = 40): DataFrame = {
    require(L >= 8, s"window length must be >= 8 chars; got $L")
    // the per-character md5 fan-out below is the dominant cost and would
    // otherwise run on the narrow scan's single task (no-op at scale)
    val base = spreadForCompute(
      df.select(id.as("__id"), text.as("__t")).filter(length(col("__t")) >= L),
      col("__id"))
    val grams = base
      .select(col("__id"),
        explode(sequence(lit(0), length(col("__t")) - L)).as("__p"),
        col("__t"))
      .select(col("__id"), col("__p").cast("long").as("pos"),
        expr(s"CAST(conv(substr(md5(substring(__t, __p + 1, $L)), 1, 15), 16, 10) AS BIGINT)")
          .as("h"))
    // corpus-duplicate marking as ONE hash-partitioned window count —
    // same shuffle a groupBy would pay, but no join back, and the gram
    // fan-out (explode + md5 per character) is evaluated once, not twice
    val w = Window.partitionBy("__id").orderBy("pos")
    grams
      .withColumn("__c", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("__c") >= 2)
      .select("__id", "pos")
      .withColumn("__prev", lag("pos", 1).over(w))
      .withColumn("__isl",
        sum(when(col("__prev").isNull || col("pos") > col("__prev") + L, 1L).otherwise(0L)).over(w))
      .groupBy(col("__id"), col("__isl"))
      .agg(min("pos").as("start"), (max(col("pos")) + L).as("end_pos"))
      .select(col("__id").as("id"), col("start"), col("end_pos"),
        (col("end_pos") - col("start")).as("span_len"))
  }

  /**
   * Memorization-exposure scoring: per-document share of characters
   * covered by corpus-duplicated windows — the document-level risk
   * metric over [[substringDedupSpans]]'s machinery (Lee et al. 2022
   * measure near-duplicate text by duplicated-substring coverage; a doc
   * mostly covered by spans that recur elsewhere is memorization fuel
   * and weights a training mix down or out). Integer permille so the
   * metric is engine-exact. Adds one doc-keyed partial-agg fold over the
   * span rows (metadata-scale next to the corpus) on top of the span
   * computation's own cost. Returns (__id, n_chars_t, dup_chars,
   * dup_permille) for EVERY doc — uncontaminated docs score 0.
   */
  def memorizationExposure(df: DataFrame, id: Column, text: Column,
      L: Int = 40): DataFrame = {
    val spans = substringDedupSpans(df, id, text, L)
      .groupBy(col("id").as("__id")).agg(sum("span_len").as("dup_chars"))
    df.select(id.as("__id"), length(text).cast("long").as("n_chars_t"))
      .join(spans, Seq("__id"), "left")
      .select(col("__id"), col("n_chars_t"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"))
      .withColumn("dup_permille",
        expr("dup_chars * 1000 div greatest(n_chars_t, 1)"))
  }

  /**
   * Content-defined chunking dedup (the CDC/FastCDC storage-dedup family,
   * Muthitacharoen et al. 2001 LBFS): chunk boundaries are placed where a
   * rolling window's hash satisfies `h % divisor == 0` — boundaries
   * therefore move WITH the content, so an insertion early in a document
   * shifts every byte yet only the chunk containing the edit changes,
   * where fixed-size chunking ([[chunkDedup]]) would invalidate every
   * chunk after the edit. Chunks are then deduplicated corpus-wide by
   * digest.
   *
   * The boundary rule is a pure per-position predicate (md5-prefix hash of
   * the `w`-char window starting at the position), so the whole pipeline
   * is ONE declarative pass (generator fan-out -> boundary filter -> lag
   * spans) and replays exactly in SQL. Textbook CDC additionally clamps
   * chunk sizes to [min, max]; that suppression is sequential (a boundary
   * depends on the previous boundary) and is deliberately omitted —
   * expected chunk length is the divisor, and the duplicate-detection
   * behavior on shifted copies is what the operator exists for.
   *
   * Returns one row per chunk occurring >= 2 times corpus-wide:
   * (id, start, chunk_len, chunk_md5, n_occurrences).
   *
   * 100 TB posture: a row per character through codegen (like
   * [[substringDedupSpans]]), one doc-keyed window for spans, one
   * digest-keyed window for the corpus count — no joins, no driver state.
   */
  def cdcChunkDedup(df: DataFrame, id: Column, text: Column,
      w: Int = 16, divisor: Int = 64): DataFrame = {
    require(w >= 4 && divisor >= 2, s"need w >= 4, divisor >= 2; got $w/$divisor")
    // see substringDedupSpans: spread the narrow scan ahead of the
    // per-position rolling-hash fan-out
    val base = spreadForCompute(
      df.select(id.as("__id"), text.as("__t")), col("__id"))
    // cut AFTER position p+w when the window starting at p hash-matches;
    // every document also cuts at its end (the final chunk)
    val cuts = base
      .filter(length(col("__t")) >= w)
      .select(col("__id"),
        explode(sequence(lit(0), length(col("__t")) - w)).as("__p"), col("__t"))
      .filter(
        expr(s"CAST(conv(substr(md5(substring(__t, __p + 1, $w)), 1, 15), 16, 10) AS BIGINT)")
          % divisor === 0)
      .select(col("__id"), (col("__p") + w).cast("long").as("cut"))
      .unionByName(base.select(col("__id"), length(col("__t")).cast("long").as("cut")))
      .distinct()
    val byDoc = Window.partitionBy("__id").orderBy("cut")
    val chunks = cuts
      .withColumn("__prev", coalesce(lag("cut", 1).over(byDoc), lit(0L)))
      .filter(col("cut") > col("__prev")) // zero-length tail when end is a cut
      .join(base, Seq("__id"))
      .select(col("__id"), col("__prev").as("start"),
        (col("cut") - col("__prev")).as("chunk_len"),
        md5(expr("substring(__t, __prev + 1, cut - __prev)")).as("chunk_md5"))
    chunks
      .withColumn("n_occurrences",
        count(lit(1)).over(Window.partitionBy("chunk_md5")))
      .filter(col("n_occurrences") >= 2)
      .select(col("__id").as("id"), col("start"), col("chunk_len"),
        col("chunk_md5"), col("n_occurrences"))
  }

  /**
   * Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the MOSS
   * algorithm): hash every `k`-char gram, slide a window of `w`
   * consecutive gram hashes over each document, and select each window's
   * minimum hash (rightmost position on ties — the robust-winnowing
   * rule). The selected (position, hash) set is the document's
   * fingerprint: any shared substring of length >= w + k - 1 between two
   * documents is GUARANTEED to surface as a shared fingerprint, at ~2/(w+1)
   * the density of full k-gram shingling — the local, position-robust
   * complement to [[Pipelines.exactDedup]]'s whole-text digests (t04).
   *
   * Determinism trick: (hash, rightmost-tie) window minima come from ONE
   * `min` over a fixed-width sortable encoding — 19-digit zero-padded
   * hash || 7-digit zero-padded REVERSED position — so the whole
   * selection is a single codegen'd window pass both engines replay
   * byte-identically; no per-window argmin join.
   *
   * Returns distinct (id, pos, fp) rows.
   *
   * 100 TB posture: one generator fan-out (a row per character, like
   * [[substringDedupSpans]]), one window pass partitioned by document, one
   * distinct — per-document work is linear and partition-local after the
   * id-hash shuffle; no joins, no driver state.
   */
  def winnowFingerprints(df: DataFrame, id: Column, text: Column,
      k: Int = 8, w: Int = 8): DataFrame = {
    require(k >= 2 && w >= 2, s"need k >= 2 and w >= 2; got k=$k w=$w")
    require(k + w <= 64, "k + w beyond any plausible fingerprint scale")
    // the per-position md5 in `grams` is the dominant cost: spread a
    // narrow scan so it parallelizes (no-op at scale)
    val base = spreadForCompute(
      df.select(id.as("__id"), text.as("__t"))
        .filter(length(col("__t")) >= k + w - 1),
      col("__id"))
    val grams = base
      .select(col("__id"),
        explode(sequence(lit(0), length(col("__t")) - k)).as("__p"),
        col("__t"))
      .select(col("__id"), col("__p").cast("long").as("pos"),
        expr(s"CAST(conv(substr(md5(substring(__t, __p + 1, $k)), 1, 15), 16, 10) AS BIGINT)")
          .as("h"))
    val key = concat(
      lpad(col("h").cast("string"), 19, "0"),
      lpad((lit(1048575L) - col("pos")).cast("string"), 7, "0"))
    val frame = Window.partitionBy("__id").orderBy("pos").rowsBetween(0, w - 1)
    grams
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("__id")))
      .withColumn("__sel", min(key).over(frame))
      .filter(col("pos") <= col("__n") - w)
      .select(col("__id").as("id"),
        (lit(1048575L) - expr("CAST(substr(__sel, 20, 7) AS BIGINT)")).as("pos"),
        expr("CAST(substr(__sel, 1, 19) AS BIGINT)").as("fp"))
      .distinct()
  }

  /**
   * Edit-distance near-dup pairs: exact Levenshtein verification within
   * blocking columns — the character-level complement to token-level
   * n-gram Jaccard (d04), catching the small in-word edits shingles
   * over-penalize. Blocks bound the O(block²) candidate generation the
   * same way the oracle-exact cosine form does; at 100 TB the identical
   * verify runs over LSH candidate pairs instead (minHashDedupPairs →
   * levenshtein rescore), so the primitive is the reusable piece.
   */
  def editDistancePairs(df: DataFrame, id: Column, text: Column,
      blocks: Seq[Column], maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val bcols = blocks.zipWithIndex.map { case (c, i) => c.as(s"__b$i") }
    // the histogram gate + banded DP below are the dominant per-pair cost:
    // spread a narrow scan so the verify runs cluster-wide instead of on
    // the one task a small parquet input scans as (no-op at scale)
    val left = spreadForCompute(
      df.select((id.as("doc_a") +: text.as("__ta") +: bcols): _*), col("doc_a"))
    val right = spreadForCompute(
      df.select((id.as("doc_b") +: text.as("__tb") +: bcols): _*), col("doc_b"))
    // |len(a) - len(b)| <= maxDist is NECESSARY for dist <= maxDist: the
    // length gate kills most block pairs before any DP runs, and the
    // THRESHOLD-BOUNDED levenshtein (O(maxDist * len) banded DP, -1 past
    // the bound) replaces the O(len²) full matrix on the survivors —
    // identical results, an order of magnitude less work per pair
    val cond = blocks.indices
      .map(i => left(s"__b$i") === right(s"__b$i"))
      .foldLeft(left("doc_a") < right("doc_b") &&
        abs(length(left("__ta")) - length(right("__tb"))) <= maxDist)(_ && _)
    left.join(right, cond)
      // histogram gate: char_hist_l1 <= 2*dist always, so this NECESSARY
      // condition never drops a true pair but kills ~93% of the
      // length-surviving pairs at O(len) each before the O(maxDist*len) DP
      .filter(graft.functions.CharHistL1(col("__ta"), col("__tb")) <= lit(2 * maxDist))
      .withColumn("edit_dist", levenshtein(col("__ta"), col("__tb"), maxDist).cast("long"))
      .filter(col("edit_dist") >= 0 && col("edit_dist") <= maxDist)
      .select("doc_a", "doc_b", "edit_dist")
  }

  /**
   * Mixture sampling — deterministic per-group Bernoulli subsampling for
   * domain/language reweighting (the static data-mixture step of a
   * pretraining pipeline). A row is kept iff its content-hash bucket
   * (first 4 hex chars of md5(id), a uniform 16-bit draw) falls below the
   * group's permille weight; groups absent from `weightsPermille` keep
   * `defaultPermille`. Fully deterministic — the same id always draws the
   * same bucket, so reruns and retries keep identical rows.
   *
   * Scale: one codegen'd hash + comparison per row, no shuffle, no state;
   * the filter reaches the scan untouched by group size or skew.
   */
  def mixtureSample(df: DataFrame, group: Column, id: Column,
      weightsPermille: Map[String, Int], defaultPermille: Int = 1000): DataFrame = {
    val bucket = substring(md5(id.cast("string")), 1, 4)
    val threshold = weightsPermille.foldLeft(lit(hexThreshold(defaultPermille))) {
      case (acc, (g, w)) => when(group === g, lit(hexThreshold(w))).otherwise(acc)
    }
    df.withColumn("bucket", bucket).filter(bucket < threshold)
  }

  /** 4-hex-char threshold for a permille weight: bucket < threshold keeps
    * ~permille/1000 of uniform buckets ("zzzz" > every hex string = keep
    * all; "0000" keeps none under strict <). */
  /**
   * Temperature-flattened mixture sampling (t20) — the multilingual /
   * source-balancing rule (sqrt scaling, temperature 2): per-source keep
   * rates are computed FROM the data, `permille_s = round(1000 *
   * sqrt(min_count / count_s))`, so the smallest source keeps everything
   * and every larger source downsamples toward equal sqrt-mass — the
   * standard compromise between natural and uniform source distributions
   * for training mixtures. Selection reuses the deterministic md5-prefix
   * bucket filter ([[mixtureSample]]).
   *
   * Scale: ONE count aggregation (a row per source reaches the driver —
   * metadata scale) and one scan-side codegen filter; no row ever
   * shuffles. Exactness: counts are integers, sqrt is correctly-rounded
   * IEEE in any engine, and the rate collapses to an integer permille
   * before thresholding — the whole pipeline replays in SQL.
   */
  def temperatureSample(df: DataFrame, group: Column, id: Column,
      maxGroups: Int = 100000): DataFrame = {
    // the per-group count row set is collected (metadata scale for real
    // source columns: languages, domains, datasets) — a caller passing a
    // high-cardinality group (a doc id, a URL) would silently turn this
    // into an O(corpus) driver materialization, so the cardinality is
    // guarded LOUDLY: count first (cheap, distributed), fail with
    // guidance before collecting anything
    val grouped = df.groupBy(group.as("__g")).agg(count(lit(1)).as("__n"))
    val nGroups = grouped.count()
    require(nGroups <= maxGroups,
      s"temperatureSample: $nGroups distinct groups exceeds maxGroups=" +
        s"$maxGroups — the per-source rate table is driver-resident by " +
        "design (sources are metadata scale); pass a coarser group " +
        "column (language, domain, dataset), or raise maxGroups " +
        "deliberately if your source taxonomy is genuinely this large")
    val counts = grouped
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(counts.nonEmpty, "temperatureSample: empty input")
    val minN = counts.values.min
    // selection via a BROADCAST rate table, not mixtureSample's literal
    // when-chain: a data-derived group set can be thousands of sources,
    // and a when-chain that deep overflows the analyzer's stack (the
    // chain shape is for small hand-written mixture maps). Same
    // semantics: deterministic md5-prefix bucket < per-group threshold.
    val rates = counts.toSeq.map { case (g, n) =>
      (g, hexThreshold(math.round(1000.0 * math.sqrt(minN.toDouble / n)).toInt))
    }
    val spark = df.sparkSession
    import spark.implicits._
    val rateDf = rates.toDF("__g", "__thr")
    // null-safe equality: a NULL source group is a real group (it got its
    // own rate row above) — a plain === join would silently DROP those
    // rows, a data loss the when-chain path never had
    df.withColumn("bucket", substring(md5(id.cast("string")), 1, 4))
      .join(broadcast(rateDf), group <=> col("__g"))
      .filter(col("bucket") < col("__thr"))
      .drop("__g", "__thr")
  }

  private[graft] def hexThreshold(permille: Int): String = {
    require(permille >= 0 && permille <= 1000, s"permille out of range: $permille")
    if (permille >= 1000) "zzzz" else f"${permille * 65536 / 1000}%04x"
  }

  /**
   * Train/eval decontamination — flag training documents that share any
   * word n-gram with a held-out evaluation set (the GPT-3/Pile overlap
   * hygiene step). Returns (id, n_shared): contaminated train ids with the
   * count of DISTINCT eval n-grams they contain.
   *
   * Shapes for 100 TB: eval suites are benchmark-sized, not crawl-sized —
   * their distinct gram set broadcasts, so the corpus side sees a map-side
   * hash join with NO shuffle of train grams; only the surviving
   * (contaminated) rows reach the per-doc distinct aggregate, which is
   * partial-aggregated on the candidate set, not the corpus.
   */
  /**
   * SEMANTIC train/eval decontamination (d17) — the embedding-space
   * complement to [[decontaminationReport]]'s lexical n-gram overlap: a
   * paraphrased or lightly-rewritten benchmark item shares no 5-gram with
   * its source but sits at near-1 cosine. Flags every train vector whose
   * cosine to ANY eval vector reaches `thresholdMicro` (threshold and
   * comparison in micro-rounded integers, so the report replays exactly
   * in SQL), reporting its CLOSEST eval item (ties: smallest eval id) and
   * the micro similarity.
   *
   * Shapes for 100 TB: eval suites are benchmark-sized, not crawl-sized —
   * the eval side BROADCASTS and the corpus scans ONCE through a codegen
   * dot product per (train, eval) pair (a broadcast nested-loop by
   * construction, the same shape as [[cosineTopK]]'s query side); train
   * vectors never shuffle, and only FLAGGED rows (the contamination, tiny
   * by definition) reach the per-train-id window.
   */
  def semanticDecontaminationReport(train: DataFrame, evalSet: DataFrame,
      id: Column, vec: Column, thresholdMicro: Long,
      maxEvalRows: Long = 100000): DataFrame = {
    val t = train.select(id.as("t_id"), vec.as("t_emb"))
      .withColumn("t_nrm", l2norm(col("t_emb")))
    val e = evalSet.select(id.as("e_id"), vec.as("e_emb"))
      .withColumn("e_nrm", l2norm(col("e_emb")))
    // the eval side broadcasts AND multiplies the corpus scan (every train
    // row dots every eval row) — a caller passing a corpus as `evalSet`
    // would get a driver OOM or a silent O(n*m) blow-up, so the
    // benchmark-sized contract is enforced LOUDLY: count first (cheap,
    // distributed), fail with guidance before broadcasting anything (the
    // temperatureSample maxGroups pattern)
    val nEval = e.count()
    require(nEval <= maxEvalRows,
      s"semanticDecontaminationReport: $nEval eval rows exceeds " +
        s"maxEvalRows=$maxEvalRows — the eval set broadcasts to every " +
        "executor and scores against every train vector by design (eval " +
        "suites are benchmark-sized); if you meant corpus-vs-corpus " +
        "similarity use cosineNearDupPairs/annTopK, or raise maxEvalRows " +
        "deliberately if your eval suite is genuinely this large")
    val flagged = t.crossJoin(broadcast(e))
      .select(col("t_id"), col("e_id"),
        round(dotProd(col("t_emb"), col("e_emb")) /
          (col("t_nrm") * col("e_nrm")) * 1000000).cast("long").as("cos_micro"))
      .filter(col("cos_micro") >= thresholdMicro)
    // rank by the ROUNDED score (the value both engines share exactly),
    // eval id as the deterministic tiebreak
    val w = Window.partitionBy("t_id")
      .orderBy(col("cos_micro").desc, col("e_id"))
    flagged.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("t_id"), col("e_id").as("closest_eval"), col("cos_micro"))
  }

  def decontaminationReport(train: DataFrame, evalSet: DataFrame,
      id: Column, text: Column, n: Int = 5): DataFrame = {
    require(n >= 1, "n must be positive")
    val evalGrams = wordGrams(evalSet, id, text, n).select("gram").distinct()
    wordGrams(train, id, text, n)
      .join(broadcast(evalGrams), Seq("gram"))
      .groupBy("__id")
      .agg(countDistinct(col("gram")).as("n_shared"))
  }

  /**
   * Persisted eval-gram index bootstrap (d26) — [[decontaminationReport]]'s
   * production face: the held-out set is FIXED, so its n-gram membership
   * lands ONCE as a transactional gwdelta table and every later ingest
   * batch probes THAT — the eval set is never re-read, re-tokenized, or
   * re-fanned per batch (the d20-family contract for a read-only state).
   * The index stores 60-bit md5-prefix gram KEYS, never gram text: the
   * held-out benchmark's contents do not leak into a shared scratch
   * table, and the key join replays engine-exact. Returns the committed
   * version.
   */
  def buildEvalGramIndex(evalSet: DataFrame, id: Column, text: Column,
      indexPath: String, n: Int = 5): Long = {
    require(n >= 1, "n must be positive")
    graft.streaming.GwSink.append(
      wordGrams(evalSet, id, text, n)
        .select(conv(substring(md5(col("gram")), 1, 15), 16, 10)
          .cast("long").as("gk"))
        .distinct(),
      indexPath, bootstrapProps = Map(EvalGramNProp -> n.toString))
  }

  val EvalGramNProp = "graft.evalgrams.n"

  /**
   * Incremental decontamination against the persisted eval-gram index
   * (d26): per batch document, how many of its distinct n-grams occur in
   * the held-out set — [[decontaminationReport]]'s semantics with the
   * eval side served from [[buildEvalGramIndex]]'s stored keys. The
   * batch pays one gram-keyed fan-out; the index STREAMS through the
   * key equi-join (never broadcasts — at benchmark-suite scale Spark may
   * choose to, which is fine; the plan never REQUIRES it), and nothing
   * writes — decontamination is a read-only probe, so batches need no
   * txn machinery. Returns (id, n_shared) for batch docs sharing at
   * least one gram, exactly the report's contract.
   */
  def decontaminateBatch(batch: DataFrame, id: Column, text: Column,
      indexPath: String): DataFrame = {
    val spark = batch.sparkSession
    val t = graft.GwTable.forPath(spark, indexPath)
    val conf = t.snapshot().metadata.map(_.configuration).getOrElse(Map.empty)
    val n = conf.getOrElse(EvalGramNProp, throw new IllegalArgumentException(
      s"$indexPath is not an eval-gram index table: missing $EvalGramNProp " +
        "in the table configuration (build one with buildEvalGramIndex)")).toInt
    wordGrams(batch, id, text, n)
      .withColumn("gk", conv(substring(md5(col("gram")), 1, 15), 16, 10)
        .cast("long"))
      .join(spark.read.format("gwdelta").load(indexPath), Seq("gk"), "left_semi")
      .groupBy("__id")
      .agg(countDistinct(col("gram")).as("n_shared"))
  }

  /**
   * Cross-corpus exact-membership report (blocklist / reference-corpus
   * dedup): the corpus rows whose `key` also occurs in `reference` —
   * the "drop training docs that appear in a do-not-train list / an
   * already-trained-on corpus" step.
   *
   * 100 TB shape: the reference aggregates into ONE Bloom sketch
   * (Spark's `BloomFilterAggregate` — executor-side partial merge, a few
   * MB at the driver) that rides into the corpus scan as a broadcast
   * literal inside a codegen'd `BloomFilterMightContain` filter. The
   * corpus therefore NEVER shuffles: only the sketch's survivors — true
   * matches plus its false-positive share of the corpus — pay the exact
   * semi-join that makes the answer exact. This is the same machinery
   * Spark's own `InjectRuntimeFilter` uses for join runtime filters,
   * applied explicitly so the pipeline controls sizing.
   *
   * A Bloom sketch has no false negatives: the prefilter can only keep
   * too much, never drop a true member, so the verify join's output is
   * EXACT — the sketch only bounds how many rows reach the join.
   * `expectedItems` should be ~ the reference's distinct key count; with
   * `fpp` it sizes the sketch (`optimalNumOfBits`).
   */
  def membershipReport(corpus: DataFrame, id: Column, key: Column,
      reference: DataFrame, refKey: Column,
      expectedItems: Long = 1000000L, fpp: Double = 0.03): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.Bridge
    require(expectedItems > 0 && fpp > 0 && fpp < 1,
      s"need expectedItems > 0 and fpp in (0,1), got $expectedItems / $fpp")
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    val agg = new BloomFilterAggregate(
      new XxHash64(Seq(Bridge.expression(refKey))),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression()
    // one row of sketch bytes: metadata-scale driver traffic by design
    val sketch = reference.agg(Bridge.column(agg).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val out = corpus.select(id.as("id"), key.as("__k"))
    if (sketch == null) return out.select("id").limit(0) // empty reference
    val mightContain = Bridge.column(new BloomFilterMightContain(
      Literal(sketch, org.apache.spark.sql.types.BinaryType),
      new XxHash64(Seq(Bridge.expression(col("__k"))))))
    out.filter(mightContain)
      .join(reference.select(refKey.as("__k")).distinct(), Seq("__k"), "left_semi")
      .select("id")
  }

  val MinHashPermProp = "graft.minhash.numPerm"
  val MinHashBandsProp = "graft.minhash.bands"

  /** md5-lane banded MinHash signatures: (band, bucket, doc_id, sig).
    * ONE md5 per DISTINCT 3-word shingle; lane p = min over shingles of
    * `((2p+1)*x + p) mod 2^32` where x is the digest's 32-bit prefix —
    * multiplication by an odd constant mod 2^32 is a bijection of
    * Z_2^32, so each lane is a genuinely different permutation of the
    * shingle space (an additive-only family degenerates: one globally
    * minimal shingle wins every lane and the estimator collapses to
    * 0-or-1000). Products stay under 2^44 — overflow-free in BOTH
    * engines' signed 64-bit, so signatures, buckets, and estimated
    * Jaccards replay exactly in SQL at one digest per shingle. Docs
    * with fewer than 3 words have no shingles and no signature. One
    * shingle shuffle, one per-doc aggregate; the band fan-out is a
    * per-row explode of `bands` small structs. */
  private def bandedMinHash(df: DataFrame, id: Column, text: Column,
      numPerm: Int, bands: Int): DataFrame = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    require(numPerm <= 2048, s"numPerm beyond the overflow-free family: $numPerm")
    val r = numPerm / bands
    // deliberately NOT spread: the per-batch inputs here are micro-batches
    // whose signature fan-out is cheap next to the candidate joins, and a
    // bracketed bench measured the extra exchange + per-call plan compile
    // as a net LOSS (r12: d22 6.4s -> 9.3s; RE-MEASURED in r13 after the
    // log-layer fixes with the spread on the pre-explode doc rows:
    // d22 4.9 -> 8.2s, st19 5.0 -> 7.0s — still a clear loss, reverted)
    val sh = df.select(id.cast("long").as("__id"), split(text, " ").as("a"))
      .filter(size(col("a")) >= 3)
      .select(col("__id"), explode(array_distinct(expr(
        "transform(sequence(1, size(a) - 2), " +
          "i -> concat_ws(' ', a[i-1], a[i], a[i+1]))"))).as("s"))
      .select(col("__id"),
        conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long").as("x"))
    val M = 4294967296L // 2^32
    def lane(p: Int) =
      min((lit(2L * p + 1) * col("x") + lit(p.toLong)) % M).as(s"mh$p")
    val mh = sh.groupBy("__id").agg(lane(0), (1 until numPerm).map(lane): _*)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("|", (lit(b) +: (0 until r).map(i => col(s"mh${b * r + i}"))): _*)
          .as("bucket"))
    }
    mh.select(col("__id").as("doc_id"),
        array((0 until numPerm).map(p => col(s"mh$p")): _*).as("sig"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("bb.band").as("band"), col("bb.bucket").as("bucket"),
        col("doc_id"), col("sig"))
  }

  /** Estimated Jaccard from two aligned MinHash signatures, in integer
    * permille: matching lanes / numPerm — the decision rule that makes
    * INCREMENTAL fuzzy dedup possible without storing any text. */
  private def estJaccardPermille(a: Column, b: Column, numPerm: Int): Column =
    round(lit(1000.0) * aggregate(
      zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v) / numPerm).cast("long")

  /**
   * Persisted MinHash signature index bootstrap (d22) — the fuzzy
   * counterpart of [[buildFingerprintIndex]]: the historical corpus's
   * banded signatures land as a transactional gwdelta table PARTITIONED
   * BY band, and are never recomputed. Signatures are a few hundred
   * bytes per document — the index is orders smaller than the corpus.
   */
  def buildMinHashIndex(df: DataFrame, id: Column, text: Column,
      indexPath: String, numPerm: Int = 32, bands: Int = 8): Long =
    graft.streaming.GwSink.append(
      bandedMinHash(df, id, text, numPerm, bands), indexPath,
      partitionBy = Seq("band"),
      bootstrapProps = Map(MinHashPermProp -> numPerm.toString,
        MinHashBandsProp -> bands.toString))

  /**
   * Incremental FUZZY dedup against the persisted signature index (d22)
   * — d20's lifecycle for NEAR duplicates: each batch's banded
   * signatures join the index on (band, bucket) for candidates, the
   * decision is the ESTIMATED Jaccard from the stored signatures
   * (>= thresholdPermille drops; no text is ever stored or rescanned),
   * and survivors' banded rows append under a batch txn id. In-batch
   * dups drop when a smaller-id batch member estimates over threshold.
   *
   * Scale: the index never broadcasts — the (band, bucket) equi-join
   * streams it (band partition pruning applies when probing few bands);
   * the batch side is capped per bucket (`bucketCap`, the shared LSH
   * skew guard) so one boilerplate bucket cannot go quadratic. The
   * banded-signature frame is localCheckpoint'd ONCE — it feeds the
   * candidate joins, the report, the bucket census and the survivor
   * append, so the expensive stage (shingle shuffle + lane aggregate)
   * runs once, not per consumer. Bucket saturation on the INDEX side is
   * observable with [[minHashIndexBucketAudit]]. Returns (id,
   * dup_of_index, dup_in_batch, kept) for every batch doc with >= 3
   * words — including docs the skew cap dropped from every bucket
   * (they report kept with no advertised bands, the same cap-conditional
   * membership weakening the exact caps document).
   *
   * Exactly-once replay: document ids must be globally unique across
   * batches (they are the identity the whole report keys on). On a
   * crash-retry with the same `txnId` — detected METADATA-ONLY from the
   * log's txn high-water mark, zero cost on the common first-attempt
   * path — the index already holds THIS batch's own banded rows from the
   * first attempt; candidate rows whose index-side id is one of the
   * batch's own ids are then anti-joined out, so the replayed report
   * equals the first attempt's instead of self-matching every kept doc
   * (the append side was already a replay no-op). Calls WITHOUT a txnId
   * have no exactly-once contract: re-running one re-dedups against
   * whatever the index holds, own signatures included.
   */
  def incrementalFuzzyDedup(batch: DataFrame, id: Column, text: Column,
      indexPath: String, thresholdPermille: Int,
      txnId: Option[String] = None, bucketCap: Int = 65536,
      indexBucketCap: Int = 65536,
      broadcastMaxKeys: Long = 4000000L): DataFrame = {
    require(indexBucketCap > 0, s"indexBucketCap must be positive: $indexBucketCap")
    val spark = batch.sparkSession
    val t = graft.GwTable.forPath(spark, indexPath)
    val conf = t.snapshot().metadata.map(_.configuration).getOrElse(Map.empty)
    def prop(k: String): Int = conf.getOrElse(k, throw new IllegalArgumentException(
      s"$indexPath is not a MinHash index table: missing $k " +
        "in the table configuration (build one with buildMinHashIndex)")).toInt
    val numPerm = prop(MinHashPermProp)
    val bands = prop(MinHashBandsProp)
    val pinned = t.versionAsOf(t.snapshot().version)
    // materialize the signatures once (shingle shuffle + lane aggregate —
    // the dominant cost); every consumer below reads the checkpointed
    // blocks. The cap is windowed over the materialized frame.
    val banded0 = bandedMinHash(batch, id, text, numPerm, bands)
      .localCheckpoint()
    val bb = capBucketMembers(banded0, "doc_id", bucketCap).localCheckpoint()
    // replay self-exclusion (see scaladoc): only on a DETECTED replay,
    // and then on the candidate rows — batch-bounded — never as an extra
    // shuffle of the index itself; the common path pays nothing
    val isReplay = txnId.isDefined &&
      graft.log.GwTxn.replayedVersion(t.log, txnId).isDefined
    val candBase = bb.select(col("band"), col("bucket"),
        col("doc_id").as("id"), col("sig"))
      .join(pinned.select(col("band"), col("bucket"),
        col("doc_id").as("h_id"), col("sig").as("h_sig")), Seq("band", "bucket"))
    val candIdx =
      (if (!isReplay) candBase
       else {
         val selfIds = bb.select(col("doc_id").as("h_id")).distinct()
         val smallIds = selfIds.count() <= broadcastMaxKeys
         candBase.join(if (smallIds) broadcast(selfIds) else selfIds,
           Seq("h_id"), "left_anti")
       })
      .select("id", "h_id", "sig", "h_sig").distinct()
    val dupIdx = candIdx
      .filter(estJaccardPermille(col("sig"), col("h_sig"), numPerm)
        >= thresholdPermille)
      .select("id").distinct().withColumn("__di", lit(true))
    val candB = bb.select(col("band"), col("bucket"),
        col("doc_id").as("id_a"), col("sig").as("sig_a"))
      .join(bb.select(col("band"), col("bucket"),
        col("doc_id").as("id_b"), col("sig").as("sig_b")), Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sig_a", "sig_b").distinct()
    val dupB = candB
      .filter(estJaccardPermille(col("sig_a"), col("sig_b"), numPerm)
        >= thresholdPermille)
      .select(col("id_b").as("id")).distinct().withColumn("__db", lit(true))
    // report base = every signed doc BEFORE the skew cap, so capping can
    // shed advertised rows but never a whole doc from the report.
    // Materialized ONCE (guide §2.3/§2.4): the report feeds the survivor
    // append below AND the caller (report-table append / count) — without
    // the checkpoint the candidate joins + estimator re-run per consumer.
    val report = banded0.select(col("doc_id").as("id")).distinct()
      .join(dupIdx, Seq("id"), "left")
      .join(dupB, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("__di"), lit(false)).as("dup_of_index"),
        coalesce(col("__db"), lit(false)).as("dup_in_batch"))
      .withColumn("kept", !col("dup_of_index") && !col("dup_in_batch"))
      .localCheckpoint(false)
    // index-side saturation guard: a bucket already holding
    // `indexBucketCap` members stops accepting new banded rows, so one
    // boilerplate content region cannot grow a bucket without bound
    // across the index's lifetime. The membership count reuses the
    // candidate join's work (only buckets the batch touches can grow);
    // a kept doc still appends through its UNSATURATED bands — the
    // membership weakening is cap-conditional and bucket-local, same
    // contract as the Hamming/LSH caps, observable via
    // [[minHashIndexBucketAudit]]. The batch's bucket keys broadcast
    // only below `broadcastMaxKeys` (one cheap count over the
    // checkpointed frame); a bootstrap-sized batch falls back to a keyed
    // semi-join instead of OOMing the driver — the adaptive guard
    // mirrors [[incrementalExactDedup]]'s `broadcastMaxDigests`.
    val batchKeys = bb.select("band", "bucket").distinct()
    val smallKeys = batchKeys.count() <= broadcastMaxKeys
    val bucketSizes = pinned
      .join(if (smallKeys) broadcast(batchKeys) else batchKeys,
        Seq("band", "bucket"), "left_semi")
      .groupBy("band", "bucket").agg(count(lit(1)).as("__members"))
    val survivors = bb
      .join(report.filter(col("kept")).select(col("id").as("doc_id")),
        Seq("doc_id"), "left_semi")
      .join(bucketSizes, Seq("band", "bucket"), "left")
      .filter(coalesce(col("__members"), lit(0L)) < indexBucketCap)
      .select("band", "bucket", "doc_id", "sig")
    graft.streaming.GwSink.append(
      survivors, indexPath, txnId = txnId, partitionBy = Seq("band"))
    report
  }

  val EmbIdxDimProp = "graft.embidx.dim"
  val EmbIdxPlanesProp = "graft.embidx.planes"
  val EmbIdxBandsProp = "graft.embidx.bands"

  /** Banded sign-LSH rows of an embedding frame: one (band, bucket,
    * vec_id, emb) row per band, buckets from the seeded hyperplane
    * family (the s02/d06 candidate machinery). The embedding rides along
    * because the incremental-dedup DECISION is exact cosine — candidates
    * are approximate, verdicts never are. */
  private def bandedEmbeddings(df: DataFrame, id: Column, vec: Column,
      dim: Int, nPlanes: Int, bands: Int): DataFrame = {
    require(nPlanes % bands == 0, "nPlanes must be divisible by bands")
    val bitsPerBand = nPlanes / bands
    val planes = hyperplanes(nPlanes, dim)
    def bandKeys(e: Column): Seq[Column] = {
      val bits = (0 until nPlanes).map { p =>
        when(dotProd(e, lit(planes(p))) > 0, 1L).otherwise(0L)
      }
      (0 until bands).map { b =>
        (0 until bitsPerBand).map(i => bits(b * bitsPerBand + i) * (1L << i))
          .reduce(_ + _)
      }
    }
    df.select(id.cast("long").as("vec_id"), vec.as("emb"))
      .select(col("vec_id"), col("emb"),
        posexplode(array(bandKeys(col("emb")).map(_.cast("long")): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
      .select("band", "bucket", "vec_id", "emb")
  }

  /**
   * Persisted EMBEDDING index bootstrap (d25) — the semantic counterpart
   * of [[buildFingerprintIndex]] (exact) and [[buildMinHashIndex]]
   * (fuzzy): the historical corpus's sign-LSH banded rows land as a
   * transactional gwdelta table PARTITIONED BY band, embedding attached
   * (the exact-cosine verify needs it), and the corpus itself is never
   * rescanned. The hyperplane family is seeded and data-independent; its
   * shape rides the table configuration so the index is self-describing.
   */
  def buildEmbeddingIndex(df: DataFrame, id: Column, vec: Column, dim: Int,
      indexPath: String, nPlanes: Int = 24, bands: Int = 8): Long =
    graft.streaming.GwSink.append(
      bandedEmbeddings(df, id, vec, dim, nPlanes, bands), indexPath,
      partitionBy = Seq("band"),
      bootstrapProps = Map(EmbIdxDimProp -> dim.toString,
        EmbIdxPlanesProp -> nPlanes.toString,
        EmbIdxBandsProp -> bands.toString))

  /**
   * Incremental SEMANTIC dedup against the persisted embedding index
   * (d25) — the third face of the incremental-dedup lifecycle: d20
   * admits by content digest, d22 by estimated Jaccard, this by EXACT
   * COSINE over LSH-banded candidates — a paraphrase or re-embedding of
   * an already-admitted vector drops even though no digest or shingle
   * matches. Candidates come from the (band, bucket) equi-join against
   * the stored banded rows (never all-pairs, band partition pruning
   * applies); the decision compares ROUNDED micro-cosine
   * (`>= thresholdMicro` drops) so the boundary is integer-exact and
   * SQL-replayable; survivors' banded rows append under the batch txn in
   * the same call.
   *
   * Scale: the index never broadcasts (streamed equi-join); the batch
   * side is bucket-capped (the shared LSH skew guard); the banded batch
   * frame is checkpointed ONCE for its consumers. Exactly-once replay
   * mirrors d20/d22: on a DETECTED replay the batch's own index rows are
   * anti-joined out of the candidate set, so the replayed report equals
   * the first attempt's. Returns (id, dup_of_index, dup_in_batch, kept).
   */
  def incrementalSemanticDedup(batch: DataFrame, id: Column, vec: Column,
      indexPath: String, thresholdMicro: Long,
      txnId: Option[String] = None, bucketCap: Int = 65536,
      broadcastMaxKeys: Long = 4000000L): DataFrame = {
    val spark = batch.sparkSession
    val t = graft.GwTable.forPath(spark, indexPath)
    val conf = t.snapshot().metadata.map(_.configuration).getOrElse(Map.empty)
    def prop(k: String): Int = conf.getOrElse(k, throw new IllegalArgumentException(
      s"$indexPath is not an embedding index table: missing $k " +
        "in the table configuration (build one with buildEmbeddingIndex)")).toInt
    val dim = prop(EmbIdxDimProp)
    val nPlanes = prop(EmbIdxPlanesProp)
    val bands = prop(EmbIdxBandsProp)
    val pinned = t.versionAsOf(t.snapshot().version)
    def cosMicro(a: Column, b: Column): Column =
      round(dotProd(a, b) / (l2norm(a) * l2norm(b)) * 1000000).cast("long")
    val banded0 = bandedEmbeddings(batch, id, vec, dim, nPlanes, bands)
      .localCheckpoint()
    val bb = capBucketMembers(banded0, "vec_id", bucketCap).localCheckpoint()
    val isReplay = txnId.isDefined &&
      graft.log.GwTxn.replayedVersion(t.log, txnId).isDefined
    val candBase = bb.select(col("band"), col("bucket"),
        col("vec_id").as("id"), col("emb"))
      .join(pinned.select(col("band"), col("bucket"),
        col("vec_id").as("h_id"), col("emb").as("h_emb")), Seq("band", "bucket"))
    val candIdx =
      (if (!isReplay) candBase
       else {
         val selfIds = bb.select(col("vec_id").as("h_id")).distinct()
         val smallIds = selfIds.count() <= broadcastMaxKeys
         candBase.join(if (smallIds) broadcast(selfIds) else selfIds,
           Seq("h_id"), "left_anti")
       })
      .select("id", "h_id", "emb", "h_emb").distinct()
    val dupIdx = candIdx
      .filter(cosMicro(col("emb"), col("h_emb")) >= thresholdMicro)
      .select("id").distinct().withColumn("__di", lit(true))
    val candB = bb.select(col("band"), col("bucket"),
        col("vec_id").as("id_a"), col("emb").as("emb_a"))
      .join(bb.select(col("band"), col("bucket"),
        col("vec_id").as("id_b"), col("emb").as("emb_b")), Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "emb_a", "emb_b").distinct()
    val dupB = candB
      .filter(cosMicro(col("emb_a"), col("emb_b")) >= thresholdMicro)
      .select(col("id_b").as("id")).distinct().withColumn("__db", lit(true))
    // materialized ONCE (guide §2.3/§2.4): feeds the survivor append AND
    // the caller — without the checkpoint the candidate joins + exact
    // cosine re-run per consumer
    val report = banded0.select(col("vec_id").as("id")).distinct()
      .join(dupIdx, Seq("id"), "left")
      .join(dupB, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("__di"), lit(false)).as("dup_of_index"),
        coalesce(col("__db"), lit(false)).as("dup_in_batch"))
      .withColumn("kept", !col("dup_of_index") && !col("dup_in_batch"))
      .localCheckpoint(false)
    val survivors = bb
      .join(report.filter(col("kept")).select(col("id").as("vec_id")),
        Seq("vec_id"), "left_semi")
      .select("band", "bucket", "vec_id", "emb")
    graft.streaming.GwSink.append(
      survivors, indexPath, txnId = txnId, partitionBy = Seq("band"))
    report
  }

  /**
   * Right-to-be-forgotten for the persisted EXACT-dedup state (d23): a
   * deletion-request id set removes ITS rows from the fingerprint index
   * ([[buildFingerprintIndex]]) through the engine's own MERGE
   * (matched-delete), so a later identical submission is KEPT again —
   * the dedup counterpart of the vector index's unlearning (s23). The
   * forgotten doc's digest leaves the membership state entirely; if
   * other copies should stay deduplicated, re-index one surviving copy.
   *
   * Scale: the request frame joins the index on its key — MERGE's match
   * pass rewrites only the files holding a matched row; neither the
   * corpus nor the index history is rescanned, and the commit is
   * OCC-checked like any DML. Returns the committed version, or -1 when
   * the ids held no index rows (nothing to forget).
   */
  def forgetFingerprints(ids: DataFrame, id: Column, indexPath: String): Long =
    graft.GwTable.forPath(ids.sparkSession, indexPath).merge(
      ids.select(id.cast("long").as("src_id")).distinct(),
      on = col("t.src_id") === col("s.src_id"),
      insertNotMatched = false,
      whenMatchedDeleteIf = Some(lit(true)))

  /** d23's fuzzy twin: forget a deletion-request id set's banded MinHash
    * signature rows ([[buildMinHashIndex]]) — every band row of a
    * forgotten doc leaves the index in one MERGE matched-delete commit
    * (band partition pruning bounds the rewrite to touched partitions),
    * so a later near-duplicate of it no longer matches the index.
    * Returns the committed version, or -1 when nothing matched. */
  def forgetSignatures(ids: DataFrame, id: Column, indexPath: String): Long =
    graft.GwTable.forPath(ids.sparkSession, indexPath).merge(
      ids.select(id.cast("long").as("doc_id")).distinct(),
      on = col("t.doc_id") === col("s.doc_id"),
      insertNotMatched = false,
      whenMatchedDeleteIf = Some(lit(true)))

  /** d23's semantic twin: forget a deletion-request id set's banded
    * embedding rows ([[buildEmbeddingIndex]]) — every band row of a
    * forgotten vector leaves the index in one MERGE matched-delete
    * commit (band partition pruning bounds the rewrite), so a later
    * near-duplicate of it is ADMITTED again by
    * [[incrementalSemanticDedup]]. Returns the committed version, or -1
    * when nothing matched. */
  def forgetEmbeddings(ids: DataFrame, id: Column, indexPath: String): Long =
    graft.GwTable.forPath(ids.sparkSession, indexPath).merge(
      ids.select(id.cast("long").as("vec_id")).distinct(),
      on = col("t.vec_id") === col("s.vec_id"),
      insertNotMatched = false,
      whenMatchedDeleteIf = Some(lit(true)))

  /** Bucket census of a persisted MinHash index: (band, bucket, members)
    * above `minMembers` — one partial-aggregated groupBy over the index,
    * the saturation observability d22's banded join needs at scale. */
  def minHashIndexBucketAudit(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, minMembers: Long = 1024L): DataFrame =
    spark.read.format("gwdelta").load(indexPath)
      .groupBy("band", "bucket").agg(count(lit(1)).as("members"))
      .filter(col("members") >= minMembers)

  /**
   * Persisted duplicate-cluster membership bootstrap (d24) — land the
   * historical corpus's cluster assignment as a transactional gwdelta
   * table: one `(node, component)` row per clustered document, component
   * label = the cluster's smallest member id (the d08 convention, so the
   * canonical keeper falls out of the label). This is the state
   * [[mergeClusterBatch]] maintains incrementally — after bootstrap the
   * historical EDGE SET is never recomputed or rescanned.
   */
  def buildClusterIndex(pairs: DataFrame, a: Column, b: Column,
      clusterPath: String): Long =
    graft.streaming.GwSink.append(
      connectedComponents(pairs, a, b)
        .select(col("node").cast("long").as("node"),
          col("component").cast("long").as("component")),
      clusterPath)

  /**
   * Incremental duplicate-cluster maintenance (d24) — the last from-
   * scratch step of the 100 TB dedup lifecycle made incremental: d20/d22
   * admit batches against persisted digest/signature indexes, but cluster
   * assembly used to re-propagate min-labels over ALL pairs every run.
   * Here a batch's NEW edges merge into the persisted membership
   * ([[buildClusterIndex]]) union-find style:
   *
   *  1. resolve the batch's endpoints to their current components (one
   *     semi-join of the membership table against the batch's endpoint
   *     set — broadcast under `broadcastMaxKeys`, shuffle above it; an
   *     unseen endpoint is its own component);
   *  2. contract each new edge to a COMPONENT-level edge and run the
   *     min-label propagation on that REDUCED graph only — its size is
   *     bounded by the batch, never the corpus, so the propagation cost
   *     tracks what actually changed;
   *  3. upsert: membership rows whose component merged take the new
   *     (smaller) label, unseen endpoints insert — one transactional
   *     MERGE that rewrites only files holding touched components.
   *
   * The final membership provably equals the from-scratch recompute over
   * the union of all batches' edges: a component's label is its minimum
   * member id, and min is associative — merging per-batch minima yields
   * the global minimum (gate d24 pins hash-equality against the full
   * d08 recursion).
   *
   * Exactly-once: with `txnId`, a replayed batch is detected from the
   * log (metadata-only) BEFORE any scan and returns an empty upsert
   * frame without committing — the membership already reflects this
   * batch. Returns the upsert rows `(node, component, was_member)`
   * pinned to the pre-merge table version (re-evaluating the frame after
   * later merges cannot change it).
   */
  def mergeClusterBatch(pairs: DataFrame, a: Column, b: Column,
      clusterPath: String, txnId: Option[String] = None,
      broadcastMaxKeys: Long = 4000000L): DataFrame = {
    val spark = pairs.sparkSession
    val table = graft.GwTable.forPath(spark, clusterPath)
    val emptyUpserts = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("component",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("was_member",
          org.apache.spark.sql.types.BooleanType, nullable = false))))
    if (txnId.isDefined &&
        graft.log.GwTxn.replayedVersion(table.log, txnId).isDefined)
      return emptyUpserts
    // freeze the batch edges once: nodes, the contraction join and the
    // upsert assembly all reuse them, and the caller's pair GENERATOR
    // (a banded candidate join) must not re-run per consumer
    val edges = pairs.select(a.cast("long").as("ea"), b.cast("long").as("eb"))
      .filter(col("ea") =!= col("eb")).distinct()
      .localCheckpoint(true)
    val nodes = edges.select(col("ea").as("node"))
      .union(edges.select(col("eb").as("node"))).distinct()
      .localCheckpoint(true)
    val membership = table.versionAsOf(table.snapshot().version)
    val small = nodes.count() <= broadcastMaxKeys
    def bcast(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    // (node, component) for the batch endpoints the membership knows —
    // ONE streamed scan of the membership table, output bounded by the
    // batch's endpoint count
    val known = membership.join(bcast(nodes), Seq("node"), "left_semi")
      .localCheckpoint(true)
    // every endpoint's current component; unseen endpoints are their own
    val compOf = nodes.join(bcast(known), Seq("node"), "left")
      .select(col("node"), coalesce(col("component"), col("node")).as("comp"))
      .localCheckpoint(true)
    // contract edges to component level; drop intra-component edges (they
    // merge nothing) — what remains is the graph of components this batch
    // actually connects
    val reduced = edges
      .join(bcast(compOf.select(col("node").as("ea"), col("comp").as("ca"))), Seq("ea"))
      .join(bcast(compOf.select(col("node").as("eb"), col("comp").as("cb"))), Seq("eb"))
      .select(col("ca"), col("cb")).filter(col("ca") =!= col("cb")).distinct()
    // min-label propagation on the REDUCED graph (batch-bounded); only
    // labels that actually change matter downstream
    val relabel = connectedComponents(reduced, col("ca"), col("cb"))
      .filter(col("node") =!= col("component"))
      .select(col("node").as("oldc"), col("component").as("newc"))
      .localCheckpoint(true)
    // rows to upsert: members of merged components take the new label
    // (second streamed membership scan, component-keyed); unseen
    // endpoints insert with their final label
    val updates = membership.join(bcast(relabel),
        membership("component") === col("oldc"))
      .select(col("node"), col("newc").as("component"),
        lit(true).as("was_member"))
    val inserts = compOf
      .join(bcast(known.select("node")), Seq("node"), "left_anti")
      .join(bcast(relabel), compOf("comp") === col("oldc"), "left")
      .select(col("node"), coalesce(col("newc"), col("comp")).as("component"),
        lit(false).as("was_member"))
    val upserts = updates.unionByName(inserts).localCheckpoint(true)
    if (!upserts.isEmpty)
      table.merge(upserts.select("node", "component"),
        on = col("t.node") === col("s.node"),
        whenMatchedSet = Map("component" -> col("s.component")),
        insertNotMatched = true, txnId = txnId)
    upserts
  }

  /**
   * Quality-aware canonical keep (d21) — the apply step production
   * pipelines run over near-dup clusters: a min-id keep discards an
   * arbitrary member, but duplicate clusters usually mix a clean copy
   * with boilerplate-wrapped or truncated variants — keeping the
   * HIGHEST-QUALITY member preserves the best copy of every duplicated
   * document. Winner per cluster = greatest (quality...) with smallest-id
   * tiebreak; quality columns compare in the order given.
   *
   * Scale: ONE window pass partitioned by cluster — the only shuffle is
   * cluster-keyed, and clusters are tiny by construction (they came out
   * of a banded candidate generator). Returns (id, cluster, kept).
   */
  def qualityAwareKeep(members: DataFrame, id: Column, cluster: Column,
      quality: Seq[Column]): DataFrame = {
    require(quality.nonEmpty, "need at least one quality column")
    val base = members.select(
      (id.as("id") +: cluster.as("cluster") +:
        quality.zipWithIndex.map { case (q, i) => q.as(s"__q$i") }): _*)
    val w = Window.partitionBy("cluster")
      .orderBy(quality.indices.map(i => col(s"__q$i").desc) :+ col("id").asc: _*)
    base.withColumn("kept", row_number().over(w) === 1)
      .select("id", "cluster", "kept")
  }

  /**
   * Persisted fingerprint index bootstrap (d20) — land the historical
   * corpus's content digests as a transactional gwdelta table: one
   * `(fp, src_id)` row per DISTINCT digest (smallest source id wins, so
   * the canonical-keeper rule is stable under re-runs). This is the
   * state [[incrementalExactDedup]] dedups new batches against — after
   * bootstrap the historical corpus itself is NEVER rescanned.
   *
   * Scale: one map-side-combined groupBy over the corpus (digests are
   * ~50 B/doc — the index is orders of magnitude smaller than what it
   * indexes), one transactional commit. Returns the committed version.
   */
  def buildFingerprintIndex(df: DataFrame, id: Column, text: Column,
      indexPath: String): Long =
    graft.streaming.GwSink.append(
      df.select(md5(text).as("fp"), id.cast("long").as("src_id"))
        .groupBy("fp").agg(min("src_id").as("src_id")),
      indexPath)

  /**
   * Incremental exact dedup against a PERSISTED fingerprint index (d20)
   * — the production dedup shape at 100 TB: history lives as digests in
   * a gwdelta table ([[buildFingerprintIndex]]), each new batch is
   * checked against THAT (plus itself), and the survivors' digests
   * append in the same call as ONE commit — `txnId` makes a retried
   * batch exactly-once (the sink's txn replay commits nothing).
   *
   * Join shape, adaptive on the batch's distinct-digest count (one cheap
   * distributed count): below `broadcastMaxDigests` the INDEX never
   * shuffles — the batch's distinct digests broadcast onto one streamed
   * index scan (left-semi), and the hit set (bounded by the batch, not
   * the index) broadcasts back onto the batch. A larger batch would OOM
   * the driver through that broadcast, so it takes a digest-keyed
   * shuffle semi-join instead — both sides exchange once on `fp`, still
   * never all-pairs. The report is pinned to the index version BEFORE
   * this batch's append, so re-evaluating the returned frame after
   * later appends cannot change it.
   *
   * Exactly-once replay: document ids must be globally unique across
   * batches (they are the identity the report keys on, and the index
   * stores each digest's first-seen id). On a crash-retry with the same
   * `txnId` — detected METADATA-ONLY from the log's txn high-water mark,
   * zero cost on the common first-attempt path — the index already holds
   * THIS batch's own (fp, src_id) rows from the first attempt; index
   * rows whose src_id is one of the batch's own ids are then anti-joined
   * out of the probe, so the replayed report equals the first attempt's
   * instead of marking every originally-kept doc dup_of_index (the
   * append side was already a replay no-op). Calls WITHOUT a txnId have
   * no exactly-once contract: re-running one re-dedups against whatever
   * the index holds, own digests included.
   *
   * Returns (id, fp, dup_of_index, dup_in_batch, kept): kept = first
   * occurrence of a digest never seen before.
   */
  def incrementalExactDedup(batch: DataFrame, id: Column, text: Column,
      indexPath: String, txnId: Option[String] = None,
      broadcastMaxDigests: Long = 4000000L): DataFrame = {
    val spark = batch.sparkSession
    val table = graft.GwTable.forPath(spark, indexPath)
    val isReplay = txnId.isDefined &&
      graft.log.GwTxn.replayedVersion(table.log, txnId).isDefined
    val b = batch.select(id.cast("long").as("id"), md5(text).as("fp"))
    val probe = b.select("fp").distinct()
    val small = probe.count() <= broadcastMaxDigests
    val pinned = table.versionAsOf(table.snapshot().version)
    // digest semi-join FIRST (the index holds one row per fp, so the
    // output is bounded by the batch's digest count); the replay
    // self-exclusion anti-join runs on that bounded set, and ONLY on a
    // detected replay — the common path pays nothing for idempotence
    val hitsBase =
      if (small) pinned.join(broadcast(probe), Seq("fp"), "left_semi")
      else pinned.join(probe, Seq("fp"), "left_semi")
    val hits0 =
      if (!isReplay) hitsBase.select(col("fp"))
      else {
        val selfIds = b.select(col("id").as("src_id")).distinct()
        val smallIds = selfIds.count() <= broadcastMaxDigests
        hitsBase.join(if (smallIds) broadcast(selfIds) else selfIds,
          Seq("src_id"), "left_anti").select(col("fp"))
      }
    val hits = hits0.distinct().withColumn("__hit", lit(true))
    val w = Window.partitionBy("fp").orderBy("id")
    // NOT checkpointed, deliberately (r13, measured): the fuzzy/semantic
    // variants materialize their report once because re-running their
    // candidate joins is expensive, but the exact report's recompute is a
    // single broadcast semi-join + window over the batch — cheaper at this
    // shape than the checkpoint's extra planning (d20 1.48 -> 1.75s with
    // the checkpoint, flat without).
    val report = b
      .join(if (small) broadcast(hits) else hits, Seq("fp"), "left")
      .withColumn("dup_of_index", coalesce(col("__hit"), lit(false)))
      .withColumn("dup_in_batch", row_number().over(w) > 1)
      .withColumn("kept", !col("dup_of_index") && !col("dup_in_batch"))
      .select("id", "fp", "dup_of_index", "dup_in_batch", "kept")
    graft.streaming.GwSink.append(
      report.filter(col("kept")).select(col("fp"), col("id").as("src_id")),
      indexPath, txnId = txnId)
    report
  }

  /**
   * Model-based quality scoring (the fastText / CCNet-style linear
   * classifier step of a pretraining pipeline): token unigrams and bigrams
   * hash into `buckets` feature slots (the hashing trick — vocabulary-free,
   * fixed model width), and a document's quality logit is the sum of its
   * features' trained weights. `weights` is the model: one row per
   * (bucket, weight_milli) — at most `buckets` rows, so it BROADCASTS onto
   * the feature stream; the corpus pays one doc-keyed exchange for the
   * bigram window + per-doc sum and nothing else.
   *
   * Determinism contract: weights are INTEGER millis and the per-doc
   * fold is an integer sum — order-independent, so the gate can be
   * hash-exact across engines (a float-weight fold would be
   * reduction-order-dependent). `keep` thresholds the logit at 0, which
   * equals thresholding the sigmoid at 0.5 (monotone link) without ever
   * computing a float. Returns (id, n_features, logit_milli, keep).
   */
  def linearQualityScore(df: DataFrame, id: Column, text: Column,
      weights: DataFrame, buckets: Int): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val byDoc = Window.partitionBy("__id").orderBy("pos")
    val toks = df.select(id.as("__id"), posexplode(split(lower(text), " ")))
      .withColumn("w2", lead("col", 1).over(byDoc))
    val feats = toks.select(col("__id"), col("col").as("f"))
      .unionAll(toks.filter(col("w2").isNotNull)
        .select(col("__id"), concat_ws(" ", col("col"), col("w2")).as("f")))
    feats
      .select(col("__id"),
        pmod(graft.functions.KmvDistinctAgg.hash60(col("f")), lit(buckets.toLong))
          .as("bucket"))
      .join(broadcast(weights.select(col("bucket"), col("weight_milli"))),
        Seq("bucket"), "left")
      .groupBy("__id")
      .agg(count(lit(1)).as("n_features"),
        sum(coalesce(col("weight_milli"), lit(0L))).as("logit_milli"))
      .withColumn("keep", col("logit_milli") >= 0L)
  }

  /**
   * Rare-word scoring against a broadcast top-K vocabulary: pass 1 derives
   * the corpus's K most document-frequent words (the "common" set — one
   * aggregation over DISTINCT (doc, word) pairs, deterministic tiebreak);
   * pass 2 scores every document's tokens against the BROADCAST set, so
   * the corpus never shuffles for the scoring itself. High rare-token
   * share flags OCR noise, boilerplate code, and exotic domains — the
   * cheap vocabulary-based cousin of model-based quality scoring
   * ([[linearQualityScore]]). All-integer outputs (permille) keep the
   * gate hash-exact. Returns (id, n_tokens, n_rare, rare_permille).
   */
  def rareWordScore(df: DataFrame, id: Column, text: Column, topK: Int): DataFrame = {
    require(topK >= 1, "topK must be positive")
    val vocab = df
      .select(explode(array_distinct(split(lower(text), " "))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("w"))
      .limit(topK)
      .select("w")
    df.select(id.as("__id"), explode(split(lower(text), " ")).as("w"))
      .join(broadcast(vocab.withColumn("__common", lit(true))), Seq("w"), "left")
      .groupBy("__id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__common").isNull, 1L).otherwise(0L)).as("n_rare"))
      .withColumn("rare_permille", expr("n_rare * 1000 div n_tokens"))
  }

  /**
   * Unigram-LM surprisal scoring (the CCNet/Wenzek et al. 2020
   * perplexity-filter shape, made engine-exact): a unigram language model
   * with add-one smoothing is estimated over the corpus itself — P(w) =
   * (c(w)+1)/(N+V) — and every document scores its mean per-token
   * surprisal. Unusually high surprisal flags OCR noise, gibberish, and
   * wrong-language text; unusually LOW surprisal flags boilerplate — the
   * standard both-tails curation cut.
   *
   * Determinism: real cross-entropy needs `ln`, whose last-ulp behavior
   * differs across libm implementations — so the surprisal is quantized
   * to INTEGER BITS via binary bit lengths: sb(w) = floor(log2(N+V)) -
   * floor(log2(c(w)+1)), both computed as `length(bin(x)) - 1`, which
   * every engine string-formats identically. The score is within 2 bits
   * of -log2 P(w) per token — plenty for a filter threshold — and the
   * gate stays hash-exact. A real KenLM drops in by swapping the count
   * table for its own log-probs (quantized the same way).
   *
   * 100 TB posture: one word-keyed partial-agg shuffle builds the LM, the
   * scoring join shuffles (doc, word) rows against it (vocab-sized build
   * side — Spark broadcasts it when it fits), one doc-keyed aggregate
   * finishes; totals ride a broadcast one-row frame, never the driver.
   * Returns (id, n_tokens, surprisal_milli) — milli-bits per token.
   */
  /**
   * Trigram-LM surprisal with stupid backoff (t28) — the CCNet/KenLM
   * perplexity-filter shape one order up from [[lmSurprisalScore]]'s
   * unigram: a token in a FREQUENT context scores cheap, a token its
   * context has never licensed scores expensive, which separates fluent
   * text from shuffled-word salad that unigram statistics cannot see.
   *
   * Model: corpus trigram/bigram/unigram counts; trigrams below
   * `minTriCount` are PRUNED (the standard KenLM size lever — pruned
   * lookups fall through to backoff, so pruning trades model size for
   * score sharpness, never correctness). Score of `t` after `(w1, w2)`,
   * in INTEGER BITS (floor-log2 via binary bit length, same engine-exact
   * trick as [[lmSurprisalScore]] — no libm `ln` anywhere):
   *
   *   seen trigram:        bits(c(w1 w2)) - bits(c(w1 w2 t))
   *   backoff to bigram:   2 + bits(c(w2)) - bits(c(w2 t))
   *   backoff to unigram:  4 + bits(N + V) - bits(c(t) + 1)
   *
   * (+2 bits per backoff level = stupid backoff with alpha = 1/4, chosen
   * so the penalty stays exact integer.)
   *
   * 100 TB posture: n-gram streams are built ARRAY-SIDE inside each
   * document row (`transform` over the token array — no window, no
   * pre-shuffle) and scoring happens at TYPE level, not token level: the
   * (doc, trigram)-keyed partial-agg shuffle produces per-doc type counts
   * once; the count tables and the bits-per-type join then touch only
   * DISTINCT trigram types (orders of magnitude fewer rows than the token
   * stream); the per-doc fold reuses the (doc, type) aggregate. All joins
   * are equi-joins on n-gram keys — Catalyst broadcasts the count tables
   * when they fit and shuffles them when they don't, which is the honest
   * distributed-LM shape. Docs with fewer than 3 tokens have no trigrams
   * and drop out (callers wanting them keep a left join on the id).
   *
   * When `train` is given, the model counts come from THAT corpus's
   * `text` column and only `df` is scored — the production shape (train
   * on a trusted corpus, score the crawl), and the only shape where the
   * unigram floor genuinely fires: scored against its OWN counts, every
   * trigram occurrence embeds its backoff bigram, so backoff never
   * reaches below the bigram level.
   *
   * Returns (id, n_trigrams, surprisal3_milli) — milli-bits per trigram.
   */
  def trigramLmScore(df: DataFrame, id: Column, text: Column,
      minTriCount: Long = 2L, train: Option[DataFrame] = None): DataFrame = {
    val toks = df.select(id.as("__id"), split(text, " ").as("a"))
    val trainToks = train
      .map(t => t.select(split(text, " ").as("a")))
      .getOrElse(toks.select(col("a")))
    def grams(src: DataFrame, n: Int, names: Seq[String]): DataFrame = {
      val fields = names.zipWithIndex
        .map { case (f, j) => s"a[i + $j] AS $f" }.mkString(", ")
      val keep = src.columns.filter(_ != "a").map(col).toSeq
      src.select(keep :+ explode(expr(
        s"if(size(a) < $n, array(), " +
          s"transform(sequence(0, size(a) - $n), i -> struct($fields)))")).as("g"): _*)
        .select(keep ++ names.map(f => col(s"g.$f")): _*)
    }
    val tris = grams(toks, 3, Seq("w1", "w2", "t"))
    // ONE (doc, type)-keyed aggregate feeds the per-doc fold; the model
    // counts roll up from the TRAINING stream (the same frame when
    // self-trained), and neither side re-touches raw trigrams after this
    val triDoc = tris.groupBy("__id", "w1", "w2", "t").agg(count(lit(1)).as("k"))
    // self-trained: the model's trigram counts ROLL UP from the (doc,
    // type) aggregate — no second pass over the corpus; cross-trained:
    // one extraction over the (smaller, trusted) training corpus
    val tri = (train match {
      case None => triDoc.groupBy("w1", "w2", "t").agg(sum("k").as("c3"))
      case Some(_) => grams(trainToks, 3, Seq("w1", "w2", "t"))
        .groupBy("w1", "w2", "t").agg(count(lit(1)).cast("long").as("c3"))
    }).filter(col("c3") >= minTriCount)
    val bi = grams(trainToks, 2, Seq("b1", "b2"))
      .groupBy("b1", "b2").agg(count(lit(1)).as("c2"))
    val uni = trainToks.select(explode(col("a")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val tot = uni.agg(sum("c1").as("n"), count(lit(1)).as("v"))
    def bits(x: Column): Column = length(bin(x)) - 1
    val typeBits = triDoc.select("w1", "w2", "t").distinct()
      .join(tri, Seq("w1", "w2", "t"), "left")
      .join(bi.select(col("b1").as("w1"), col("b2").as("w2"),
        col("c2").as("c2_ctx")), Seq("w1", "w2"), "left")
      .join(bi.select(col("b1").as("w2"), col("b2").as("t"),
        col("c2").as("c2_bt")), Seq("w2", "t"), "left")
      .join(uni.select(col("w").as("w2"), col("c1").as("c1_w2")), Seq("w2"), "left")
      .join(uni.select(col("w").as("t"), col("c1").as("c1_t")), Seq("t"), "left")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("t"),
        when(col("c3").isNotNull, bits(col("c2_ctx")) - bits(col("c3")))
          .when(col("c2_bt").isNotNull,
            lit(2) + bits(col("c1_w2")) - bits(col("c2_bt")))
          .otherwise(
            lit(4) + bits(col("n") + col("v")) -
              bits(coalesce(col("c1_t"), lit(0L)) + 1))
          .as("tb"))
    triDoc
      .join(typeBits, Seq("w1", "w2", "t"))
      .groupBy("__id")
      .agg(sum("k").as("n_trigrams"),
        round(lit(1000.0) * sum(col("k") * col("tb")) / sum("k")).cast("long")
          .as("surprisal3_milli"))
  }

  def lmSurprisalScore(df: DataFrame, id: Column, text: Column): DataFrame = {
    val words = df.select(id.as("__id"), explode(split(text, " ")).as("w"))
    val lm = words.groupBy("w").agg(count(lit(1)).as("c"))
    val tot = lm.agg(sum("c").as("n"), count(lit(1)).as("v"))
    def bits(x: Column): Column = length(bin(x)) - 1
    words
      .join(lm, Seq("w"))
      .crossJoin(broadcast(tot))
      .select(col("__id"),
        (bits(col("n") + col("v")) - bits(col("c") + 1)).as("sb"))
      .groupBy("__id")
      .agg(count(lit(1)).as("n_tokens"),
        round(lit(1000.0) * sum(col("sb")) / count(lit(1))).cast("long")
          .as("surprisal_milli"))
  }

  /**
   * DSIR-style importance resampling (Xie et al. 2023, "Data Selection
   * for Language Models via Importance Resampling"): pick raw-corpus
   * documents whose hashed n-gram profile resembles a TARGET corpus, by
   * importance weights between two smoothed bag-of-hashed-ngrams models.
   * The pretraining-data-selection shape: target = a small trusted set
   * (curated wiki/books), raw = the crawl; selection keeps raw docs in
   * proportion to target-likeness instead of a hard classifier cut.
   *
   *  1. Features: unigrams + adjacent bigrams of the lowercased text,
   *     hashed into `buckets` ([[linearQualityScore]]'s featurizer).
   *  2. Per-bucket importance weight = log p_target(b) - log p_raw(b)
   *     under add-one smoothing, QUANTIZED TO INTEGER BITS exactly like
   *     [[lmSurprisalScore]] (floor-log2 via binary bit length) — `ln`'s
   *     last-ulp varies across libms, bit lengths never do, so the gate
   *     stays hash-exact while staying within 2 bits of the real ratio.
   *  3. Per-doc score = sum of its features' weights (integer fold,
   *     order-independent — faithfully log of the doc's importance ratio
   *     under the bag model).
   *  4. Resample: keep each doc with probability 2^(score - max_score) —
   *     importance sampling proportional to its (quantized) ratio. The
   *     coin is the doc id's own 60-bit hash against a SHIFTED power of
   *     two, so acceptance is pure integer compare: deterministic,
   *     replayable, and exactly the stated probability (the top-scored
   *     doc is always kept; a doc 60+ bits below never is).
   *
   * 100 TB posture: the weight table is at most `buckets` rows and
   * BROADCASTS; the raw corpus pays its featurization window plus ONE
   * doc-keyed partial-agg shuffle for the score fold; the target corpus
   * (benchmark-scale by contract) contributes only bucket counts. Two
   * passes over raw (count, then score) — inherent to estimating p_raw
   * from the corpus itself; with a pre-fit p_raw the first pass drops.
   * Returns every raw doc as (__id, score_bits, kept).
   */
  def dsirResample(raw: DataFrame, target: DataFrame, id: Column,
      text: Column, buckets: Int = 512): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    // featurization is a pure per-row generator — the token array zips
    // with its own tail for bigrams, so no window, NO SHUFFLE (the
    // posexplode+lead formulation would shuffle the corpus doc-keyed
    // twice, once per model pass)
    def feats(df: DataFrame): DataFrame = {
      val w = split(lower(text), " ")
      val bigrams = transform(
        sequence(lit(0), greatest(size(w) - 2, lit(-1))).cast("array<int>"),
        i => concat_ws(" ", element_at(w, i + 1), element_at(w, i + 2)))
      df.select(id.as("__id"),
        explode(concat(w, when(size(w) >= 2, bigrams)
          .otherwise(array().cast("array<string>")))).as("f"))
        .select(col("__id"),
          pmod(graft.functions.KmvDistinctAgg.hash60(col("f")),
            lit(buckets.toLong)).as("bucket"))
    }
    def bits(x: Column): Column = length(bin(x)) - 1
    // featurization is CPU-heavy per row (a 60-bit hash per token and
    // bigram): spread a narrow scan first so it parallelizes — still zero
    // shuffles at scale (spreadForCompute is a no-op on wide inputs)
    val rawB = feats(spreadForCompute(raw, id))
    // the per-bucket count tables are <= `buckets` rows — cache them so
    // the totals, the weight build, and the weight broadcast reuse one
    // computation instead of re-running the corpus featurization through
    // their lineages. persist (lazy), NOT localCheckpoint: eager
    // materialization serializes the rc/tc jobs ahead of everything and
    // measured 1.3x SLOWER end to end at sf0.1
    val rc = rawB.groupBy("bucket").agg(count(lit(1)).as("rc")).persist()
    val tc = feats(spreadForCompute(target, id))
      .groupBy("bucket").agg(count(lit(1)).as("tc")).persist()
    val totals = rc.agg(sum("rc").as("rn")).crossJoin(tc.agg(sum("tc").as("tn")))
    // weights only for buckets the RAW corpus can produce (scoring joins
    // from raw features, so target-only buckets are unreachable)
    val w = rc.join(tc, Seq("bucket"), "left")
      .crossJoin(broadcast(totals))
      .select(col("bucket"),
        ((bits(coalesce(col("tc"), lit(0L)) + 1L) - bits(col("tn") + lit(buckets.toLong)))
          - (bits(col("rc") + 1L) - bits(col("rn") + lit(buckets.toLong))))
          .cast("long").as("w"))
    val scored = rawB.join(broadcast(w), Seq("bucket"))
      .groupBy("__id").agg(sum("w").as("score_bits"))
    val pivot = scored.agg(max("score_bits").as("__t"))
    scored.crossJoin(broadcast(pivot))
      .withColumn("__e", greatest(col("score_bits") - col("__t"), lit(-60L)))
      .withColumn("kept",
        graft.functions.KmvDistinctAgg.hash60(col("__id")) <
          expr("shiftleft(CAST(1 AS BIGINT), CAST(60 + __e AS INT))"))
      .select(col("__id"), col("score_bits"), col("kept"))
  }

  /**
   * Ensure at least the cluster's default parallelism ahead of CPU-heavy
   * per-row work (optimization guide §2.6, idle capacity): a small parquet
   * input (often a single row group) scans as ONE task, serializing an
   * expensive verify/decode/featurization on one core while the rest of
   * the cluster idles. Hash-repartitions by `key` (deterministic, no
   * round-robin pre-sort) ONLY when the input is narrower than the
   * default parallelism — at production scale inputs already exceed it
   * and this is an exact no-op, so no extra exchange is ever added to a
   * 100 TB plan.
   */
  def spreadForCompute(df: DataFrame, key: Column): DataFrame = {
    // streaming Datasets cannot answer rdd.getNumPartitions (AnalysisException
    // at physical planning) — and a micro-batch plan is re-planned per batch
    // anyway, so the narrow-scan problem this solves does not arise there
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target, key)
  }

  /** One row per (id, consecutive word n-gram) — duplicates preserved. */
  private def wordGrams(df: DataFrame, id: Column, text: Column, n: Int): DataFrame = {
    val w = split(text, " ")
    df.select(id.as("__id"), w.as("__w"))
      .select(col("__id"), explode(
        when(size(col("__w")) >= n,
          transform(sequence(lit(0), size(col("__w")) - n),
            i => array_join(slice(col("__w"), i + 1, lit(n)), " ")))
          .otherwise(array().cast("array<string>"))).as("gram"))
  }

  /**
   * One row per document with at least one word trigram: `__id`, any
   * blocking columns and `set`, the document's distinct shingle hashes
   * ([[graft.functions.ShingleHashes]]) — one narrow projection per
   * document (see object scaladoc).
   */
  private def shingleSets(df: DataFrame, id: Column, text: Column,
      blocks: Seq[Column] = Nil): DataFrame =
    // spread a narrow scan first so the hashing parallelizes (no-op at scale)
    spreadForCompute(df, id)
      .select((id.as("__id") +: blocks) :+ graft.functions.ShingleHashes(text).as("set"): _*)
      .filter(size(col("set")) > 0)

  /** One row per (document, shingle) of `shingleSets`' output, with the
    * document's set size `sz`: the inverted index the prefix filters rank. */
  private def shingleIndex(sets: DataFrame, blockNames: Seq[String]): DataFrame =
    sets.select((blockNames.map(col) :+ col("__id") :+
      size(col("set")).cast("long").as("sz")) :+ explode(col("set")).as("s"): _*)

  /** Each document's `keep` rarest shingles of a `shingleIndex`: a
    * rarest-first total order by document frequency within the block, ties
    * broken by shingle hash. Output: the join keys and `__id`. */
  private def rarestPrefix(index: DataFrame, joinKeys: Seq[String], keep: Column): DataFrame = {
    val freq = index.groupBy(joinKeys.map(col): _*).agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy("__id").orderBy(col("df"), col("s"))
    index.join(freq, joinKeys)
      .withColumn("pos_in_doc", row_number().over(byRarity))
      .filter(col("pos_in_doc") <= keep)
      .select((joinKeys.map(col) :+ col("__id")): _*)
  }

  /** Candidate pairs verified on their documents' shingle sets: `doc_a`,
    * `doc_b`, the intersection size `inter` and both set sizes — two id
    * joins and one `array_intersect` per pair. A pair that shares no
    * shingle has no intersection to report and is dropped. */
  private def intersectSets(candidates: DataFrame, sets: DataFrame): DataFrame =
    candidates
      .join(sets.select(col("__id").as("doc_a"), col("set").as("set_a")), Seq("doc_a"))
      .join(sets.select(col("__id").as("doc_b"), col("set").as("set_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("set_a"), col("set_b"))).cast("long").as("inter"),
        size(col("set_a")).cast("long").as("sz_a"),
        size(col("set_b")).cast("long").as("sz_b"))
      .filter(col("inter") > 0)

  /** Jaccard in permille over candidate pairs, kept at `threshold` or above. */
  private def jaccardPairs(candidates: DataFrame, sets: DataFrame, threshold: Double): DataFrame =
    intersectSets(candidates, sets)
      .select(col("doc_a"), col("doc_b"),
        round(lit(1000.0) * col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
          .cast("long").as("jacc_permille"))
      .filter(col("jacc_permille") >= (threshold * 1000).toLong)

  /** MinHash+LSH near-dup pairs. Materializes eagerly: the result is the
    * duplicate-pair set (metadata-scale next to the corpus), so it is
    * computed once, locally checkpointed, and the set cache released —
    * repeated invocations in a long-lived session leak nothing. */
  def minHashDedupPairs(df: DataFrame, id: Column, text: Column,
      numPerm: Int, bands: Int, threshold: Double): DataFrame = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    val rowsPerBand = numPerm / bands
    // one row per document: its shingle set and all minhash lanes. Both
    // sides of the candidate self-join and the verify read it, and the
    // branches differ, so exchange reuse cannot dedupe them — persist.
    val sets = shingleSets(df, id, text)
      .select(col("__id"), col("set"),
        graft.functions.MinHashLanes(col("set"), numPerm).as("mh"))
      .persist()
    // released in the finally on ANY exit: an exception between persist()
    // and the eager localCheckpoint must not leak the cached blocks for
    // the session's lifetime
    try {
      val bandCols = (0 until bands).map { b =>
        xxhash64((lit(b) +: (0 until rowsPerBand).map(i => col("mh")(b * rowsPerBand + i))): _*)
      }
      val banded = sets.select(col("__id"), posexplode(array(bandCols: _*)))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "bucket")

      val candidates = banded.select(col("band"), col("bucket"), col("__id").as("doc_a"))
        .join(banded.select(col("band"), col("bucket"), col("__id").as("doc_b")),
          Seq("band", "bucket"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
      jaccardPairs(candidates, sets, threshold).localCheckpoint(true)
    } finally { sets.unpersist(); () }
  }

  /**
   * Connected components over duplicate pairs — the clustering step that
   * turns pairwise near-dup hits into dedup groups (component label = min
   * member id, so the canonical doc falls out of the label).
   *
   * Iterative min-label propagation: each round every node takes the
   * minimum label among itself and its neighbors; converges in O(graph
   * diameter) rounds, which for near-dup graphs (dense cliquish clusters)
   * is tiny. Each round is one join + one aggregate; lineage is truncated
   * per round (`localCheckpoint`) so plans stay flat, and convergence is a
   * changed-label count — no driver-side graph state, only the loop
   * counter. For adversarial long-chain graphs at extreme scale the
   * alternating large-star/small-star variant drops rounds to
   * O(log diameter); the shape here is the same join+agg building block.
   *
   * `checkpointDir` selects the round-truncation storage: `None` (default)
   * uses `localCheckpoint` — blocks live on executors, the right local/
   * notebook choice but UNRECOVERABLE if an executor dies mid-iteration
   * (truncated lineage cannot recompute). On a real cluster pass a
   * reliable location (HDFS/object store): rounds then write through
   * `df.checkpoint()` and survive executor loss.
   */
  def connectedComponents(pairs: DataFrame, a: Column, b: Column,
      maxIterations: Int = 25, checkpointDir: Option[String] = None): DataFrame = {
    // single-pass symmetrization: one generator fan-out per pair row
    // instead of a two-branch union — a union re-evaluates the (often
    // expensive) pair-producing subtree once per branch, and exchange
    // reuse cannot dedupe the branches because their column orders differ
    val edges = pairs.select(explode(array(
        struct(a.as("src"), b.as("dst")),
        struct(b.as("src"), a.as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .distinct()
      .persist()
    checkpointDir.foreach(pairs.sparkSession.sparkContext.setCheckpointDir)
    // per-round checkpoint of the (node, label) table; reliable when a
    // checkpointDir is given, executor-local otherwise
    def truncate(df: DataFrame, eager: Boolean): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(eager)
      else df.localCheckpoint(eager)
    try {
      // per-round checkpoint blocks (a (node, label) pair table) are
      // released by the ContextCleaner once the previous round's dataset
      // becomes unreachable — no public API unpersists a checkpointed
      // dataset eagerly, and the table is small next to the corpus
      var labels = truncate(edges.select(col("src").as("node")).distinct()
        .withColumn("label", col("node")), eager = true)
      if (labels.isEmpty)
        return labels.select(col("node"), col("label").as("component"))
      // one min-label propagation pass (pure plan, no action) over a
      // (node, __ol, label) frame — the round-entry label `__ol` rides
      // THROUGH the hops, so convergence needs no join back to the
      // previous round (that join cost two exchanges per round); the
      // neighbor scan projects (node, label) only, so the carried column
      // never shuffles with the edges
      def propagate(ls: DataFrame): DataFrame = {
        val neighborMin = edges
          .join(ls.select(col("node").as("__n"), col("label").as("__l")),
            edges("dst") === col("__n"))
          .groupBy(col("src"))
          .agg(min(col("__l")).as("nlabel"))
        ls.join(neighborMin, ls("node") === neighborMin("src"), "left")
          .select(ls("node"), ls("__ol"),
            least(ls("label"), coalesce(col("nlabel"), ls("label"))).as("label"))
      }
      // NOTE (r12, measured): a hash-to-min pointer-jump "shortcut" per
      // round (label := label's label, O(log D) rounds) was tried and
      // REVERTED — the near-dup graphs here are shallow (2 rounds for the
      // text pairs, ~6 for the image graph), and the extra join per round
      // cost more in AQE stage jobs than the saved rounds returned
      // (d10 5.4s -> 8.0s). Worth revisiting only for genuinely deep
      // graphs.
      var converged = false
      var iter = 0
      val sc = pairs.sparkSession.sparkContext
      while (!converged && iter < maxIterations) {
        // TWO hops per materialization: checkpoint + convergence count are
        // the per-round fixed cost (two Spark jobs), so unrolling halves
        // the job count; an extra hop on converged labels is a no-op
        val updated = truncate(
          propagate(propagate(labels.withColumn("__ol", col("label")))),
          // lazy: the convergence count right below is the first action, so
          // it materializes the checkpoint — an eager one would pay a whole
          // extra Spark job per round for the same blocks
          eager = false)
        // any-change detector: type-agnostic, null-safe, short-circuits at
        // the first changed label
        sc.setJobDescription(s"cc round $iter") // guide §1.5: label the loop
        val changed =
          try updated
            .filter(!(col("label") <=> col("__ol")))
            .limit(1)
            .count()
          finally sc.setJobDescription(null)
        labels = updated.select("node", "label")
        converged = changed == 0
        iter += 1
      }
      if (!converged) throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIterations rounds " +
          "(graph diameter exceeds the budget) — raise maxIterations or use " +
          "an alternating large-star/small-star formulation for long chains")
      labels.select(col("node"), col("label").as("component"))
    } finally { edges.unpersist(); () }
  }

  def simHashDedupPairs(df: DataFrame, id: Column, text: Column, maxHamming: Int): DataFrame = {
    // one native per-document SimHash (graft.functions.SimHash): its term
    // hash is a 60-bit md5 prefix, NOT xxhash64 — md5 is the one keyed hash
    // DuckDB and Spark compute identically, so the d03 oracle re-derives
    // every bit vote from the same hex. Top 4 simhash bits are
    // structurally 0 (votes there are always negative) — harmless to
    // similarity, and identical on both engines.
    val codes = spreadForCompute(df, id)
      .select(id.as("__id"), graft.functions.SimHash(text).as("simhash"))
      .filter(col("simhash").isNotNull)
    hammingNearDupPairs(codes, col("__id"), col("simhash"), maxHamming)
  }

  /**
   * Near-dup pairs among 64-bit codes by Hamming distance — the shared
   * candidate machinery behind SimHash text dedup (d03) and perceptual-
   * hash image dedup (m07): pigeonhole banding over 16-bit chunks (a pair
   * within Hamming distance 3 must agree on at least one of the 4 chunks),
   * an equi self-join on (chunk, value) — never all-pairs — and an exact
   * `bit_count(xor)` verify. At `maxHamming <= 3` the pigeonhole makes
   * recall COMPLETE; above it (d03 runs at 6) banding is the standard
   * best-effort candidate generator — precision stays exact either way
   * (the verify), and the gates' oracles replay the same bands, so the
   * reported set is deterministic regardless.
   */
  def hammingNearDupPairs(codes: DataFrame, id: Column, bits: Column,
      maxHamming: Int, bucketCap: Int = 65536): DataFrame = {
    require(maxHamming >= 0, s"negative maxHamming: $maxHamming")
    val base = codes.select(id.as("__hid"), bits.as("__hbits"))
    val chunks0 = base.select(col("__hid"), col("__hbits"), posexplode(
      array((0 until 4).map(c =>
        shiftright(col("__hbits"), c * 16).bitwiseAND(0xFFFFL)): _*)))
      .withColumnRenamed("pos", "chunk")
      .withColumnRenamed("col", "chunk_val")
    // Skew guard, same shape as the LSH paths' capBucketMembers: a
    // (chunk, chunk_val) bucket of m members generates m²/2 candidates,
    // and duplicate-heavy corpora produce EXACTLY that degeneracy
    // (boilerplate pages collapsing to one SimHash, solid-color images
    // sharing aHash chunks) — at 100 TB one hot bucket is a straggler
    // that never finishes. Keep at most `bucketCap` members per bucket,
    // ranked by a seedless hash of the id (deterministic across runs and
    // partitionings); candidates are then bounded by cap²/2 per bucket no
    // matter how adversarial the corpus. The ≤3-bit pigeonhole recall
    // guarantee becomes CAP-CONDITIONAL: complete for every pair whose
    // agreeing chunk's bucket holds ≤ cap members — mass dense enough to
    // overflow a bucket is better handled by exact dedup upstream.
    // cap <= 0 disables. DETECTABILITY: the cap drops members with no
    // runtime signal on this lazily-planned path — callers who need to
    // know whether the <=3-bit guarantee was weakened on THEIR corpus run
    // [[hammingBucketAudit]] (same banding, returns every over-cap bucket
    // with its member/dropped counts; empty result = unconditional recall).
    val chunks =
      if (bucketCap <= 0) chunks0
      else {
        // per-chunk salt, same rationale as capBucketMembers: an
        // unsalted rank drops the same codes from every chunk's bucket,
        // losing a code's entire candidacy instead of one chunk's
        val w = Window.partitionBy("chunk", "chunk_val")
          .orderBy(xxhash64(col("__hid"), col("chunk")), col("__hid"))
        chunks0.withColumn("__hrank", row_number().over(w))
          .filter(col("__hrank") <= bucketCap).drop("__hrank")
      }
    // the candidate self-join references `chunks` twice with differing
    // column names, so exchange reuse cannot dedupe the branches — without
    // the persist the whole upstream (image/audio DECODE for the
    // perceptual-hash callers, the SimHash projection for d03) runs
    // twice. Eager result + unpersist = same cache hygiene as the LSH
    // paths (the pair set is metadata-scale next to the corpus), released
    // on ANY exit: a failing verify must not leak the cached chunks.
    val cached = chunks.persist()
    try cached.select(col("chunk"), col("chunk_val"), col("__hid").as("doc_a"), col("__hbits").as("sim_a"))
      .join(cached.select(col("chunk"), col("chunk_val"), col("__hid").as("doc_b"), col("__hbits").as("sim_b")),
        Seq("chunk", "chunk_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .localCheckpoint(true)
    finally { cached.unpersist(); () }
  }

  /**
   * Audit for [[hammingNearDupPairs]]'s bucket cap: the (chunk, chunk_val)
   * pigeonhole buckets whose membership exceeds `bucketCap`, with the
   * member and dropped counts — an EMPTY result certifies the <=3-bit
   * pigeonhole recall guarantee held unconditionally on this corpus; a
   * non-empty one names exactly which code regions were degraded to
   * cap-conditional recall (and how much mass was dropped), so the caller
   * can route that mass through exact dedup instead. One banding pass +
   * one partial-aggregated count — no joins, no candidate generation.
   */
  def hammingBucketAudit(codes: DataFrame, id: Column, bits: Column,
      bucketCap: Int = 65536): DataFrame = {
    require(bucketCap > 0, s"bucketCap must be positive: $bucketCap")
    codes.select(id.as("__hid"), bits.as("__hbits"))
      .select(posexplode(array((0 until 4).map(c =>
        shiftright(col("__hbits"), c * 16).bitwiseAND(0xFFFFL)): _*)))
      .withColumnRenamed("pos", "chunk")
      .withColumnRenamed("col", "chunk_val")
      .groupBy("chunk", "chunk_val")
      .agg(count(lit(1)).as("members"))
      .filter(col("members") > bucketCap)
      .withColumn("dropped", col("members") - bucketCap)
  }

  /**
   * Exact n-gram Jaccard pairs within blocks, with prefix-filtered
   * candidate generation: shingles are ranked rarest-first by corpus
   * document frequency, and each document exposes only its first
   * `|A| - ceil(t*|A|) + 1` shingles to the candidate self-join — the
   * classic prefix-filter theorem guarantees any pair with J >= t shares
   * at least one prefix shingle, so the exact verify (full intersection
   * count over candidate pairs) emits exactly the all-pairs answer. This
   * removes the inverted-index skew hazard at 100 TB: high-frequency
   * shingles land at the END of the frequency order and never generate
   * candidates. Eager for the same cache-hygiene reason as
   * [[minHashDedupPairs]].
   */
  def ngramJaccardPairs(df: DataFrame, id: Column, text: Column,
      blocks: Seq[Column], threshold: Double): DataFrame = {
    val sets = shingleSets(df, id, text, blocks).persist()
    // released in the finally on ANY exit: a success-path unpersist leaks
    // the cached blocks when the verify join throws
    var prefix: DataFrame = null
    try {
      val blockNames = sets.columns.filter(c => c != "__id" && c != "set").toSeq
      val joinKeys = blockNames :+ "s"
      // epsilon guards double rounding (0.2*10 = 2.0000000000000004 would
      // ceil to 3 and shave the prefix below the safe length)
      prefix = rarestPrefix(shingleIndex(sets, blockNames), joinKeys,
          col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) + 1)
        // the self-join below references this subtree TWICE, and its two
        // branches differ (doc_a vs doc_b) so exchange reuse cannot dedupe
        // them — persist so the freq join + rarity window run once
        .persist()

      val candidates = prefix.select((joinKeys.map(col) :+ col("__id").as("doc_a")): _*)
        .join(prefix.select((joinKeys.map(col) :+ col("__id").as("doc_b")): _*), joinKeys)
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
      jaccardPairs(candidates, sets, threshold).localCheckpoint(true)
    } finally {
      sets.unpersist()
      if (prefix != null) prefix.unpersist()
      ()
    }
  }

  /**
   * Directed containment near-dup pairs (d19) — C(A→B) =
   * |shingles(A) ∩ shingles(B)| / |shingles(A)|, the one-sided Jaccard.
   * A 200-word document quoted whole inside a 20k-word one has symmetric
   * Jaccard ~0.01 (invisible to d04 at any usable threshold) but
   * containment ~1.0 — this is the measure that catches embedded quotes,
   * concatenated corpora, and boilerplate-wrapped reposts.
   *
   * Candidate generation is the prefix filter applied to the CONTAINED
   * side only: if 1000·|A∩B| >= t·|A|, at most |A| - ceil(t·|A|/1000)
   * of A's shingles can miss B, so A's (|A| - ceil(t·|A|/1000) + 1)
   * rarest shingles must hit B — A's prefix joins the FULL shingle index
   * (recall 1.0; deliberately NO length blocking, containment is
   * length-asymmetric by design). Rarest-first prefixes keep the join
   * keys rare, so the inverted-index fan-out stays bounded; the exact
   * intersection count then verifies every candidate, with the threshold
   * as an integer cross-multiply (engine-exact, no rounding at the
   * boundary). Output: (doc_a contained-in doc_b, cont_permille), both
   * directions reported independently.
   */
  def containmentPairs(df: DataFrame, id: Column, text: Column,
      blocks: Seq[Column], thresholdPermille: Int): DataFrame = {
    require(thresholdPermille >= 1 && thresholdPermille <= 1000,
      s"thresholdPermille must be in [1, 1000]: $thresholdPermille")
    val sets = shingleSets(df, id, text, blocks).persist()
    try {
      val blockNames = sets.columns.filter(c => c != "__id" && c != "set").toSeq
      val joinKeys = blockNames :+ "s"
      val index = shingleIndex(sets, blockNames)
      // integer ceil: ceil(t*sz/1000) = (t*sz + 999) div 1000 — exact,
      // no double-rounding epsilon needed
      val prefix = rarestPrefix(index, joinKeys,
        expr(s"sz - ((${thresholdPermille}L * sz + 999L) div 1000L) + 1"))
      val candidates = prefix
        .select((joinKeys.map(col) :+ col("__id").as("doc_a")): _*)
        .join(index.select((joinKeys.map(col) :+ col("__id").as("doc_b")): _*),
          joinKeys)
        .filter(col("doc_a") =!= col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
      intersectSets(candidates, sets)
        .filter(lit(1000L) * col("inter") >=
          lit(thresholdPermille.toLong) * col("sz_a"))
        .select(col("doc_a"), col("doc_b"),
          round(lit(1000.0) * col("inter") / col("sz_a"))
            .cast("long").as("cont_permille"))
        .localCheckpoint(true)
    } finally { sets.unpersist(); () }
  }

  // ------------------------------------------------------------- vectors

  /** Sequential-fold dot product in doubles over array<float> columns —
    * bit-reproducible everywhere. Native codegen'd expression
    * (graft.functions.VecDot); numerically identical to
    * `aggregate(zip_with(x, y, (p,q) -> double(p)*double(q)), 0d, +)`. */
  def dotProd(x: Column, y: Column): Column = graft.functions.VecDot(x, y)

  /** Above this many centroids, [[centroidScores]] switches representation. */
  private[graft] val LiteralCentroidMax = 256

  /** Per-row centroid score array — `dot(e, cents(c))` for every c — in
    * one of two representations with BITWISE-identical results: up to
    * [[LiteralCentroidMax]] centroids the matrix inlines as codegen'd
    * [[dotProd]] literals (fastest, the common case); beyond it the
    * matrix rides ONE nested-array literal and a higher-order transform
    * evaluates the dots per row — same left-to-right IEEE accumulation as
    * VecDot, no 64KB-codegen blowup, and still ZERO shuffle (the matrix
    * ships inside the serialized plan to every executor, exactly like the
    * literals). A many-thousand-list deployment pays an interpreted
    * constant factor per row, never an exchange — this closes the
    * documented centroid-literal honest limit. */
  private[graft] def centroidScores(e: Column, cents: Array[Array[Double]],
      forceLarge: Boolean = false): Column =
    if (cents.length <= LiteralCentroidMax && !forceLarge)
      array(cents.indices.map(c => dotProd(e, lit(cents(c)))): _*)
    else {
      val m = typedLit(cents.map(_.toIndexedSeq).toIndexedSeq)
      transform(m, c => aggregate(
        zip_with(e.cast("array<double>"), c, (x, y) => x * y),
        lit(0.0), (acc, v) => acc + v))
    }

  /** Vector L2 norm (sequential fold). */
  def l2norm(x: Column): Column = sqrt(dotProd(x, x))

  /** DEFAULT near-dup entry point: routes to the sub-quadratic
    * LSH-candidate + exact-verify path ([[cosineNearDupPairsAnn]]) — the
    * form that survives 100 TB. The exhaustive all-pairs variant is the
    * explicit opt-in [[cosineNearDupPairsExact]]. */
  def cosineNearDupPairs(df: DataFrame, id: Column, vec: Column,
      threshold: Double, dim: Int, nPlanes: Int = 24, bands: Int = 8,
      bucketCap: Int = 1024): DataFrame =
    cosineNearDupPairsAnn(df, id, vec, threshold, dim, nPlanes, bands, bucketCap)

  /** Exhaustive all-pairs cosine near-dup within a blocking column: exact
    * recall by construction (and therefore DuckDB-oracle-checkable — the
    * d05 gate), but O(n²/blocks) comparisons: small corpora or tight
    * blocking only. At 100 TB use the default [[cosineNearDupPairs]]. */
  def cosineNearDupPairsExact(df: DataFrame, id: Column, vec: Column, block: Column,
      threshold: Double): DataFrame = {
    val e = df.select(block.as("__block"), id.as("__id"), vec.as("__vec"))
      .withColumn("__nrm", l2norm(col("__vec")))
    val a = e.select(col("__block"), col("__id").as("vec_a"),
      col("__vec").as("emb_a"), col("__nrm").as("nrm_a"))
    val b = e.select(col("__block"), col("__id").as("vec_b"),
      col("__vec").as("emb_b"), col("__nrm").as("nrm_b"))
    a.join(b, Seq("__block"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", dotProd(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("__block").as("block"),
        round(col("cos") * 1000000).cast("long").as("cos_micro"))
  }

  /**
   * SemDeDup-style cluster-scoped semantic dedup (Abbas et al. 2023):
   * assign every embedding to its nearest of `nCentroids` fixed centroids
   * (the codegen'd argmax dot [[ivfTopK]] uses), then compare pairs ONLY
   * within a cluster and drop every member that has a smaller-id
   * near-duplicate (cosine >= `threshold`) in its cluster. This is the
   * web-scale shape: the quadratic term shrinks from |corpus|² to
   * sum(cluster²) ~ |corpus|²/k, the cluster key is one shuffle, and the
   * paper's observation — true semantic duplicates land in the same
   * cluster — is the recall contract (a cross-cluster near-dup pair is
   * the accepted miss, exactly the IVF/LSH trade). Default centroids are
   * seeded and data-independent, so the whole pipeline (assignment ties
   * = first index, drop rule, survivor set) replays in SQL; pass
   * [[trainIvfCentroids]] output for trained clusters — nothing else
   * changes. Returns the SURVIVORS: (vec_id, cluster).
   */
  def semDedupClusters(corpus: DataFrame, id: Column, vec: Column,
      dim: Int, nCentroids: Int = 16, threshold: Double = 0.9,
      centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val cents = centroids.getOrElse(hyperplanes(nCentroids, dim))
    require(cents.length == nCentroids, "centroid count must match nCentroids")
    def scores(e: Column): Column = centroidScores(e, cents)
    def assigned(e: Column): Column =
      (array_position(scores(e), array_max(scores(e))) - 1).cast("int")
    val c = corpus.select(id.as("vec_id"), vec.as("__emb"))
      .withColumn("cl", assigned(col("__emb")))
      .withColumn("__nrm", l2norm(col("__emb")))
    val a = c.select(col("cl"), col("vec_id").as("id_a"),
      col("__emb").as("emb_a"), col("__nrm").as("nrm_a"))
    val b = c.select(col("cl"), col("vec_id").as("vec_id"),
      col("__emb").as("emb_b"), col("__nrm").as("nrm_b"))
    val dropped = a.join(b, Seq("cl"))
      .filter(col("id_a") < col("vec_id"))
      .filter(dotProd(col("emb_a"), col("emb_b")) /
        (col("nrm_a") * col("nrm_b")) >= threshold)
      .select("vec_id").distinct()
    c.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cl").cast("long").as("cluster"))
  }

  /** Deterministic sub-sample of oversized LSH buckets: keep at most `cap`
    * members per (band, bucket), ranked by a seedless hash of the id (so
    * the kept set is stable across runs and partitionings). A degenerate
    * bucket — near-duplicate-heavy mass, or all-zero vectors agreeing on
    * every hyperplane — otherwise produces m²/2 candidate pairs: the
    * classic LSH skew blowup, and at 100 TB a single hot bucket is a
    * straggler that never finishes. With the cap, candidates are bounded by
    * cap²/2 per bucket no matter how adversarial the corpus. The recall
    * trade: a true pair inside a bucket of m > cap members survives that
    * band with p ≈ (cap/m)²; near-duplicate mass dense enough to overflow a
    * bucket is better handled by exact dedup upstream. cap <= 0 disables.
    * The window shuffles only (band, bucket, id) rows — ids-only, like the
    * candidate join itself. */
  private def capBucketMembers(banded: DataFrame, idCol: String, cap: Int): DataFrame =
    if (cap <= 0) banded
    else {
      // the rank hash is salted PER BAND: an unsalted order ranks the
      // same ids last in every band, so on a degenerate corpus (cap+1
      // identical docs) one doc falls past the cap in ALL bands and
      // vanishes from the candidate generator entirely — salting bounds
      // the loss to rows (per-band advertisements), never whole docs
      val w = Window.partitionBy("band", "bucket")
        .orderBy(xxhash64(col(idCol), col("band")), col(idCol))
      banded.withColumn("__bkrank", row_number().over(w))
        .filter(col("__bkrank") <= cap).drop("__bkrank")
    }

  /**
   * Label-filtered ANN top-k (s13) — the attribute-constrained /
   * multi-tenant search shape: each query retrieves only corpus vectors
   * carrying ITS OWN label. The filter composes INTO candidate
   * generation — the label joins the (band, bucket) key, so a selective
   * filter SHRINKS the search (per-label buckets), instead of the
   * post-filter anti-pattern (global top-k then filter, which starves k
   * for rare labels and wastes the whole unfiltered search at 100 TB).
   * The bucket cap bounds members per (band, bucket, label), and the
   * shortlist is exact-cosine verified on the bounded heap as usual.
   */
  def filteredAnnTopK(corpus: DataFrame, queries: DataFrame, id: Column,
      vec: Column, label: Column, k: Int, dim: Int, nPlanes: Int,
      bands: Int, bucketCap: Int = 1024): DataFrame = {
    require(nPlanes % bands == 0, "nPlanes must be divisible by bands")
    val bitsPerBand = nPlanes / bands
    val planes = hyperplanes(nPlanes, dim)
    def bandKeys(e: Column): Seq[Column] = {
      val bits = (0 until nPlanes).map { p =>
        when(dotProd(e, lit(planes(p))) > 0, 1L).otherwise(0L)
      }
      (0 until bands).map { b =>
        (0 until bitsPerBand).map(i => bits(b * bitsPerBand + i) * (1L << i)).reduce(_ + _)
      }
    }
    def banded(df: DataFrame, prefix: String): DataFrame =
      df.select(id.as(s"${prefix}_id"), vec.as(s"${prefix}_emb"), label.as("__lbl"))
        .select(col(s"${prefix}_id"), col("__lbl"),
          posexplode(array(bandKeys(col(s"${prefix}_emb")).map(_.cast("long")): _*)))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "bucket")
    val cappedCorpus = {
      val w = Window.partitionBy("band", "bucket", "__lbl")
        .orderBy(xxhash64(col("n_id")), col("n_id"))
      banded(corpus, "n").withColumn("__bkrank", row_number().over(w))
        .filter(col("__bkrank") <= bucketCap).drop("__bkrank")
    }
    val candidates = banded(queries, "q")
      .join(cappedCorpus, Seq("band", "bucket", "__lbl"))
      .filter(col("q_id") =!= col("n_id"))
      .select("q_id", "n_id").distinct()
    val q = queries.select(id.as("q_id"), vec.as("q_emb"))
      .withColumn("q_nrm", l2norm(col("q_emb")))
    val c = corpus.select(id.as("n_id"), vec.as("n_emb"))
      .withColumn("n_nrm", l2norm(col("n_emb")))
    topKByCosine(
      candidates.join(broadcast(q), Seq("q_id")).join(c, Seq("n_id")), k)
  }

  /**
   * Scale path for cosine near-dup: random-hyperplane LSH banding generates
   * candidate pairs sub-quadratically (only ids travel through the
   * band-bucket shuffle), then each candidate is exact-verified with the
   * codegen'd VecDot — same verify arithmetic as [[cosineNearDupPairs]], so
   * emitted pairs are bit-identical to the all-pairs form; what is
   * probabilistic is only candidate recall (two vectors at angle θ share a
   * band with p = (1-θ/π)^bits per band). Unlike the all-pairs form this
   * needs no blocking column: at 100 TB the bucket join replaces the
   * O(n²/blocks) explosion, and recall is dialed with nPlanes/bands.
   * `bucketCap` bounds the members of any one (band, bucket) — see
   * [[capBucketMembers]] for the skew-blowup rationale.
   */
  def cosineNearDupPairsAnn(df: DataFrame, id: Column, vec: Column,
      threshold: Double, dim: Int, nPlanes: Int = 24, bands: Int = 8,
      bucketCap: Int = 1024): DataFrame = {
    require(nPlanes % bands == 0, "nPlanes must be divisible by bands")
    val bitsPerBand = nPlanes / bands
    val planes = hyperplanes(nPlanes, dim)
    def bandKeys(e: Column): Seq[Column] = {
      val bits = (0 until nPlanes).map { p =>
        when(dotProd(e, lit(planes(p))) > 0, 1L).otherwise(0L)
      }
      (0 until bands).map { b =>
        (0 until bitsPerBand).map(i => bits(b * bitsPerBand + i) * (1L << i)).reduce(_ + _)
      }
    }
    val banded = capBucketMembers(
      df.select(id.as("__id"), vec.as("__vec"))
        .select(col("__id"), posexplode(array(bandKeys(col("__vec")).map(_.cast("long")): _*)))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "bucket"),
      "__id", bucketCap)
    val candidates = banded.select(col("band"), col("bucket"), col("__id").as("vec_a"))
      .join(banded.select(col("band"), col("bucket"), col("__id").as("vec_b")),
        Seq("band", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b")
      .distinct()
    val e = df.select(id.as("__id"), vec.as("__vec"))
      .withColumn("__nrm", l2norm(col("__vec")))
    candidates
      .join(e.select(col("__id").as("vec_a"), col("__vec").as("emb_a"), col("__nrm").as("nrm_a")),
        Seq("vec_a"))
      .join(e.select(col("__id").as("vec_b"), col("__vec").as("emb_b"), col("__nrm").as("nrm_b")),
        Seq("vec_b"))
      .withColumn("cos", dotProd(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"),
        round(col("cos") * 1000000).cast("long").as("cos_micro"))
  }

  /**
   * Int8 max-abs quantization of an embedding column — the storage-scale
   * step for 100 TB embedding corpora (float32 -> int8 is 4x fewer bytes
   * and int8 dot products SIMD-vectorize): per vector, scale = max |x_i|,
   * q_i = round(127 * x_i / scale). Deterministic double arithmetic, so
   * the quantized codes are bit-reproducible (and DuckDB-oracle-exact in
   * the s05 gate). Returns (id, scale_micro, q, qsum, qnorm2): the integer
   * aggregates are full-vector checksums; dequantization error per element
   * is <= scale/254 + eps (asserted in OperatorSpec). A zero vector
   * quantizes to all-zero codes with scale 0.
   */
  def quantizeEmbeddings(df: DataFrame, id: Column, vec: Column): DataFrame =
    df.select(id.as("vec_id"), vec.as("__vec"))
      .withColumn("__mx",
        array_max(transform(col("__vec"), x => abs(x))).cast("double"))
      .select(
        col("vec_id"),
        round(col("__mx") * 1000000d).cast("long").as("scale_micro"),
        transform(col("__vec"), x =>
          when(col("__mx") === 0d, lit(0))
            .otherwise(round(x.cast("double") * 127.0 / col("__mx")).cast("int")))
          .as("q"))
      .withColumn("qsum", aggregate(col("q"), lit(0L), (acc, v) => acc + v))
      .withColumn("qnorm2", aggregate(col("q"), lit(0L), (acc, v) => acc + v * v))

  /**
   * Quantized-prefilter top-k: corpus and queries compress to int8 codes
   * (the s05 quantization), the per-query shortlist is chosen by PURE
   * INTEGER code dot-products (4x less IO per candidate, SIMD-friendly,
   * and — unlike LSH/IVF candidates — a total deterministic order), and
   * only `candidates` rows per query are re-scored with the exact float
   * arithmetic. The composition is oracle-exact end to end while modeling
   * the compressed-scan + rerank shape a 100 TB serving path uses: the
   * full corpus is touched only through its codes; float vectors load for
   * the shortlist alone.
   */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, id: Column, vec: Column,
      k: Int, candidates: Int): DataFrame = {
    require(k >= 1 && candidates >= k, s"need candidates >= k >= 1, got k=$k candidates=$candidates")
    val nCodes = quantizeEmbeddings(corpus, id, vec)
      .select(col("vec_id").as("n_id"), col("q").as("n_q"))
    val qCodes = quantizeEmbeddings(queries, id, vec)
      .select(col("vec_id").as("q_id"), col("q").as("q_q"))
    val intDot = aggregate(
      zip_with(col("q_q"), col("n_q"), (x, y) => (x * y).cast("long")),
      lit(0L), (acc, v) => acc + v)
    // integer-dot prefilter via the bounded heap: k*partitions rows per
    // query reach the exchange (int8 dots are exact in double up to 2^53 —
    // dim 127^2 ~ 16k per element, far inside)
    val shortlist = broadcast(qCodes).join(nCodes, col("q_id") =!= col("n_id"))
      .select(col("q_id"), intDot.cast("double").as("idot"), col("n_id"))
      .groupBy("q_id")
      .agg(graft.functions.TopKAgg.topk(
        col("idot"), col("n_id"), candidates).as("top"))
      .select(col("q_id"), explode(col("top.n_id")).as("n_id"))
    val c = corpus.select(id.as("n_id"), vec.as("n_emb"))
      .withColumn("n_nrm", l2norm(col("n_emb")))
    val q = queries.select(id.as("q_id"), vec.as("q_emb"))
      .withColumn("q_nrm", l2norm(col("q_emb")))
    topKByCosine(
      shortlist.join(c, Seq("n_id")).join(broadcast(q), Seq("q_id")), k)
  }

  /** Shared exact-rerank tail: score with the codegen'd VecDot, keep each
    * query's k best via the bounded-heap aggregate ([[graft.functions
    * .TopKAgg]]). The heap replaces `row_number() OVER (PARTITION BY q_id)`,
    * which had to SHUFFLE the whole |queries| x |corpus| scored product to
    * rank it — the aggregate's map-side partials cap the exchange at
    * k * partitions rows per query, the shape that survives 100 TB. Output
    * and ordering ((cos DESC, n_id ASC), ranks 1..k) are identical, and
    * `n_id` KEEPS the caller's id type (string doc ids included — the
    * aggregate is id-generic, nothing is cast). */
  private def topKByCosine(scored: DataFrame, k: Int): DataFrame =
    scored
      .select(col("q_id"),
        (dotProd(col("q_emb"), col("n_emb")) / (col("q_nrm") * col("n_nrm"))).as("cos"),
        col("n_id"))
      .groupBy("q_id")
      .agg(graft.functions.TopKAgg.topk(
        col("cos"), col("n_id"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), col("col.n_id").as("n_id"),
        (col("pos") + 1).cast("long").as("rnk"),
        round(col("col.score") * 1000000).cast("long").as("cos_micro"))

  /**
   * 1-bit (sign) quantized top-k: the extreme end of the quantization
   * ladder (s04-s06 are the int8 rungs). Every embedding compresses to ONE
   * BIGINT of sign bits (32x over float32 dim-64 — at 100 TB of
   * embeddings the codes fit where the vectors never will), the candidate
   * stage scores `bit_count(q XOR n)` — pure integer codegen on both
   * engines — through the bounded-heap aggregate (k*partitions rows cross
   * the exchange, never the product), and only the `candidates`-deep
   * shortlist pays the exact float rerank. Charikar's SimHash bound makes
   * the Hamming distance an angular-distance proxy; the final ranking is
   * EXACT cosine over the shortlist, so the answer is deterministic and
   * the whole pipeline replays in SQL (bit_count/XOR are native in both
   * engines).
   */
  def signBitTopK(corpus: DataFrame, queries: DataFrame, id: Column, vec: Column,
      k: Int, candidates: Int): DataFrame = {
    require(k >= 1 && candidates >= k, s"need candidates >= k >= 1, got k=$k candidates=$candidates")
    import graft.functions.VecSignBits
    val nCodes = corpus.select(id.as("n_id"), VecSignBits(vec).as("n_bits"))
    val qCodes = queries.select(id.as("q_id"), VecSignBits(vec).as("q_bits"))
    // negated Hamming so the shared max-heap keeps the SMALLEST distances;
    // tiebreak inside the heap is the id, same contract as the cosine tail
    val negHam = -bit_count(col("q_bits").bitwiseXOR(col("n_bits"))).cast("double")
    val shortlist = broadcast(qCodes).join(nCodes, col("q_id") =!= col("n_id"))
      .select(col("q_id"), negHam.as("nh"), col("n_id"))
      .groupBy("q_id")
      .agg(graft.functions.TopKAgg.topk(col("nh"), col("n_id"), candidates).as("top"))
      .select(col("q_id"), explode(col("top.n_id")).as("n_id"))
    val c = corpus.select(id.as("n_id"), vec.as("n_emb"))
      .withColumn("n_nrm", l2norm(col("n_emb")))
    val q = queries.select(id.as("q_id"), vec.as("q_emb"))
      .withColumn("q_nrm", l2norm(col("q_emb")))
    topKByCosine(
      shortlist.join(c, Seq("n_id")).join(broadcast(q), Seq("q_id")), k)
  }

  def cosineTopK(corpus: DataFrame, queries: DataFrame, id: Column, vec: Column,
      k: Int): DataFrame = {
    val q = queries.select(id.as("q_id"), vec.as("q_emb"))
      .withColumn("q_nrm", l2norm(col("q_emb")))
    val c = corpus.select(id.as("n_id"), vec.as("n_emb"))
      .withColumn("n_nrm", l2norm(col("n_emb")))
    topKByCosine(broadcast(q).join(c, col("q_id") =!= col("n_id")), k)
  }

  /**
   * MMR (maximal marginal relevance, Carbonell & Goldstein 1998)
   * diversified top-k: a relevance shortlist per query (bounded-heap exact
   * cosine, `candidates` members), then the greedy re-rank
   * `argmax 0.5*rel(c) - 0.5*max_{s in picked} sim(c, s)` — the standard
   * redundancy-penalized retrieval used to keep near-duplicate results out
   * of a RAG context window or a curated training batch. Every arithmetic
   * step is an IEEE-double both engines produce bit-identically (the s01
   * VecDot contract), ties break on vec_id, and max-over-empty is 0.0 by
   * convention — so the greedy trajectory, not just the set, is
   * deterministic and the DuckDB oracle replays it with a recursive CTE.
   *
   * Returns (q_id, rnk, n_id, mmr_micro), `k` rows per query in pick
   * order.
   *
   * 100 TB posture: the corpus is touched once by the shortlist stage
   * (broadcast queries, bounded-heap top-`candidates` — k*partitions rows
   * cross the exchange); the quadratic part (pair sims + greedy) runs on
   * `candidates^2` rows PER QUERY, a driver-independent constant, and the
   * greedy itself is one typed map over a single grouped row per query —
   * sequential by nature (each pick conditions the next), tiny by
   * construction.
   */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, id: Column, vec: Column,
      k: Int, candidates: Int): DataFrame = {
    require(k >= 1 && candidates >= k, s"need candidates >= k >= 1, got k=$k candidates=$candidates")
    val c = corpus.select(id.as("n_id"), vec.as("n_emb"))
      .withColumn("n_nrm", l2norm(col("n_emb")))
    val q = queries.select(id.as("q_id"), vec.as("q_emb"))
      .withColumn("q_nrm", l2norm(col("q_emb")))
    val short = broadcast(q).join(c, col("q_id") =!= col("n_id"))
      .select(col("q_id"),
        (dotProd(col("q_emb"), col("n_emb")) / (col("q_nrm") * col("n_nrm"))).as("rel"),
        col("n_id"))
      .groupBy("q_id")
      .agg(graft.functions.TopKAgg.topk(col("rel"), col("n_id"), candidates).as("top"))
      .select(col("q_id"), explode(col("top")).as("s"))
      .select(col("q_id"), col("s.n_id").as("n_id"), col("s.score").as("rel"))
    val m = short.join(c, "n_id")
    val pairs = m.select(col("q_id"), col("n_id").as("a_id"), col("n_emb").as("a_emb"),
        col("n_nrm").as("a_nrm"))
      .join(m.select(col("q_id").as("__q2"), col("n_id").as("b_id"),
        col("n_emb").as("b_emb"), col("n_nrm").as("b_nrm")),
        col("q_id") === col("__q2") && col("a_id") =!= col("b_id"))
      .select(col("q_id"), col("a_id"), col("b_id"),
        (dotProd(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm"))).as("sim"))
    val packed = short.groupBy("q_id")
      .agg(collect_list(struct(col("n_id").as("_1"), col("rel").as("_2"))).as("cands"))
      .join(pairs.groupBy("q_id")
        .agg(collect_list(struct(col("a_id").as("_1"), col("b_id").as("_2"),
          col("sim").as("_3"))).as("sims")),
        Seq("q_id"))
    val spark = packed.sparkSession
    import spark.implicits._
    packed
      .select(col("q_id").cast("long"), col("cands"), col("sims"))
      .as[(Long, Seq[(Long, Double)], Seq[(Long, Long, Double)])]
      .flatMap { case (qid, cands, sims) =>
        val sim = sims.map(s => (s._1, s._2) -> s._3).toMap
        // ascending-id scan: the first maximum wins, i.e. ties break on
        // the smaller vec_id — mirrored by the oracle's ORDER BY
        val remaining = cands.sortBy(_._1).toBuffer
        val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
        while (picked.size < k && remaining.nonEmpty) {
          var bi = 0
          var bs = Double.NegativeInfinity
          for (i <- remaining.indices) {
            val (nid, rel) = remaining(i)
            val maxSim = if (picked.isEmpty) 0.0
              else picked.iterator.map(p => sim.getOrElse((nid, p._1), 0.0)).max
            val sc = 0.5 * rel - 0.5 * maxSim
            if (sc > bs) { bs = sc; bi = i }
          }
          picked += ((remaining(bi)._1, bs))
          remaining.remove(bi)
        }
        picked.iterator.zipWithIndex.map { case ((nid, sc), i) =>
          (qid, (i + 1).toLong, nid, sc)
        }
      }
      .toDF("q_id", "rnk", "n_id", "score")
      .withColumn("mmr_micro", round(col("score") * 1000000).cast("long"))
      .drop("score")
  }

  /** Deterministic random hyperplanes (fixed seed, data-independent). */
  def hyperplanes(nPlanes: Int, dim: Int): Array[Array[Double]] = {
    val rng = new scala.util.Random(42)
    Array.fill(nPlanes)(Array.fill(dim)(rng.nextGaussian()))
  }

  /**
   * Spherical k-means (Lloyd) training for IVF centroids, fully
   * distributed: each iteration is one narrow assignment pass (the same
   * codegen'd argmax-dot ivfTopK uses) plus a (cluster, dim)-keyed partial
   * aggregate — k*dim rows shuffle, and centroids (k x dim doubles) are
   * the ONLY driver-side state, so iterations cost the same at 100 TB as
   * the scan does. Seeded from the deterministic hyperplanes; centroids
   * are re-normalized each round (dot-based assignment = cosine on unit
   * vectors) and empty clusters keep their previous direction.
   */
  def trainIvfCentroids(corpus: DataFrame, vec: Column, dim: Int,
      nCentroids: Int = 16, iterations: Int = 3): Array[Array[Double]] = {
    var cents = normalizeRows(hyperplanes(nCentroids, dim))
    for (_ <- 0 until iterations) {
      def scores(e: Column): Column = centroidScores(e, cents)
      def assigned(e: Column): Column =
        (array_position(scores(e), array_max(scores(e))) - 1).cast("int")
      val sums = corpus
        .select(assigned(vec).as("cl"), posexplode(vec.cast("array<double>")))
        .groupBy("cl", "pos")
        .agg(sum("col").as("s"), count(lit(1)).as("n"))
        .collect()
      val next = Array.tabulate(nCentroids, dim)((c, d) => cents(c)(d))
      sums.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDouble(2) / r.getLong(3)
      }
      cents = normalizeRows(next)
    }
    cents
  }

  private def normalizeRows(m: Array[Array[Double]]): Array[Array[Double]] =
    m.map { row =>
      val n = math.sqrt(row.map(x => x * x).sum)
      if (n == 0.0) row else row.map(_ / n)
    }

  /** Mean best-centroid similarity over the corpus — the spherical k-means
    * objective; Lloyd iterations must not decrease it on training data. */
  def ivfObjective(corpus: DataFrame, vec: Column, centroids: Array[Array[Double]]): Double = {
    val unit = normalizeRows(centroids)
    val scores = array(unit.indices.map(c =>
      dotProd(vec, lit(unit(c))) / l2norm(vec)): _*)
    corpus.select(avg(array_max(scores)).as("o")).head().getDouble(0)
  }

  /**
   * IVF (inverted-file) approximate top-k: corpus vectors are assigned to
   * their nearest of `nCentroids` fixed centroids (the inverted lists);
   * each query probes its `nProbe` closest lists and ranks exactly within
   * them. Cost per query ~ nProbe/nCentroids of the corpus — the classic
   * trade against recall. Default centroids are seeded random directions
   * (data-independent); pass [[trainIvfCentroids]] output to probe trained
   * lists instead — nothing else changes.
   */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, id: Column, vec: Column,
      k: Int, dim: Int, nCentroids: Int = 16, nProbe: Int = 4,
      centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val cents = centroids.getOrElse(hyperplanes(nCentroids, dim))
    require(cents.length == nCentroids, "centroid count must match nCentroids")
    // per-vector centroid scores: dot with each centroid (representation
    // by count -- see centroidScores)
    def scores(e: Column): Column = centroidScores(e, cents)
    // corpus side: argmax centroid = its single inverted list
    def assigned(e: Column): Column =
      (array_position(scores(e), array_max(scores(e))) - 1).cast("int")
    // query side: top-nProbe centroids by score
    def probes(e: Column): Column = {
      val ranked = sort_array(zip_with(scores(e),
        sequence(lit(0), lit(nCentroids - 1)),
        (s, i) => struct(s.as("s"), i.as("i"))), asc = false)
      slice(transform(ranked, r => r.getField("i")), 1, nProbe)
    }

    val c = corpus.select(id.as("n_id"), vec.as("n_emb"))
      .withColumn("list", assigned(col("n_emb")))
      .withColumn("n_nrm", l2norm(col("n_emb")))
    val q = queries.select(id.as("q_id"), vec.as("q_emb"))
      .withColumn("list", explode(probes(col("q_emb"))))
      .withColumn("q_nrm", l2norm(col("q_emb")))

    topKByCosine(
      broadcast(q).join(c, Seq("list")).filter(col("q_id") =!= col("n_id")), k)
  }

  /**
   * IVF RANGE search (radius query): every (query, corpus) pair inside the
   * probed lists whose cosine similarity is at least `minSimMicro`
   * micro-units. Top-k answers "the k closest"; range answers "ALL
   * neighbors within tau" — the retrieval shape dedup and contamination
   * sweeps actually want (d05/d06 bound candidates by RANK, which clips
   * dense neighborhoods; a radius query is threshold-complete within the
   * probed lists). Same probe economics as [[ivfTopK]] — each query plans
   * ~nProbe/nCentroids of the corpus — and unlike top-k there is no
   * per-query heap: the threshold filters candidates streaming out of the
   * list join, so the operator is one broadcast join + one codegen filter
   * with NO shuffle at all. The threshold compares the ROUNDED integer
   * micro-similarity, so the result-set boundary is exact and
   * engine-independent (no float `>=` straddling an ulp).
   */
  def ivfRangeSearch(corpus: DataFrame, queries: DataFrame, id: Column,
      vec: Column, minSimMicro: Long, dim: Int, nCentroids: Int = 16,
      nProbe: Int = 4, centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val cents = centroids.getOrElse(hyperplanes(nCentroids, dim))
    require(cents.length == nCentroids, "centroid count must match nCentroids")
    def scores(e: Column): Column = centroidScores(e, cents)
    def assigned(e: Column): Column =
      (array_position(scores(e), array_max(scores(e))) - 1).cast("int")
    def probes(e: Column): Column = {
      val ranked = sort_array(zip_with(scores(e),
        sequence(lit(0), lit(nCentroids - 1)),
        (s, i) => struct(s.as("s"), i.as("i"))), asc = false)
      slice(transform(ranked, r => r.getField("i")), 1, nProbe)
    }
    val c = corpus.select(id.as("n_id"), vec.as("n_emb"))
      .withColumn("list", assigned(col("n_emb")))
      .withColumn("n_nrm", l2norm(col("n_emb")))
    val q = queries.select(id.as("q_id"), vec.as("q_emb"))
      .withColumn("list", explode(probes(col("q_emb"))))
      .withColumn("q_nrm", l2norm(col("q_emb")))
    broadcast(q).join(c, Seq("list"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        round(dotProd(col("q_emb"), col("n_emb")) / (col("q_nrm") * col("n_nrm"))
          * 1000000).cast("long").as("cos_micro"))
      .filter(col("cos_micro") >= minSimMicro)
  }

  /** Table property keys of a persisted IVF index (self-describing). */
  val IvfCentroidsProp = "graft.ivf.centroids"
  val IvfDimProp = "graft.ivf.dim"

  /**
   * PERSISTED IVF index (s14/s15) — the "train once, probe many" serving
   * shape [[ivfTopK]] cannot give (it re-assigns the whole corpus per
   * call): the inverted lists materialize as a gwdelta TABLE PARTITIONED
   * BY `list`, so a search's `list IN (probed...)` prunes to exactly the
   * probed lists' files from the LOG (per-member partition pruning — the
   * on-disk inverted-file access path; at 100 TB a query plans
   * ~nProbe/nCentroids of the corpus and never lists the rest). The
   * centroids (k x dim doubles — metadata scale) ride the table
   * configuration as JSON, so the index is self-describing: any session
   * can probe or extend it with nothing but the path.
   *
   * [[appendToIvfIndex]] assigns NEW vectors against the FROZEN stored
   * centroids and commits through the transactional append path (OCC,
   * row tracking, blooms, auto-compaction all compose), which is the
   * standard IVF maintenance trade: streaming ingest keeps the index
   * fresh without retraining, while list balance slowly drifts with the
   * data distribution — retrain = rebuild at a new path and swap.
   * Returns the committed version.
   */
  def buildIvfIndex(corpus: DataFrame, id: Column, vec: Column, dim: Int,
      indexPath: String, nCentroids: Int = 16,
      centroids: Option[Array[Array[Double]]] = None,
      payload: Seq[Column] = Nil): Long = {
    val cents = centroids.getOrElse(hyperplanes(nCentroids, dim))
    require(cents.length == nCentroids, "centroid count must match nCentroids")
    graft.streaming.GwSink.append(
      assignToLists(corpus, id, vec, cents, payload), indexPath,
      partitionBy = Seq("list"),
      bootstrapProps = Map(
        IvfCentroidsProp -> centroidsJson(cents),
        IvfDimProp -> dim.toString))
  }

  /** Assign new vectors against the index's stored centroids and append —
    * see [[buildIvfIndex]]. Partitioning is inherited from the table;
    * `txnId` gives streaming ingest exactly-once batch replay (the sink's
    * `txn` dedup — a replayed (stream, batch) id commits nothing). */
  def appendToIvfIndex(newVectors: DataFrame, id: Column, vec: Column,
      indexPath: String, txnId: Option[String] = None,
      payload: Seq[Column] = Nil): Long = {
    val cents = storedCentroids(newVectors.sparkSession, indexPath)
    graft.streaming.GwSink.append(
      assignToLists(newVectors, id, vec, cents, payload), indexPath,
      txnId = txnId, partitionBy = Seq("list"))
  }

  /**
   * REINDEX (s17) — the maintenance step [[appendToIvfIndex]] deliberately
   * does not do: incremental appends assign against FROZEN centroids, so
   * on a drifting corpus the partitioning silently degrades — new mass
   * piles into lists whose centroids never represented it, and
   * fixed-nProbe searches start missing true neighbors that straddle
   * stale list boundaries (the one degradation no result-equality gate
   * can see; pinned instead by the recall-under-drift property test).
   * Rebuild RETRAINS centroids over the index's CURRENT contents
   * (spherical k-means, [[trainIvfCentroids]]), reassigns every vector,
   * and lands contents + centroids as ONE transactional overwrite
   * (`setProps` restates `graft.ivf.centroids` atomically with the file
   * swap), so a reader either probes the old index whole or the new index
   * whole — never new lists under old centroids.
   *
   * Scale: training is iterations x (one narrow assignment scan + a
   * (cluster, dim)-keyed partial aggregate — k*dim rows shuffle);
   * reassignment is one codegen argmax pass; the overwrite stages files
   * before touching the log, and old files remain time-travel-readable
   * until vacuum. Pass `centroids` to skip training and land a chosen
   * family (the deterministic replay path the s17 gate uses).
   * Returns the committed version.
   */
  def rebuildIvfIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, nCentroids: Int = 16, iterations: Int = 3,
      centroids: Option[Array[Array[Double]]] = None): Long = {
    val dim = storedDim(spark, indexPath)
    val current = spark.read.format("gwdelta").load(indexPath)
      .select(col("n_id"), col("n_emb"))
    val cents = centroids.getOrElse(
      trainIvfCentroids(current, col("n_emb"), dim, nCentroids, iterations))
    require(cents.length == nCentroids, "centroid count must match nCentroids")
    require(cents.forall(_.length == dim),
      s"rebuild centroids must keep the index dimension $dim")
    graft.streaming.GwSink.overwrite(
      assignToLists(current, col("n_id"), col("n_emb"), cents), indexPath,
      partitionBy = Seq("list"),
      setProps = Map(IvfCentroidsProp -> centroidsJson(cents)))
  }

  /** Top-k cosine search against a persisted index: probe each query's
    * `nProbe` closest stored centroids, scan ONLY those lists (the
    * driver-side literal IN over the probed-list union is what partition-
    * prunes the gwdelta scan; queries are broadcast-small by contract),
    * exact-cosine rank within them — identical semantics and tiebreaks to
    * [[ivfTopK]] over the same contents. */
  def ivfIndexTopK(queries: DataFrame, id: Column, vec: Column,
      indexPath: String, k: Int, nProbe: Int,
      filter: Option[Column] = None): DataFrame = {
    val spark = queries.sparkSession
    val cents = storedCentroids(spark, indexPath)
    val n = cents.length
    def scores(e: Column): Column = centroidScores(e, cents)
    def probes(e: Column): Column = {
      val ranked = sort_array(zip_with(scores(e),
        sequence(lit(0), lit(n - 1)),
        (s, i) => struct(s.as("s"), i.as("i"))), asc = false)
      slice(transform(ranked, r => r.getField("i")), 1, nProbe)
    }
    val q = queries.select(id.as("q_id"), vec.as("q_emb"))
      .withColumn("list", explode(probes(col("q_emb"))))
      .withColumn("q_nrm", l2norm(col("q_emb")))
    val probed = q.select("list").distinct().collect().map(_.getInt(0))
    // `filter` is a predicate over the index's PAYLOAD columns
    // (buildIvfIndex(payload = ...)): it composes with the list pruning
    // INSIDE the scan — a payload equality/range predicate pushes down to
    // the probed lists' files (footer stats, blooms if declared), so a
    // selective filter SHRINKS the candidate read instead of post-
    // filtering scored results (s13's semantics through the on-disk path)
    val idx0 = spark.read.format("gwdelta").load(indexPath)
      .filter(col("list").isin(probed.map(Int.box).toSeq: _*))
    val idx = filter.fold(idx0)(idx0.filter)
      .withColumn("n_nrm", l2norm(col("n_emb")))
    topKByCosine(broadcast(q).join(idx.select(col("list"), col("n_id"),
        col("n_emb"), col("n_nrm")), Seq("list"))
      .filter(col("q_id") =!= col("n_id")), k)
  }

  /**
   * Radius search ON the persisted index (s21): [[ivfRangeSearch]]'s
   * threshold-complete semantics through [[buildIvfIndex]]'s on-disk
   * access path — queries assign against the STORED centroids, the
   * `list IN (probed...)` filter partition-prunes to exactly the probed
   * lists' files (the unprobed lists are never even LISTED), and the
   * integer micro threshold filters candidates streaming out of the list
   * join with no heap and no shuffle. The serving-side radius query: the
   * index is built once, and each radius sweep plans ~nProbe/nCentroids
   * of the corpus.
   */
  def ivfIndexRangeSearch(queries: DataFrame, id: Column, vec: Column,
      indexPath: String, minSimMicro: Long, nProbe: Int): DataFrame = {
    val spark = queries.sparkSession
    val cents = storedCentroids(spark, indexPath)
    val n = cents.length
    def scores(e: Column): Column = centroidScores(e, cents)
    def probes(e: Column): Column = {
      val ranked = sort_array(zip_with(scores(e),
        sequence(lit(0), lit(n - 1)),
        (s, i) => struct(s.as("s"), i.as("i"))), asc = false)
      slice(transform(ranked, r => r.getField("i")), 1, nProbe)
    }
    val q = queries.select(id.as("q_id"), vec.as("q_emb"))
      .withColumn("list", explode(probes(col("q_emb"))))
      .withColumn("q_nrm", l2norm(col("q_emb")))
    val probed = q.select("list").distinct().collect().map(_.getInt(0))
    val idx = spark.read.format("gwdelta").load(indexPath)
      .filter(col("list").isin(probed.map(Int.box).toSeq: _*))
      .withColumn("n_nrm", l2norm(col("n_emb")))
    broadcast(q).join(idx, Seq("list"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        round(dotProd(col("q_emb"), col("n_emb")) / (col("q_nrm") * col("n_nrm"))
          * 1000000).cast("long").as("cos_micro"))
      .filter(col("cos_micro") >= minSimMicro)
  }

  /**
   * Recall@k evaluation (s19) — the quality harness every ANN deployment
   * runs before trading exactness for speed: per query, the fraction of
   * the EXACT top-k ground truth that the approximate result recovered.
   * `truth` and `approx` are any two (q_id, n_id) neighbor lists (the
   * outputs of [[cosineTopK]], [[annTopK]], [[ivfTopK]], [[pqTopK]],
   * [[ivfPqIndexTopK]], ... all qualify). Returns one row per query:
   * `truth_k`, `hits`, and `recall_milli` = floor(1000 * hits / truth_k)
   * — integer so the metric replays exactly in SQL.
   *
   * 100 TB posture: both inputs are k-rows-per-query result sets —
   * thousands of times smaller than the corpus that produced them — so
   * the (q_id, n_id) equi-join and the per-query fold are metadata-scale
   * next to the searches themselves; no corpus data is touched.
   */
  def recallAtK(approx: DataFrame, truth: DataFrame): DataFrame = {
    val a = approx.select(col("q_id"), col("n_id"))
      .withColumn("__hit", lit(1L))
    truth.select(col("q_id"), col("n_id"))
      .join(a, Seq("q_id", "n_id"), "left")
      .groupBy("q_id")
      .agg(
        count(lit(1)).as("truth_k"),
        sum(coalesce(col("__hit"), lit(0L))).as("hits"))
      .withColumn("recall_milli", expr("hits * 1000 DIV truth_k"))
  }

  /**
   * Streaming recall monitor (st20) — s19's recall@k as a CONTINUOUS
   * quality signal over the streaming index-ingest faces (st13/st17): a
   * drifting approximate index serves silently-degrading neighbors, and
   * nothing in the ingest path notices (appends succeed, counts match) —
   * the only honest signal is periodically re-measuring the index
   * against exact ground truth on a pinned probe set.
   *
   * One call = one measurement: approximate top-k through the index's
   * real serving path ([[ivfIndexTopK]] — stored frozen centroids,
   * probed-lists partition pruning), exact top-k by brute force over the
   * SAME stored contents, and the integer metric ([[recallAtK]] —
   * floor-milli recall, engine-exact). The metric rows
   * `(batch, q_id, truth_k, hits, recall_milli)` append to a gwdelta
   * metrics table in ONE commit; with `txnId` a crash-retried batch is
   * detected metadata-only and the ORIGINAL rows are returned instead of
   * re-measured (the index may have grown since — re-measuring would
   * rewrite history).
   *
   * Scale: probes are a pinned handful, so the approximate side scans
   * only probed lists and the exact side is one broadcast of the probes
   * against a streamed contents scan per measurement — the monitor's
   * cost tracks the probe set, never the ingest volume.
   */
  def ivfRecallProbe(probes: DataFrame, id: Column, vec: Column,
      indexPath: String, metricsPath: String, k: Int, nProbe: Int,
      batch: Long, txnId: Option[String] = None): DataFrame = {
    val spark = probes.sparkSession
    val metricsLog = graft.log.GwLog.forTable(
      spark.sparkContext.hadoopConfiguration, metricsPath)
    if (graft.log.GwTxn.replayedVersion(metricsLog, txnId).isDefined)
      return spark.read.format("gwdelta").load(metricsPath)
        .filter(col("batch") === batch)
    val q = probes.select(id.cast("long").as("pid"), vec.as("pemb"))
    val contents = spark.read.format("gwdelta").load(indexPath)
      .select(col("n_id").as("pid"), col("n_emb").as("pemb"))
    val truth = cosineTopK(contents, q, col("pid"), col("pemb"), k)
    val approx = ivfIndexTopK(q, col("pid"), col("pemb"), indexPath, k, nProbe)
    val metrics = recallAtK(approx, truth)
      .select(lit(batch).as("batch"), col("q_id"), col("truth_k"),
        col("hits"), col("recall_milli"))
      .localCheckpoint(true) // freeze: later ingest must not move this row
    graft.streaming.GwSink.append(metrics, metricsPath, txnId = txnId)
    metrics
  }

  /** Table property key of a persisted IVF+PQ index's codebooks. */
  val IvfPqCodebooksProp = "graft.ivfpq.codebooks"

  /**
   * PERSISTED IVF+PQ index (s18) — the full IVFADC serving shape (Jégou
   * et al. 2011) on top of the s14 inverted-file table: vectors land in
   * their centroid's list (partition pruning gives the probed-lists scan)
   * AND carry their `m` product-quantization codes, so the candidate
   * stage inside the probed lists reads CODES ONLY — column pruning keeps
   * the float vectors out of the ADC scan entirely, and the exact rerank
   * touches floats for the `candidates`-deep shortlist alone. At 100 TB
   * this composes the two big levers: nProbe/nCentroids of the corpus is
   * LISTED (partition pruning), and of that slice only m bytes per row
   * are READ (column pruning + PQ compression) until the shortlist.
   *
   * Centroids, dimension, and codebooks all ride the table configuration
   * (metadata scale), so the index is self-describing like s14's.
   * Returns the committed version.
   */
  def buildIvfPqIndex(corpus: DataFrame, id: Column, vec: Column, dim: Int,
      indexPath: String, nCentroids: Int = 16, m: Int = 8, ks: Int = 16,
      centroids: Option[Array[Array[Double]]] = None,
      codebooks: Option[Array[Array[Array[Double]]]] = None): Long = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val cents = centroids.getOrElse(hyperplanes(nCentroids, dim))
    require(cents.length == nCentroids, "centroid count must match nCentroids")
    val books = codebooks.getOrElse(pqCodebooks(dim, m, ks))
    require(books.length == m && books.forall(_.length == ks),
      s"codebooks must be m=$m x ks=$ks")
    val assigned = assignToLists(corpus, id, vec, cents)
      .withColumn("n_codes", pqCodes(col("n_emb"), dim, books))
    graft.streaming.GwSink.append(assigned, indexPath,
      partitionBy = Seq("list"),
      bootstrapProps = Map(
        IvfCentroidsProp -> centroidsJson(cents),
        IvfDimProp -> dim.toString,
        IvfPqCodebooksProp -> codebooksJson(books)))
  }

  /** Per-subspace PQ code assignment (argmax of the shared score array,
    * `array_position` tiebreak — the [[pqTopK]] contract). */
  private def pqCodes(vec: Column, dim: Int,
      books: Array[Array[Array[Double]]]): Column = {
    val m = books.length
    val sub = dim / m
    array((0 until m).map { mi =>
      val s = pqScores(vec, mi, sub, books)
      (array_position(s, array_max(s)) - 1).cast("int")
    }: _*)
  }

  /** Assign new vectors against the IVF+PQ index's FROZEN stored
    * centroids + codebooks and append — [[appendToIvfIndex]]'s contract
    * for the IVFADC table: one transactional commit, `txnId` for
    * exactly-once streaming ingest, search sees the rows immediately.
    * Both the coarse partitioning and the code geometry stay frozen;
    * [[rebuildIvfPqIndex]] is the maintenance step that refreshes them. */
  def appendToIvfPqIndex(newVectors: DataFrame, id: Column, vec: Column,
      indexPath: String, txnId: Option[String] = None): Long = {
    val spark = newVectors.sparkSession
    val cents = storedCentroids(spark, indexPath)
    val books = storedCodebooks(spark, indexPath)
    val dim = storedDim(spark, indexPath)
    graft.streaming.GwSink.append(
      assignToLists(newVectors, id, vec, cents)
        .withColumn("n_codes", pqCodes(col("n_emb"), dim, books)),
      indexPath, txnId = txnId, partitionBy = Seq("list"))
  }

  /**
   * REINDEX for the IVF+PQ index (s22) — [[rebuildIvfIndex]]'s argument
   * applies TWICE here: incremental appends freeze the coarse centroids
   * (stale list boundaries degrade probe recall) AND the PQ codebooks
   * (codes quantize drifted vectors against cells trained on the old
   * distribution, so ADC ranking quietly loses fidelity — reconstruction
   * distortion rises with no result-equality signal). Rebuild retrains
   * both over the index's CURRENT contents ([[trainIvfCentroids]] +
   * [[trainPqCodebooks]]), reassigns lists and recomputes every code, and
   * lands contents + centroids + codebooks as ONE transactional overwrite
   * (`setProps` restates both properties atomically with the file swap) —
   * a reader never sees new codes under old codebooks or any other mix.
   * Pass `centroids`/`codebooks` to land a chosen family (the
   * deterministic replay path the s22 gate uses). Returns the version.
   */
  def rebuildIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, nCentroids: Int = 16, m: Int = 8, ks: Int = 16,
      iterations: Int = 3,
      centroids: Option[Array[Array[Double]]] = None,
      codebooks: Option[Array[Array[Array[Double]]]] = None): Long = {
    val dim = storedDim(spark, indexPath)
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val current = spark.read.format("gwdelta").load(indexPath)
      .select(col("n_id"), col("n_emb"))
    val cents = centroids.getOrElse(
      trainIvfCentroids(current, col("n_emb"), dim, nCentroids, iterations))
    require(cents.length == nCentroids, "centroid count must match nCentroids")
    require(cents.forall(_.length == dim),
      s"rebuild centroids must keep the index dimension $dim")
    val books = codebooks.getOrElse(
      trainPqCodebooks(current, col("n_emb"), dim, m, ks, iterations))
    require(books.length == m && books.forall(_.length == ks),
      s"codebooks must be m=$m x ks=$ks")
    graft.streaming.GwSink.overwrite(
      assignToLists(current, col("n_id"), col("n_emb"), cents)
        .withColumn("n_codes", pqCodes(col("n_emb"), dim, books)),
      indexPath, partitionBy = Seq("list"),
      setProps = Map(
        IvfCentroidsProp -> centroidsJson(cents),
        IvfPqCodebooksProp -> codebooksJson(books)))
  }

  /** Top-k cosine search against a persisted IVF+PQ index: probe each
    * query's `nProbe` closest stored centroids (list partition pruning),
    * rank candidates INSIDE the probed lists by asymmetric-distance codes
    * only (the scan never reads the vectors — column pruning), then
    * exact-cosine rerank of the `candidates`-deep shortlist. Identical
    * assignment/probe/ADC/tiebreak contracts to [[ivfTopK]] and
    * [[pqTopK]], so the composition replays in SQL from the stored
    * centroid + codebook literals. */
  def ivfPqIndexTopK(queries: DataFrame, id: Column, vec: Column,
      indexPath: String, k: Int, nProbe: Int, candidates: Int): DataFrame = {
    require(k >= 1 && candidates >= k,
      s"need candidates >= k >= 1, got k=$k candidates=$candidates")
    val spark = queries.sparkSession
    val cents = storedCentroids(spark, indexPath)
    val books = storedCodebooks(spark, indexPath)
    val dim = storedDim(spark, indexPath)
    val m = books.length
    val sub = dim / m
    val n = cents.length
    def scores(e: Column): Column = centroidScores(e, cents)
    def probes(e: Column): Column = {
      val ranked = sort_array(zip_with(scores(e),
        sequence(lit(0), lit(n - 1)),
        (s, i) => struct(s.as("s"), i.as("i"))), asc = false)
      slice(transform(ranked, r => r.getField("i")), 1, nProbe)
    }
    def lut(e: Column, mi: Int): Column = {
      val qm = slice(e, mi * sub + 1, sub)
      array(books(mi).indices.map(c => dotProd(qm, lit(books(mi)(c)))): _*)
    }
    val qBase = queries.select(id.as("q_id"), vec.as("q_emb"))
    val qProbe = qBase.withColumn("list", explode(probes(col("q_emb"))))
    val probed = qProbe.select("list").distinct().collect().map(_.getInt(0))
    def probedScan() = spark.read.format("gwdelta").load(indexPath)
      .filter(col("list").isin(probed.map(Int.box).toSeq: _*))
    // ADC stage: codes only — the projection prunes n_emb out of this scan
    val codesScan = probedScan().select(col("list"), col("n_id"), col("n_codes"))
    val qLut = qProbe.select((col("q_id") +: col("list") +:
      (0 until m).map(mi => lut(col("q_emb"), mi).as(s"lut_$mi"))): _*)
    val adc = (0 until m).map { mi =>
      element_at(col(s"lut_$mi"), element_at(col("n_codes"), mi + 1) + 1)
    }.reduce(_ + _)
    val shortlist = broadcast(qLut).join(codesScan, Seq("list"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), adc.as("adc"), col("n_id"))
      .groupBy("q_id")
      .agg(graft.functions.TopKAgg.topk(col("adc"), col("n_id"), candidates).as("top"))
      .select(col("q_id"), explode(col("top.n_id")).as("n_id"))
    // rerank: floats load for the shortlist rows only (probed lists scan,
    // joined down to candidates first)
    val c = probedScan().select(col("n_id"), col("n_emb"))
      .withColumn("n_nrm", l2norm(col("n_emb")))
    val q = qBase.withColumn("q_nrm", l2norm(col("q_emb")))
    topKByCosine(
      shortlist.join(c, Seq("n_id")).join(broadcast(q), Seq("q_id")), k)
  }

  /** Codebooks from the index table's configuration (see
    * [[storedCentroids]] — the same exact Double round trip). */
  private[graft] def storedCodebooks(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Array[Array[Array[Double]]] = {
    val conf = graft.GwTable.forPath(spark, indexPath).snapshot()
      .metadata.map(_.configuration).getOrElse(Map.empty)
    val json = conf.getOrElse(IvfPqCodebooksProp, throw new IllegalArgumentException(
      s"$indexPath is not an IVF+PQ index table: missing $IvfPqCodebooksProp " +
        "in the table configuration (build one with buildIvfPqIndex)"))
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    Array.tabulate(node.size()) { mi =>
      val sub = node.get(mi)
      Array.tabulate(sub.size()) { c =>
        val row = sub.get(c)
        Array.tabulate(row.size())(j => row.get(j).asDouble())
      }
    }
  }

  private[graft] def codebooksJson(books: Array[Array[Array[Double]]]): String =
    books.map(_.map(_.mkString("[", ",", "]")).mkString("[", ",", "]"))
      .mkString("[", ",", "]")

  private def assignToLists(corpus: DataFrame, id: Column, vec: Column,
      cents: Array[Array[Double]], payload: Seq[Column] = Nil): DataFrame = {
    val n = cents.length
    def scores(e: Column): Column = centroidScores(e, cents)
    corpus.select(id.as("n_id") +: vec.as("n_emb") +: payload: _*)
      .withColumn("list", (array_position(scores(col("n_emb")),
        array_max(scores(col("n_emb")))) - 1).cast("int"))
  }

  /** Centroids from the index table's configuration. Double.toString /
    * parseDouble round-trip exactly, so the stored centroids are the
    * trained ones bit for bit. */
  /** The index's embedding dimension from its table configuration. */
  private[graft] def storedDim(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Int = {
    val conf = graft.GwTable.forPath(spark, indexPath).snapshot()
      .metadata.map(_.configuration).getOrElse(Map.empty)
    conf.getOrElse(IvfDimProp, throw new IllegalArgumentException(
      s"$indexPath is not an IVF index table: missing $IvfDimProp " +
        "in the table configuration (build one with buildIvfIndex)")).toInt
  }

  private[graft] def storedCentroids(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Array[Array[Double]] = {
    val conf = graft.GwTable.forPath(spark, indexPath).snapshot()
      .metadata.map(_.configuration).getOrElse(Map.empty)
    val json = conf.getOrElse(IvfCentroidsProp, throw new IllegalArgumentException(
      s"$indexPath is not an IVF index table: missing $IvfCentroidsProp " +
        "in the table configuration (build one with buildIvfIndex)"))
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    Array.tabulate(node.size()) { i =>
      val row = node.get(i)
      Array.tabulate(row.size())(j => row.get(j).asDouble())
    }
  }

  private[graft] def centroidsJson(cents: Array[Array[Double]]): String =
    cents.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")

  /** Seeded, data-independent PQ codebooks: `m` subspaces x `ks` centroids
    * x (dim/m) doubles (the hyperplanes family, seed 4242). The default
    * for [[pqTopK]]; [[trainPqCodebooks]] refines them on data. */
  def pqCodebooks(dim: Int, m: Int, ks: Int): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val sub = dim / m
    val rng = new scala.util.Random(4242)
    Array.fill(m)(Array.fill(ks)(Array.fill(sub)(rng.nextGaussian())))
  }

  /** Per-subspace centroid L2 scores for PQ assignment: argmin distance =
    * argmax (dot(x_m, c) - |c|^2/2) — the |x_m|^2 term is constant per
    * row and drops out. Rendered identically into the DuckDB oracle. */
  private def pqScores(vec: Column, mIdx: Int, sub: Int,
      books: Array[Array[Array[Double]]]): Column = {
    val xm = slice(vec, mIdx * sub + 1, sub)
    array(books(mIdx).indices.map { c =>
      val cb = books(mIdx)(c)
      dotProd(xm, lit(cb)) - lit(cb.map(x => x * x).sum / 2.0)
    }: _*)
  }

  /**
   * Product-quantization top-k (Jégou et al. 2011) — the middle rung of
   * the quantization ladder between int8 (s05/s06, 4x) and sign bits
   * (s09, ~32x): each vector splits into `m` subvectors, each encoded as
   * its nearest of `ks` per-subspace centroids, so dim-64 float32 (256 B)
   * compresses to `m` small codes (8 B at m=8/ks=16 — and 4 bits/code
   * packed, which a real deployment would). Queries never decode the
   * corpus: each query precomputes one `ks`-entry lookup table of
   * subspace dots (asymmetric distance computation), a candidate's
   * approximate dot is m table lookups summed, and only the
   * `candidates`-deep shortlist (bounded-heap, k*partitions rows per
   * query cross the exchange) pays the exact float rerank.
   *
   * Deterministic end to end: seeded codebooks (or pass
   * [[trainPqCodebooks]] output), first-index argmax ties, left-to-right
   * ADC summation, (cos DESC, n_id) final order — so the whole pipeline
   * replays in DuckDB with the codebooks rendered as literals (the
   * s02/s03 oracle technique).
   *
   * 100 TB posture: the corpus is touched through its codes only (encode
   * is a one-off storage-time pass, like s05's int8); the ADC scan reads
   * m integers per candidate instead of the vector; float vectors load
   * for the shortlist alone. Queries broadcast with their LUTs; no
   * corpus shuffle anywhere.
   */
  def pqTopK(corpus: DataFrame, queries: DataFrame, id: Column, vec: Column,
      k: Int, dim: Int, m: Int = 8, ks: Int = 16, candidates: Int = 20,
      codebooks: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    require(k >= 1 && candidates >= k,
      s"need candidates >= k >= 1, got k=$k candidates=$candidates")
    val books = codebooks.getOrElse(pqCodebooks(dim, m, ks))
    require(books.length == m && books.forall(_.length == ks),
      s"codebooks must be m=$m x ks=$ks")
    val sub = dim / m
    // corpus: m argmin codes per vector (first index on score ties —
    // array_position = DuckDB's list_position)
    def codes(e: Column): Column = array((0 until m).map { mi =>
      val s = pqScores(e, mi, sub, books)
      (array_position(s, array_max(s)) - 1).cast("int")
    }: _*)
    // query: one LUT per subspace — plain centroid dots (the constant
    // -|c|^2/2 shift must NOT apply here: ADC approximates dot(q, x))
    def lut(e: Column, mi: Int): Column = {
      val qm = slice(e, mi * sub + 1, sub)
      array(books(mi).indices.map(c => dotProd(qm, lit(books(mi)(c)))): _*)
    }
    val n = corpus.select(id.as("n_id"), codes(vec).as("n_codes"))
    val qT = queries.select(
      (id.as("q_id") +: (0 until m).map(mi => lut(vec, mi).as(s"lut_$mi"))): _*)
    // ADC: m lookups summed left-to-right (IEEE order fixed for the oracle)
    val adc = (0 until m).map { mi =>
      element_at(col(s"lut_$mi"), element_at(col("n_codes"), mi + 1) + 1)
    }.reduce(_ + _)
    val shortlist = broadcast(qT).join(n, col("q_id") =!= col("n_id"))
      .select(col("q_id"), adc.as("adc"), col("n_id"))
      .groupBy("q_id")
      .agg(graft.functions.TopKAgg.topk(col("adc"), col("n_id"), candidates).as("top"))
      .select(col("q_id"), explode(col("top.n_id")).as("n_id"))
    val c = corpus.select(id.as("n_id"), vec.as("n_emb"))
      .withColumn("n_nrm", l2norm(col("n_emb")))
    val q = queries.select(id.as("q_id"), vec.as("q_emb"))
      .withColumn("q_nrm", l2norm(col("q_emb")))
    topKByCosine(
      shortlist.join(c, Seq("n_id")).join(broadcast(q), Seq("q_id")), k)
  }

  /**
   * Per-subspace Lloyd refinement of PQ codebooks: each iteration is one
   * distributed pass — every row's subvectors assign to their argmin
   * centroid (the same codegen'd scores [[pqTopK]] uses) and a
   * (subspace, cluster, dim)-keyed partial aggregate computes the means;
   * only m*ks*sub doubles ever reach the driver, so iterations cost what
   * the scan costs at any corpus size. Empty clusters keep their previous
   * centroid. Average quantization distortion is non-increasing on the
   * training data ([[pqDistortion]], property-tested).
   */
  def trainPqCodebooks(corpus: DataFrame, vec: Column, dim: Int,
      m: Int = 8, ks: Int = 16, iterations: Int = 3): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val sub = dim / m
    var books = pqCodebooks(dim, m, ks)
    for (_ <- 0 until iterations) {
      val perSub = (0 until m).map { mi =>
        val s = pqScores(vec, mi, sub, books)
        val code = (array_position(s, array_max(s)) - 1).cast("int")
        corpus.select(lit(mi).as("mi"), code.as("cl"),
          posexplode(slice(vec, mi * sub + 1, sub).cast("array<double>")))
      }.reduce(_ unionAll _)
      val sums = perSub
        .groupBy("mi", "cl", "pos")
        .agg(sum("col").as("s"), count(lit(1)).as("n"))
        .collect()
      val next = Array.tabulate(m, ks, sub)((mi, c, d) => books(mi)(c)(d))
      sums.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3) / r.getLong(4)
      }
      books = next
    }
    books
  }

  /** Mean total squared PQ reconstruction error over the corpus — the
    * k-means objective summed across subspaces; Lloyd iterations must not
    * increase it on training data. */
  def pqDistortion(corpus: DataFrame, vec: Column, dim: Int,
      books: Array[Array[Array[Double]]]): Double = {
    val m = books.length
    val sub = dim / m
    val total = (0 until m).map { mi =>
      val xm = slice(vec, mi * sub + 1, sub)
      val s = pqScores(vec, mi, sub, books)
      val code = array_position(s, array_max(s)) - 1
      // ||x - c||^2 = |x|^2 - 2*(dot(x,c) - |c|^2/2) evaluated via the
      // same score array (score = dot - |c|^2/2)
      dotProd(xm, xm) - lit(2.0) * element_at(s, (code + 1).cast("int"))
    }.reduce(_ + _)
    corpus.select(avg(total).as("d")).head().getDouble(0)
  }

  /**
   * k-NN graph (s07): each corpus vector's k nearest neighbors by exact
   * cosine over LSH band-bucket candidates — the input of graph
   * clustering, semantic dedup, and diversity sampling. Unlike
   * [[annTopK]] (whose query side is small by contract and broadcast),
   * both sides here are the corpus: candidates come from a capped bucket
   * SELF-join (never all-pairs; the cap bounds a hot bucket's fan-out at
   * members x cap, linear not quadratic) and the embedding re-attach is
   * two shuffle joins — the 100 TB shape. A pair sharing no bucket is
   * simply absent: recall is the LSH trade, same as d06/s02.
   */
  def knnGraph(corpus: DataFrame, id: Column, vec: Column, k: Int, dim: Int,
      nPlanes: Int = 24, bands: Int = 8, bucketCap: Int = 1024): DataFrame = {
    require(nPlanes % bands == 0, "nPlanes must be divisible by bands")
    val bitsPerBand = nPlanes / bands
    val planes = hyperplanes(nPlanes, dim)
    def bandKeys(e: Column): Seq[Column] = {
      val bits = (0 until nPlanes).map { p =>
        when(dotProd(e, lit(planes(p))) > 0, 1L).otherwise(0L)
      }
      (0 until bands).map { b =>
        (0 until bitsPerBand).map(i => bits(b * bitsPerBand + i) * (1L << i)).reduce(_ + _)
      }
    }
    def banded(prefix: String): DataFrame =
      corpus.select(id.as(s"${prefix}_id"), vec.as(s"${prefix}_emb"))
        .select(col(s"${prefix}_id"),
          posexplode(array(bandKeys(col(s"${prefix}_emb")).map(_.cast("long")): _*)))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "bucket")
    val candidates = banded("q")
      .join(capBucketMembers(banded("n"), "n_id", bucketCap), Seq("band", "bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select("q_id", "n_id").distinct()
    val q = corpus.select(id.as("q_id"), vec.as("q_emb"))
      .withColumn("q_nrm", l2norm(col("q_emb")))
    val c = corpus.select(id.as("n_id"), vec.as("n_emb"))
      .withColumn("n_nrm", l2norm(col("n_emb")))
    topKByCosine(candidates.join(q, Seq("q_id")).join(c, Seq("n_id")), k)
  }

  def annTopK(corpus: DataFrame, queries: DataFrame, id: Column, vec: Column,
      k: Int, dim: Int, nPlanes: Int, bands: Int, bucketCap: Int = 1024): DataFrame = {
    require(nPlanes % bands == 0, "nPlanes must be divisible by bands")
    val bitsPerBand = nPlanes / bands
    val planes = hyperplanes(nPlanes, dim)

    // signature bits from native codegen'd plane dots (array<float> x
    // array<double> literal)
    def bandKeys(e: Column): Seq[Column] = {
      val bits = (0 until nPlanes).map { p =>
        when(dotProd(e, lit(planes(p))) > 0, 1L).otherwise(0L)
      }
      (0 until bands).map { b =>
        (0 until bitsPerBand).map(i => bits(b * bitsPerBand + i) * (1L << i)).reduce(_ + _)
      }
    }

    def banded(df: DataFrame, prefix: String): DataFrame =
      df.select(id.as(s"${prefix}_id"), vec.as(s"${prefix}_emb"))
        .select(col(s"${prefix}_id"),
          posexplode(array(bandKeys(col(s"${prefix}_emb")).map(_.cast("long")): _*)))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "bucket")

    // candidates on ids only; embeddings re-attached once per surviving pair.
    // Only the corpus side is capped: the query side is small by contract,
    // and a hot corpus bucket is what turns the bucket join quadratic.
    val candidates = banded(queries, "q")
      .join(capBucketMembers(banded(corpus, "n"), "n_id", bucketCap),
        Seq("band", "bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select("q_id", "n_id").distinct()

    val q = queries.select(id.as("q_id"), vec.as("q_emb"))
      .withColumn("q_nrm", l2norm(col("q_emb")))
    val c = corpus.select(id.as("n_id"), vec.as("n_emb"))
      .withColumn("n_nrm", l2norm(col("n_emb")))
    topKByCosine(
      candidates.join(broadcast(q), Seq("q_id")).join(c, Seq("n_id")), k)
  }

  // --------------------------------------------------- lexical retrieval

  /**
   * Okapi BM25 top-k lexical retrieval (s11): score every corpus document
   * against each query document's term set — the "more-like-this" /
   * sparse-retrieval complement to the dense cosine ladder (s01-s10), and
   * the lexical half of hybrid retrieval ([[rrfFuse]]).
   *
   * Shape at 100 TB: corpus term frequencies are ONE shuffle of the
   * exploded tokens (tf), document lengths and per-term document
   * frequencies both derive from tf (re-aggregations of the already
   * shuffled pairs, no second token pass); the query side is small by
   * contract and broadcasts into the posting-list join (term-keyed
   * inverted index — candidates are bounded by the query terms' posting
   * lists, never corpus x queries); the final ranking goes through the
   * bounded-heap [[graft.functions.TopKAgg]] (k*partitions rows cross the
   * exchange). Corpus-global N/avgdl are a 2-double broadcast aggregate.
   *
   * Determinism contract (what makes the gate hash-exact): each term's
   * BM25 contribution `idf * tf*(k1+1)/denom` is computed in IEEE double
   * with a FIXED expression tree, micro-rounded to an integer PER TERM,
   * and only then summed — integer addition commutes, so the score is
   * independent of aggregation order in both engines. Ties rank by doc id.
   */
  def bm25TopK(corpus: DataFrame, queries: DataFrame, id: Column, text: Column,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    def toks(df: DataFrame, idName: String): DataFrame =
      df.select(id.as(idName), explode(split(text, " ")).as("term"))
        .filter(length(col("term")) > 0)
    val tf = toks(corpus, "n_id").groupBy("n_id", "term")
      .agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy("n_id").agg(sum("tf").as("dl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // N and avgdl: exact integer sums -> one deterministic double each
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    val qTerms = toks(queries, "q_id").distinct()

    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val denom = col("tf") +
      lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))
    val contribMicro =
      round(lit(1000000.0) * idf * (col("tf") * lit(k1 + 1.0) / denom))
        .cast("long")

    val scored = broadcast(qTerms)
      .join(tf, Seq("term"))
      .filter(col("n_id") =!= col("q_id"))
      .join(broadcast(dfreq), Seq("term"))
      .join(dl, Seq("n_id"))
      .crossJoin(broadcast(stats))
      .groupBy("q_id", "n_id")
      .agg(sum(contribMicro).as("score_micro"))
    scored
      .groupBy("q_id")
      .agg(graft.functions.TopKAgg.topk(
        col("score_micro").cast("double"), col("n_id"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), col("col.n_id").as("n_id"),
        (col("pos") + 1).cast("long").as("rnk"),
        col("col.score").cast("long").as("score_micro"))
  }

  /**
   * Reciprocal-rank fusion (s12): merge any number of (q_id, n_id, rnk)
   * rankings into one hybrid ranking by `sum over lists of 1/(c + rank)`
   * (Cormack et al. 2009, c=60) — the standard glue between BM25 and
   * dense retrieval. Score arithmetic is integer (parts-per-billion of
   * the reciprocal, exact for c+rank <= ~10^9), so fusion is
   * order-independent and oracle-exact; candidates absent from one list
   * simply contribute nothing. Inputs are top-k lists (tiny vs corpus),
   * so every join here is metadata-scale regardless of corpus size.
   */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(rankings.nonEmpty && k >= 1, "need >= 1 ranking and k >= 1")
    // integer floor-div: exact in any engine, no double-quotient edge cases
    val contrib = expr(s"1000000000L div (${c}L + rnk)")
    val pooled = rankings
      .map(_.select(col("q_id"), col("n_id"), contrib.as("rrf_nano")))
      .reduce(_ unionAll _)
    pooled
      .groupBy("q_id", "n_id")
      .agg(sum("rrf_nano").as("rrf_nano"))
      .groupBy("q_id")
      .agg(graft.functions.TopKAgg.topk(
        col("rrf_nano").cast("double"), col("n_id"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), col("col.n_id").as("n_id"),
        (col("pos") + 1).cast("long").as("rnk"),
        col("col.score").cast("long").as("rrf_nano"))
  }

  /**
   * Distributed BPE merge training (t26) — the tokenizer-training
   * primitive (Sennrich et al. 2016). The 100 TB-dominant step is the ONE
   * corpus scan that aggregates word frequencies (map-side-combined
   * groupBy); every merge round after that iterates over the compact
   * distinct-word table: adjacent-symbol pair counts (small shuffle on
   * pair), a single-row argmax collect (metadata-scale, like the k-means
   * centroid pulls), and a narrow codegen `replace` of the winning pair
   * with a private-use sentinel char. Sentinels keep "one char = one
   * symbol" true forever, so pair extraction stays `substring(w, i, 2)`
   * in every round, and the whole loop — argmax included — is expressible
   * in the DuckDB oracle as scalar-subquery CTE rounds. `replace` is
   * left-to-right non-overlapping in both engines, which is exactly
   * greedy BPE application; replacement is invertible (sentinels never
   * collide with input), so distinct words stay distinct and the state
   * needs no re-aggregation between rounds.
   *
   * Returns the learned merges `(round, pair, cnt)` — `pair` in
   * sentinel-compressed form — and the post-merge word-frequency state
   * for downstream pair statistics or further rounds. Ties break on
   * (count DESC, pair ASC), binary collation in both engines.
   */
  def bpeTrain(df: DataFrame, textCol: String, numMerges: Int)
      : (Seq[(Int, String, Long)], DataFrame) = {
    require(numMerges >= 0 && numMerges <= 256,
      s"numMerges must be in [0, 256] (one private-use sentinel each): $numMerges")
    val base = df
      .select(explode(split(lower(col(textCol)), "[^a-z]+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .persist() // the compact iterating state; corpus is scanned ONCE
    var words = base
    val merges = (1 to numMerges).flatMap { r =>
      val top = bpePairStats(words)
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(1).collect() // one row: the argmax merge of this round
      top.headOption.map { row =>
        val pair = row.getString(0)
        val sentinel = (0xE000 + r - 1).toChar.toString
        words = words.withColumn("w",
          replace(col("w"), lit(pair), lit(sentinel)))
        (r, pair, row.getLong(1))
      }
    }
    (merges, words)
  }

  /** Adjacent-symbol pair frequencies over a `(w, cnt)` word-frequency
    * state (one char = one symbol; see [[bpeTrain]]). Codegen end to end:
    * sequence/transform/substring + an explode + a map-side-combined sum. */
  def bpePairStats(words: DataFrame): DataFrame = words
    .filter(length(col("w")) >= 2)
    .select(col("cnt"), explode(expr(
      "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
      .as("pair"))
    .groupBy("pair").agg(sum("cnt").as("cnt"))

  /**
   * Distributed BPE ENCODE (t29) — apply a trained merge table
   * ([[bpeTrain]]'s output) to the whole corpus and report each
   * document's token count, the other half of the tokenizer lifecycle:
   * t26 trains, this prices every document in tokens — the number every
   * mixture/packing/budget decision downstream actually consumes
   * ([[sequencePack]] packs by it, data budgets are set in it).
   *
   * Application is the same greedy left-to-right, rank-ordered merge
   * replay as training: merge r rewrites its pair to the round-r
   * private-use sentinel, IN training order, so later merges see earlier
   * sentinels exactly as the trainer did — after the chain, one char =
   * one token, and a word's token count is just `length`.
   *
   * Shapes for 100 TB: ONE corpus scan, ZERO shuffle — split + transform
   * + an `aggregate` fold are all per-row codegen (the merge chain is a
   * fused `replace(replace(...))` expression, not a join against the
   * merge table), and the merge table itself is a few hundred literals
   * baked into the plan. Documents with no alphabetic words are dropped
   * (they have no token mass), matching the SQL replay's GROUP BY.
   *
   * Returns (id, n_words, n_chars, n_tokens): alphabetic words, their
   * pre-merge character total, and the post-merge token total.
   */
  def bpeEncode(df: DataFrame, id: Column, text: Column,
      merges: Seq[(Int, String, Long)]): DataFrame = {
    require(merges.size <= 256, s"merge table too large: ${merges.size}")
    def chain(w: Column): Column = merges.sortBy(_._1).foldLeft(w) {
      case (acc, (r, pair, _)) =>
        replace(acc, lit(pair), lit((0xE000 + r - 1).toChar.toString))
    }
    df.select(id.as("__id"),
      filter(split(lower(text), "[^a-z]+"), w => w =!= "").as("__ws"))
      .filter(size(col("__ws")) > 0)
      .select(col("__id").as("id"),
        size(col("__ws")).cast("long").as("n_words"),
        aggregate(col("__ws"), lit(0L), (acc, w) => acc + length(w))
          .as("n_chars"),
        aggregate(col("__ws"), lit(0L), (acc, w) => acc + length(chain(w)))
          .as("n_tokens"))
  }

  /** Penalty for a substring absent from the unigram vocabulary: large
    * enough to dominate any real path (scores are a few bits each, words
    * are short), small enough that `maxWordLen` of them cannot overflow
    * a BIGINT sum. Single characters are always seeded, so real training
    * paths never pay it — it only keeps [[unigramSegment]] total on
    * foreign inputs with unseen characters. */
  private val UnigramMissPenalty = 1000000000000L

  /**
   * Viterbi segmentation under a unigram vocabulary (t31's E-step and
   * the unigram tokenizer's apply face): split each word into the
   * vocabulary pieces minimizing total integer-bit surprisal. Pure
   * whole-stage codegen — the DP over positions is an `aggregate` fold
   * (state = array of (cost, n_pieces, backpointer) structs, one per
   * prefix length), the backtrack a second fold, and the vocabulary a
   * broadcast-free LITERAL MAP baked into the plan; ZERO shuffle, one
   * scan, exactly the bpeEncode posture.
   *
   * Determinism contract (what makes the gate hash-exact): scores are
   * INTEGER bits, and ties break lexicographically on
   * (cost, piece count, backpointer) — fewer pieces first, then the
   * longer final piece — which DuckDB replays as a row_number over the
   * same triple. Appends a `pieces` array column named `out`.
   */
  def unigramSegment(words: DataFrame, word: Column, vocab: Seq[(String, Long)],
      maxPieceLen: Int, out: String = "pieces"): DataFrame = {
    require(vocab.nonEmpty, "unigram vocabulary must not be empty")
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1: $maxPieceLen")
    val scoreMap = map(vocab.sortBy(_._1)
      .flatMap { case (p, s) => Seq(lit(p), lit(s)) }: _*)
    val w = words.withColumn("__w", word).withColumn("__m", scoreMap)
    // forward DP: element i+1 of the state array = best (cost, np, bp)
    // for the length-i prefix; candidates at i are the <= maxPieceLen
    // pieces ending there, compared as a struct (lexicographic = the
    // documented tiebreak); bp = predecessor prefix length
    val dp =
      s"""aggregate(
         |  sequence(1, length(__w)),
         |  array(named_struct('cost', 0L, 'np', 0L, 'bp', -1L)),
         |  (acc, i) -> array_append(acc, array_min(
         |    transform(sequence(greatest(1, i - ${maxPieceLen - 1}), i),
         |      s -> named_struct(
         |        'cost', element_at(acc, s).cost +
         |          coalesce(element_at(__m, substring(__w, s, i - s + 1)),
         |            ${UnigramMissPenalty}L),
         |        'np', element_at(acc, s).np + 1L,
         |        'bp', cast(s - 1 as bigint))))))""".stripMargin
    // backtrack: walk bp from the full length to 0, collecting pieces
    // (appended back-to-front, reversed at the end)
    val bt =
      s"""reverse(aggregate(
         |  sequence(1, length(__w)),
         |  named_struct('pos', cast(length(__w) as bigint),
         |    'ps', cast(array() as array<string>)),
         |  (acc, t) -> if(acc.pos <= 0L, acc, named_struct(
         |    'pos', element_at(__st, cast(acc.pos as int) + 1).bp,
         |    'ps', array_append(acc.ps,
         |      substring(__w, cast(element_at(__st, cast(acc.pos as int) + 1).bp as int) + 1,
         |        cast(acc.pos - element_at(__st, cast(acc.pos as int) + 1).bp as int))))),
         |  acc -> acc.ps))""".stripMargin
    w.withColumn("__st", expr(dp))
      .withColumn(out, expr(bt))
      .drop("__w", "__m", "__st")
  }

  /**
   * Unigram-LM tokenizer training (t31) — the SentencePiece-style
   * sibling of [[bpeTrain]] (Kudo 2018): the two dominant public
   * tokenizer families are BPE and unigram, and a pipeline that trains
   * one should train both. Engine-exact by construction:
   *
   *  - SEED: every substring of length <= `maxPieceLen` of the distinct
   *    training words (one corpus scan builds the word table, one
   *    codegen fan-out the substring counts); all single characters
   *    enter the vocabulary unconditionally, multi-char pieces take the
   *    top `seedSize` by (freq * len DESC, piece ASC) — SentencePiece's
   *    frequency-length seed score with a binary-collation tiebreak.
   *  - E-STEP: Viterbi segmentation of the distinct-word table under
   *    the current scores ([[unigramSegment]] — codegen fold, no
   *    shuffle beyond the piece-count aggregate), piece counts weighted
   *    by word frequency.
   *  - M-STEP: scores re-estimate as INTEGER BITS — score(p) =
   *    bits(T + V) - bits(cnt(p) + 1) with bits(x) = floor(log2 x) via
   *    binary bit length, the t19/t28 libm-free quantization — so every
   *    round replays exactly in SQL.
   *  - PRUNE (by loss, at the exact-zero boundary): a multi-char piece
   *    with Viterbi count 0 sits on no best path, so removing it
   *    changes no segmentation and increases the corpus loss by exactly
   *    nothing — drop it; single characters never prune (they keep the
   *    model total — every string stays segmentable).
   *
   * `emIters` fixed iterations of (E -> M -> prune). The vocabulary is
   * metadata-scale throughout (seedSize + alphabet), so score updates
   * are driver arithmetic exactly like bpeTrain's argmax — the corpus
   * is touched once to build the word table and once per E-step.
   *
   * Returns (vocab, segmented): the final vocabulary
   * (piece, cnt, score_bits) with cnt from the last E-step and scores
   * from the last M-step, and a function segmenting any word frame
   * under the final scores (the apply face).
   */
  def unigramTrain(df: DataFrame, textCol: String, maxPieceLen: Int = 4,
      seedSize: Int = 64, emIters: Int = 2, maxWordLen: Int = 8)
      : (Seq[(String, Long, Long)], DataFrame => DataFrame) = {
    require(emIters >= 1, s"emIters must be >= 1: $emIters")
    require(maxWordLen >= 1 && maxPieceLen >= 1 && seedSize >= 0,
      s"bad unigram params: $maxPieceLen/$seedSize/$maxWordLen")
    val spark = df.sparkSession
    def bits(x: Long): Long = {
      require(x >= 1, s"bits() needs a positive count: $x")
      63L - java.lang.Long.numberOfLeadingZeros(x)
    }
    val words = df
      .select(explode(split(lower(col(textCol)), "[^a-z]+")).as("w"))
      .filter(col("w") =!= "" && length(col("w")) <= maxWordLen)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .persist() // the compact iterating state; corpus is scanned ONCE
    try {
      val subs = words
        .select(col("cnt"), explode(expr(
          s"""flatten(transform(sequence(1, length(w)),
             |  i -> transform(sequence(1, least($maxPieceLen, length(w) - i + 1)),
             |    l -> substring(w, i, l))))""".stripMargin)).as("piece"))
        .groupBy("piece").agg(sum("cnt").as("freq"))
      val singles = subs.filter(length(col("piece")) === 1)
      val multis = subs.filter(length(col("piece")) > 1)
        .orderBy((col("freq") * length(col("piece"))).desc, col("piece").asc)
        .limit(seedSize)
      val seed = singles.unionByName(multis)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      require(seed.nonEmpty, "no training words after the length filter")
      val t0 = seed.map(_._2).sum
      val v0 = seed.size.toLong
      var vocab: Seq[(String, Long, Long)] = seed.map { case (p, f) =>
        (p, f, bits(t0 + v0) - bits(f + 1))
      }
      for (_ <- 1 to emIters) {
        val scores = vocab.map { case (p, _, s) => (p, s) }
        val counts = unigramSegment(words, col("w"), scores, maxPieceLen)
          .select(col("cnt"), explode(col("pieces")).as("piece"))
          .groupBy("piece").agg(sum("cnt").as("cnt"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val kept = vocab
          .map { case (p, _, _) => (p, counts.getOrElse(p, 0L)) }
          .filter { case (p, c) => p.length == 1 || c > 0 }
        val t = kept.map(_._2).sum
        val v = kept.size.toLong
        vocab = kept.map { case (p, c) => (p, c, bits(t + v) - bits(c + 1)) }
      }
      val finalScores = vocab.map { case (p, _, s) => (p, s) }
      (vocab, (in: DataFrame) =>
        unigramSegment(in, col("w"), finalScores, maxPieceLen))
    } finally { words.unpersist(); () }
  }

  /**
   * Unigram ENCODE (t32) — apply a trained unigram vocabulary
   * ([[unigramTrain]]'s scores) to the whole corpus and report each
   * document's token count, the other half of the unigram lifecycle
   * exactly as t29 is to t26: t31 trains, this prices every document in
   * tokens — the number packing/mixture/budget decisions downstream
   * consume.
   *
   * Shapes for 100 TB: ONE corpus scan, ZERO shuffle — the per-word
   * Viterbi DP runs as a fold NESTED inside the per-document word-array
   * fold (all whole-stage codegen; the vocabulary is a literal map baked
   * into the plan), and only the per-doc totals come out. Words longer
   * than `maxWordLen` (the training cap) price at CHARACTER fallback —
   * one token per char, the segmentation single-char seeding always
   * admits — so pricing is total and the rule replays as `length(w)` in
   * SQL. Documents with no alphabetic words drop (no token mass),
   * matching the replay's GROUP BY.
   *
   * Returns (id, n_words, n_chars, n_tokens).
   */
  def unigramEncode(df: DataFrame, id: Column, text: Column,
      vocab: Seq[(String, Long)], maxPieceLen: Int = 4,
      maxWordLen: Int = 8): DataFrame = {
    require(vocab.nonEmpty, "unigram vocabulary must not be empty")
    val scoreMap = map(vocab.sortBy(_._1)
      .flatMap { case (p, s) => Seq(lit(p), lit(s)) }: _*)
    // per-word token count: the unigramSegment DP without the backtrack —
    // (cost, np) state only, np of the full-length prefix IS the price
    val tokens =
      s"""aggregate(__ws, 0L, (tot, w) -> tot +
         |  if(length(w) > $maxWordLen, cast(length(w) as bigint),
         |    aggregate(
         |      sequence(1, length(w)),
         |      array(named_struct('cost', 0L, 'np', 0L)),
         |      (acc, i) -> array_append(acc, array_min(
         |        transform(sequence(greatest(1, i - ${maxPieceLen - 1}), i),
         |          s -> named_struct(
         |            'cost', element_at(acc, s).cost +
         |              coalesce(element_at(__m, substring(w, s, i - s + 1)),
         |                ${UnigramMissPenalty}L),
         |            'np', element_at(acc, s).np + 1L)))),
         |      acc -> element_at(acc, length(w) + 1).np)))""".stripMargin
    df.withColumn("__m", scoreMap)
      .select(id.as("id"), col("__m"),
        filter(split(lower(text), "[^a-z]+"), w => w =!= "").as("__ws"))
      .filter(size(col("__ws")) > 0)
      .select(col("id"),
        size(col("__ws")).cast("long").as("n_words"),
        aggregate(col("__ws"), lit(0L), (acc, w) => acc + length(w))
          .as("n_chars"),
        expr(tokens).as("n_tokens"))
  }

  /**
   * Deterministic train/val/test split + sharded global shuffle (t27) —
   * the last step before a corpus feeds a trainer. One md5 per row drives
   * everything: the first 16 bits pick the split (so membership is a pure
   * function of (seed, id) — stable across reruns, cluster sizes, and
   * partitionings, and a changed seed re-deals the whole corpus), the
   * next 60 bits pick a shard, and the full digest orders rows within a
   * (split, shard) — the deterministic "global shuffle" a training job
   * reads back shard by shard. No RNG state anywhere, so adding documents
   * never moves existing ones between splits (the holdout stays clean).
   *
   * Scale: the only wide operation is the per-(split, shard) sort —
   * parallelism is `splits x shards`, so `shards` is the knob that bounds
   * sort-partition size at 100 TB (pick corpus / ~1 GB); a single global
   * ORDER BY would funnel into one partition and is exactly what this
   * avoids. Everything before the sort is scan-speed codegen.
   */
  /**
   * Leakage-free split (t30) — [[splitShuffle]]'s assignment with the
   * constraint real evaluation hygiene demands: near-duplicate documents
   * must land in the SAME split, or the held-out set leaks through
   * paraphrases of training documents and measures memorization instead
   * of generalization. Every dup cluster (connected components over the
   * caller's near-dup `pairs`) takes the split of its REPRESENTATIVE
   * (the component's min id): the split hash keys on the representative,
   * so members follow it wherever it lands; unpaired docs are their own
   * representative — their assignment is exactly [[splitShuffle]]'s.
   *
   * Scale: components over near-dup pairs (pairs are sparse — they came
   * out of a banded generator), one broadcast-sized join of the label
   * map if clusters are few or a keyed join otherwise (Spark decides),
   * one codegen hash per row. Returns (id, rep, split).
   */
  def leakageFreeSplit(df: DataFrame, id: Column, pairs: DataFrame,
      seed: String, trainPermille: Int = 960, valPermille: Int = 20): DataFrame = {
    require(trainPermille >= 0 && valPermille >= 0 &&
      trainPermille + valPermille <= 1000,
      s"permilles must be >= 0 and sum <= 1000: $trainPermille/$valPermille")
    val comps = connectedComponents(pairs, col("doc_a"), col("doc_b"))
      .withColumnRenamed("node", "id")
    val rep = df.select(id.as("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("rep"))
    val m = md5(concat(lit(seed), lit(":"), col("rep").cast("string")))
    rep.withColumn("split",
      when(substring(m, 1, 4) < lit(hexThreshold(trainPermille)), lit("train"))
        .when(substring(m, 1, 4) <
          lit(hexThreshold(trainPermille + valPermille)), lit("val"))
        .otherwise(lit("test")))
  }

  def splitShuffle(df: DataFrame, idCol: Column, seed: String,
      trainPermille: Int = 960, valPermille: Int = 20,
      shards: Int = 8): DataFrame = {
    require(trainPermille >= 0 && valPermille >= 0 &&
      trainPermille + valPermille <= 1000,
      s"permilles must be >= 0 and sum <= 1000: $trainPermille/$valPermille")
    require(shards >= 1 && shards <= (1 << 20), s"shards out of range: $shards")
    val m = md5(concat(lit(seed), lit(":"), idCol.cast("string")))
    df.withColumn("__m", m)
      .withColumn("split",
        when(substring(col("__m"), 1, 4) < lit(hexThreshold(trainPermille)),
          lit("train"))
          .when(substring(col("__m"), 1, 4) <
            lit(hexThreshold(trainPermille + valPermille)), lit("val"))
          .otherwise(lit("test")))
      .withColumn("shard",
        (conv(substring(col("__m"), 5, 15), 16, 10).cast("long")
          % shards).cast("int"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("split"), col("shard"))
          .orderBy(col("__m"), idCol)).cast("long") - 1)
      .drop("__m")
  }
}
