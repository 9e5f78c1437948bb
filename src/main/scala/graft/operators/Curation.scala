package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Training-data curation — the composition a web-scale corpus pipeline runs
 * end-to-end over the documents table:
 *
 *   1. EXACT dedup: one representative (min id) per identical text;
 *   2. NEAR-dup removal among representatives: MinHash-LSH candidate pairs
 *      verified by exact shingle jaccard; the greedy survivor rule keeps
 *      the smaller id of every pair (drop every id that appears as the
 *      larger side — deterministic, one anti-join, no iterative clustering);
 *   3. language + quality gate: keep `lang` documents at quality >= cutoff.
 *
 * Every stage is one of the engine's bucketed operators (no all-pairs
 * anywhere); the output carries the quality/language/token columns a
 * downstream sampler needs.
 */
object Curation {

  /** Reads the text once: one projection over `docs` computes the
    * [[Dedup.digest]] triple, the fused shingle/signature kernel and the
    * fused gate kernel (bit-identical to the Catalyst
    * langId/qualityScore/tokenCount, TextKernelSpec), and is checkpointed.
    * Every stage after it works on those attributes: no text rides a join
    * or a shuffle, and each kernel runs once per document (CurationSpec).
    * The checkpoint sits on a projection of `docs`, so later joins plan from
    * a scan-sized estimate and can broadcast (a checkpoint of a join
    * carries the join's product estimate, and every join after it falls
    * back to sort-merge, shuffling the shingle arrays).
    *
    * @param maxBucket LSH hot-bucket census cap, passed through to
    *   [[Dedup.lshPairs]] — at corpus scale this is load-bearing
    *   (historical: the since-deleted CorpusProbe main measured 201 s
    *   uncapped vs 19 s at cap 64 with identical output pairs on a
    *   boilerplate-heavy 200k-doc corpus);
    *   None = lossless recall (fixture/oracle default). */
  def curate(docs: DataFrame, idCol: String, textCol: String,
             lang: String, minQuality: Double,
             k: Int = 3, bands: Int = 16, rowsPerBand: Int = 3,
             jaccardThreshold: Double = 0.4,
             maxBucket: Option[Int] = None): DataFrame = {
    val t = col(textCol)
    val perDoc = docs
      .select(Seq(col(idCol).as("id")) ++ Dedup.digest(t) ++ Seq(
        Dedup.shingleSigUdf(k, bands * rowsPerBand)(t).as("__ss"),
        TextAnalysis.langQualityTokensUdf(t).as("__g")): _*)
      .select(Seq(col("id")) ++ Dedup.DigestCols.map(col) ++ Seq(
        col("__ss._1").as("sh"), col("__ss._2").as("sig"), col("__g._1").as("lang_id"),
        col("__g._2").as("quality"), col("__g._3").as("n_tokens")): _*)
      .localCheckpoint()
    // 1. exact dedup: the min id of each digest group represents it
    val reps = perDoc.join(
      perDoc.groupBy(Dedup.DigestCols.map(col): _*).agg(min(col("id")).as("id")),
      Seq("id"), "left_semi")
    // 2. near-dup pairs among representatives; drop the larger id of each
    val near = Dedup.lshPairs(reps.select("id", "sh", "sig"),
      bands, rowsPerBand, jaccardThreshold, maxBucket)
    // 3. language + quality gate
    reps.join(near.select(col("id_b").as("id")), Seq("id"), "left_anti")
      .where(col("lang_id") === lang && col("quality") >= minQuality)
      .select(col("id").as(idCol), col("lang_id"), col("quality"), col("n_tokens"))
  }

  /**
   * Benchmark decontamination — the eval-set overlap filter every serious
   * training corpus runs (the GPT-3 appendix-C / PaLM / Llama "13-gram
   * overlap" rule): a training document is CONTAMINATED when it shares any
   * word n-gram with the benchmark corpus. Returns the training rows with
   * a `contaminated` boolean (the caller drops or quarantines).
   *
   * Scale: benchmark corpora are tiny (eval sets, ~MBs) next to the
   * training corpus, so the benchmark's distinct gram set BROADCASTS; the
   * training side explodes per-doc distinct (id, gram) rows that are
   * filtered map-side by a broadcast LEFT SEMI join — the text never rides
   * a shuffle and the grams die in the map stage; only the surviving
   * contaminated-id set (≤ one row per training doc) aggregates, then a
   * broadcast-able left join re-attaches the flag. Grams are built with
   * shifted slices + zip_with (TextAnalysis.wordGrams — no interpreted-HOF
   * O(n²) re-evaluation).
   */
  def decontaminate(train: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, n: Int = 13): DataFrame = {
    require(n >= 1, "n-gram order must be >= 1")
    def grams(df: DataFrame, cols: Column*) = df.select(cols :+
      explode(array_distinct(TextAnalysis.wordGrams(
        split(col(textCol), " ", -1), n))).as("__gram"): _*)
    val benchGrams = grams(benchmark).select("__gram").distinct()
    val hits = grams(train, col(idCol))
      .join(broadcast(benchGrams), Seq("__gram"), "left_semi")
      .select(idCol).distinct()
      .withColumn("contaminated", lit(true))
    train.join(hits, Seq(idCol), "left")
      .withColumn("contaminated", coalesce(col("contaminated"), lit(false)))
  }

  /**
   * Line-level boilerplate removal — the RefinedWeb/CCNet stage that strips
   * lines repeated across the corpus (cookie banners, nav bars, copyright
   * footers) while preserving every document's remaining line ORDER. A line
   * is boilerplate iff it occurs in >= `minDf` distinct documents; the
   * output keeps the survivors re-joined with `joiner` plus the per-doc
   * removal counts a quality dashboard wants.
   *
   * Scale shape: the exploded rows carry (id, pos, xxhash64(line),
   * length(line)) — fixed width, the line BYTES never ride a shuffle (the
   * Dedup.exact digest argument: a cross-doc collision needs xxhash64 AND
   * length to agree, negligible below corpus scale and only ever merges df
   * counts upward). Document frequency is a distinct+count on that digest
   * pair; the boilerplate digest set joins back LEFT SEMI on (hash, len) —
   * ids+positions only — and reassembly is one positional array `filter`
   * over the doc's own lines (no element_at into a lambda-built array).
   * Nothing here funnels: every stage is an equi-shuffle on fixed-width
   * keys, and a viral boilerplate line's df row is ONE row however many
   * billions of pages carry it.
   *
   * @param linesCol array<string> column of the document's lines, in order
   *                 (callers segment — by '\n' for real pages, positionally
   *                 for unsegmented text)
   */
  def removeBoilerplateLines(docs: DataFrame, idCol: String, linesCol: String,
                             minDf: Long, joiner: String = "\n"): DataFrame = {
    require(minDf >= 2, "minDf < 2 would remove every line of every document")
    val ex = docs
      .select(col(idCol), posexplode(col(linesCol)).as(Seq("__pos", "__line")))
      .select(col(idCol), col("__pos"),
        xxhash64(col("__line")).as("__h"), length(col("__line")).as("__len"))
    val boiler = ex.select(col(idCol), col("__h"), col("__len")).distinct()
      .groupBy("__h", "__len").agg(count(lit(1)).as("__df"))
      .where(col("__df") >= minDf).select("__h", "__len")
    val removed = ex.join(boiler, Seq("__h", "__len"), "left_semi")
      .groupBy(idCol).agg(collect_list(col("__pos")).as("__rm"))
    docs.join(removed, Seq(idCol), "left")
      .withColumn("__rm", coalesce(col("__rm"), array().cast("array<int>")))
      .select(col(idCol),
        size(col(linesCol)).cast("long").as("n_lines"),
        size(col("__rm")).cast("long").as("n_removed"),
        array_join(filter(col(linesCol),
          (_, i) => !array_contains(col("__rm"), i)), joiner).as("clean_text"))
  }

  /**
   * Gopher-style repetition-free quality rules (the Rae et al. 2021
   * appendix-A1 document filter, the rule family C4/Dolma/FineWeb reuse):
   * per-document boolean flags for each rule plus the combined verdict, so
   * a pipeline can either hard-filter on `gopher_pass` or audit which rule
   * fires where. Thresholds default to the published values and are all
   * parameters (real deployments tune per corpus).
   *
   * Rules: word count in [minWords, maxWords]; mean word length (non-space
   * chars / words) in [minMeanWordLen, maxMeanWordLen]; symbol-to-word
   * ratio ('#' or '...') <= maxSymbolRatio; fraction of lines starting
   * with a bullet ('-', '*', '•' + space) <= maxBulletFrac; fraction of
   * lines ending in '...' <= maxEllipsisFrac; fraction of words containing
   * an alphabetic character >= minAlphaWordFrac; and at least
   * `minStopwordHits` occurrences of the 8 required English stopwords.
   *
   * Scale: two stacked codegen'd projections on one scan — counts first
   * (regexp_count passes plus one O(words) array filter), flags second
   * (so each count is an attribute, not a re-embedded tree). No UDF, no
   * shuffle, no aggregation; a 10^12-row corpus stays in one map stage.
   * Words split on space/newline; lines on newline.
   */
  def gopherQuality(docs: DataFrame, idCol: String, textCol: String,
                    minWords: Long = 50, maxWords: Long = 100000,
                    minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                    maxSymbolRatio: Double = 0.1,
                    maxBulletFrac: Double = 0.9, maxEllipsisFrac: Double = 0.3,
                    minAlphaWordFrac: Double = 0.8,
                    minStopwordHits: Long = 2): DataFrame = {
    val t = col(textCol)
    val words = split(t, "[ \n]", -1)
    val counts = docs.select(col(idCol),
      size(words).cast("long").as("__nw"),
      size(split(t, "\n", -1)).cast("long").as("__nl"),
      length(regexp_replace(t, "[ \n]", "")).cast("long").as("__wc"),
      regexp_count(t, lit("#|\\.\\.\\.")).cast("long").as("__sym"),
      regexp_count(t, lit("(^|\n)[-*•] ")).cast("long").as("__bul"),
      regexp_count(t, lit("\\.\\.\\.(\n|$)")).cast("long").as("__ell"),
      size(filter(words, w => w.rlike("[A-Za-z]"))).cast("long").as("__alpha"),
      regexp_count(t, lit("\\b(the|be|to|of|and|that|have|with)\\b"))
        .cast("long").as("__stop"))
    val nw = col("__nw").cast("double")
    val nl = col("__nl").cast("double")
    val mean = col("__wc").cast("double") / nw
    counts.select(col(idCol),
        col("__nw").as("n_words"),
        round(mean, 6).as("mean_word_len"),
        (col("__nw") >= minWords && col("__nw") <= maxWords).as("pass_word_count"),
        (mean >= minMeanWordLen && mean <= maxMeanWordLen).as("pass_mean_word_len"),
        (col("__sym").cast("double") / nw <= maxSymbolRatio).as("pass_symbol_ratio"),
        (col("__bul").cast("double") / nl <= maxBulletFrac).as("pass_bullet_lines"),
        (col("__ell").cast("double") / nl <= maxEllipsisFrac).as("pass_ellipsis_lines"),
        (col("__alpha").cast("double") / nw >= minAlphaWordFrac).as("pass_alpha_words"),
        (col("__stop") >= minStopwordHits).as("pass_stopwords"))
      .withColumn("gopher_pass",
        col("pass_word_count") && col("pass_mean_word_len") &&
        col("pass_symbol_ratio") && col("pass_bullet_lines") &&
        col("pass_ellipsis_lines") && col("pass_alpha_words") &&
        col("pass_stopwords"))
  }

  /**
   * Sequence packing for training prep — the step that concatenates a
   * shard's documents in a stable order and cuts the token stream at
   * context-length boundaries. For each document: its exclusive cumulative
   * token offset within the shard (`token_start`), the first and last
   * `capacity`-token bin its tokens land in (a document may straddle bins —
   * exactly how context-window packing behaves), and its offset inside the
   * first bin. Deterministic: same corpus → same packing, every rerun.
   *
   * Scale: ONE keyed window (partitionBy shard, orderBy id) — the cumsum
   * distributes across shards, and callers choose shard granularity
   * (language × source × dump-date at corpus scale: thousands of shards,
   * each bounded) so no task sees more than a shard. Integer arithmetic
   * throughout (`div`/`pmod`), no doubles to disagree at 10^15 tokens.
   */
  def packSequences(docs: DataFrame, idCol: String, tokensCol: Column,
                    shardCol: Column, capacity: Long): DataFrame = {
    require(capacity >= 1, "bin capacity must be >= 1 token")
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col(idCol), shardCol.as("shard"), tokensCol.cast("long").as("n_tokens"))
      .withColumn("token_start", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col(idCol), col("shard"), col("n_tokens"), col("token_start"),
        expr(s"token_start div ${capacity}L").as("bin_first"),
        expr(s"(token_start + greatest(n_tokens, 1L) - 1L) div ${capacity}L")
          .as("bin_last"),
        pmod(col("token_start"), lit(capacity)).as("offset_in_bin"))
  }

  /**
   * Deterministic per-stratum hash sampling — the corpus-rebalancing step
   * (CCNet-style language quotas): a row survives iff its stable hash
   * bucket falls under its stratum's per-mille rate. The hash is the
   * md5-prefix uniform (Dedup.md5WordHash — 60 bits, DuckDB-replicable),
   * so the SAME rows survive on every engine and every rerun — sampling is
   * a pure filter, reproducible across pipeline versions.
   *
   * Scale: one codegen'd scan — no shuffle, no sort, no per-stratum
   * count pass (the rate map is a tiny `typedLit` literal; exact-count
   * quotas would need a global rank per stratum — this is the form that
   * survives 10^12 rows). Unknown strata fall back to `defaultPerMille`.
   *
   * @param keyCol stable row key the bucket is derived from (e.g. the id
   *               or canonical url — NOT the text, so near-identical docs
   *               sample independently)
   */
  def sampleByHash(docs: DataFrame, keyCol: Column, strataCol: Column,
                   ratesPerMille: Map[String, Int],
                   defaultPerMille: Int): DataFrame = {
    require((ratesPerMille.values ++ Seq(defaultPerMille)).forall(r => r >= 0 && r <= 1000),
      "per-mille rates must be in [0, 1000]")
    val bucket = pmod(Dedup.md5WordHash(keyCol.cast("string")), lit(1000L))
    val rate = coalesce(
      try_element_at(typedLit(ratesPerMille), strataCol.cast("string")),
      lit(defaultPerMille))
    docs.withColumn("sample_bucket", bucket).where(col("sample_bucket") < rate)
  }
}
