package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text analysis for the training-data pipeline: language-ID (stopword
 * n-gram heuristic), quality scoring, token counting, and rolling-hash
 * document fingerprinting. All pure Catalyst (codegen'd) — no UDFs, so a
 * 10^12-row scan stays in one whole-stage-codegen map.
 */
object TextAnalysis {

  /** Top stopwords per language for the n-gram heuristic. */
  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "un", "une", "que", "dans"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein"),
    "es" -> Seq("el", "la", "los", "de", "que", "y", "en", "un", "una", "por"),
    "it" -> Seq("il", "la", "di", "che", "e", "un", "una", "per", "con", "del"))

  private def tokens(textCol: Column): Column = split(textCol, " ", -1)

  def tokenCount(textCol: Column): Column = size(tokens(textCol)).cast("long")

  /** BPE-ish subword count approximation: whitespace tokens + extra splits
    * at letter/digit/punct boundaries, counted with one regex pass. */
  def subwordCount(textCol: Column): Column =
    size(split(textCol, "[ ]|(?<=[a-z])(?=[A-Z0-9])|(?<=[0-9])(?=[a-zA-Z])|(?=[^a-zA-Z0-9 ])", -1))
      .cast("long")

  /** Stopword hit count for one language (word-boundary regex, one pass). */
  def stopwordHits(textCol: Column, lang: String): Column = {
    val pat = Stopwords(lang).mkString("\\b(", "|", ")\\b")
    size(split(textCol, pat, -1)) - 1
  }

  /** Language ID: argmax of per-language stopword hit rate; "und" when no
    * stopwords at all. Deterministic tiebreak by language code. */
  def langId(textCol: Column): Column = {
    val scored = Stopwords.keys.toSeq.sorted.map { l =>
      struct(stopwordHits(textCol, l).as("hits"), lit(l).as("lang"))
    }
    // struct max: by hits, ties broken by language code (deterministic)
    val best = array_max(array(scored: _*))
    when(best.getField("hits") <= 0, "und").otherwise(best.getField("lang"))
  }

  /** Quality score in [0,1]: weighted blend of length, mean word length,
    * space ratio and alpha ratio — the shape of a web-text quality filter
    * (exact weights are engine policy, deterministic). */
  def qualityScore(textCol: Column): Column = {
    val len = length(textCol).cast("double")
    val nTok = tokenCount(textCol).cast("double")
    val meanWordLen = (len - (nTok - 1)) / nTok
    val alpha = length(regexp_replace(textCol, "[^a-zA-Z]", "")).cast("double") / len
    val lenScore = least(len / 1000.0, lit(1.0))
    val wordLenScore = lit(1.0) - least(abs(meanWordLen - 5.0) / 5.0, lit(1.0))
    round(lit(0.4) * lenScore + lit(0.3) * wordLenScore + lit(0.3) * alpha, 6)
  }

  // ---- fused gate kernel (bit-identical to langId/qualityScore/tokenCount)
  // Round-7: the curation gate evaluated 5 stopword alternation regexes +
  // a character-class regexp_replace + 2 splits per row as separate
  // Catalyst passes (measured 0.8 s of the 1.7 s curate chain at sf0.1).
  // One loop UDF computes all three outputs in a single pass over the text
  // with the SAME regex engine (java.util.regex — what UTF8String.split
  // delegates to) and the SAME IEEE op order; TextKernelSpec asserts
  // per-row equality against the Catalyst forms, incl. the empty-text NaN.

  private lazy val stopwordPatterns: Seq[(String, java.util.regex.Pattern)] =
    Stopwords.keys.toSeq.sorted.map(l =>
      l -> java.util.regex.Pattern.compile(Stopwords(l).mkString("\\b(", "|", ")\\b")))

  /** Catalyst `round(x, 6)` for doubles (Spark guards NaN/Inf, then
    * BigDecimal half-up at scale 6). */
  private def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** One-pass (lang_id, quality, n_tokens) of a document — the fused form of
    * `langId(t)`, `qualityScore(t)`, `tokenCount(t)`. */
  private[operators] val langQualityTokensUdf = udf { (text: String) =>
    if (text == null) null
    else {
      val nTok = text.split(" ", -1).length.toLong
      // langId: argmax of stopword hits, array_max struct order = (hits,
      // lang) with the LARGER language code winning ties
      var bestHits = Long.MinValue
      var bestLang = ""
      stopwordPatterns.foreach { case (l, p) =>
        val h = (p.split(text, -1).length - 1).toLong
        if (h > bestHits || (h == bestHits && l > bestLang)) { bestHits = h; bestLang = l }
      }
      val langId = if (bestHits <= 0) "und" else bestLang
      // qualityScore: identical op sequence (lengths are CODE POINT counts,
      // like UTF8String.numChars; alpha chars are ASCII letters — exactly
      // what length(regexp_replace(t, "[^a-zA-Z]", "")) counted)
      val len = text.codePointCount(0, text.length).toDouble
      val nTokD = nTok.toDouble
      val meanWordLen = (len - (nTokD - 1)) / nTokD
      var alphaCnt = 0
      var i = 0
      while (i < text.length) {
        val c = text.charAt(i)
        if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) alphaCnt += 1
        i += 1
      }
      val alpha = alphaCnt / len
      val lenScore = math.min(len / 1000.0, 1.0)
      val wordLenScore = 1.0 - math.min(math.abs(meanWordLen - 5.0) / 5.0, 1.0)
      val quality = round6(0.4 * lenScore + 0.3 * wordLenScore + 0.3 * alpha)
      (langId, quality, nTok)
    }
  }

  /** Rolling polynomial fingerprint over word hashes:
    * fp = Σ h(w_i)·B^(n-1-i) mod P (Rabin-Karp shape, order-sensitive —
    * permuted documents get different fingerprints, unlike a bag hash).
    * `wordHash` defaults to xxhash64 (hot path); pass `Dedup.md5WordHash`
    * for a DuckDB-replicable variant (oracle parity). */
  def fingerprint(textCol: Column,
                  wordHash: Column => Column = xxhash64(_)): Column = {
    // 31-bit prime field keeps acc*B below 2^62 (no ANSI overflow):
    // fp = Σ h(w_i)·B^(n-1-i) mod P
    val P = 2147483647L // 2^31 - 1
    val B = 1000003L
    aggregate(tokens(textCol), lit(0L),
      (acc, w) => pmod(acc * B + pmod(wordHash(w), lit(P)), lit(P)))
  }

  /** Word n-grams as strings from shifted slices + zip_with — NEVER
    * element_at inside a lambda (interpreted HOFs re-evaluate the source
    * array per access: O(n²) per document, see Dedup.shingles). */
  private[operators] def wordGrams(wordsCol: Column, n: Int): Column = {
    val m = greatest(size(wordsCol) - n + 1, lit(0)) // number of windows
    val parts = (0 until n).map(j => slice(wordsCol, lit(j + 1), m))
    parts.reduce((a, b) => zip_with(a, b, (x, y) => concat_ws(" ", x, y)))
  }

  /**
   * Intra-document repetition metrics — the duplicate-text quality signals
   * a web-corpus filter thresholds on (the Gopher §A1.1 / C4 family of
   * repetition filters, re-expressed over the word sequence):
   *
   *  - `dup_word_frac`     = 1 − |distinct words| / |words|
   *  - `top_bigram`        = most frequent word bigram (count ties break to
   *                          the lexicographically smallest — deterministic)
   *  - `top_bigram_frac`   = count(top bigram)·chars(top bigram) / chars(doc)
   *  - `dup_trigram_frac`  = Σ_{trigram g: count(g) ≥ 2} count(g)·chars(g)
   *                          / chars(doc)
   *
   * Scale: one codegen'd scan explodes (doc, n, gram) rows (grams built
   * with shifted slices + zip_with, no interpreted HOF); both aggregations
   * are hash aggregates keyed by (doc, n, gram) then doc — no windows, no
   * skew beyond document length, and the text itself never rides a shuffle
   * (only grams do). The top-bigram pick is a `min(struct(−count, gram))`
   * aggregate, not a global sort.
   */
  def repetition(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = docs.select(col(idCol), col(textCol).as("__t"))
      .select(col(idCol), length(col("__t")).cast("double").as("__nc"),
        split(col("__t"), " ", -1).as("__w"))
    val wordStats = base.select(col(idCol), col("__nc"),
      size(col("__w")).cast("long").as("n_words"),
      size(array_distinct(col("__w"))).cast("long").as("__ndw"))
    val grams = base.select(col(idCol), explode(concat(
        transform(wordGrams(col("__w"), 2), g => struct(lit(2).as("n"), g.as("g"))),
        transform(wordGrams(col("__w"), 3), g => struct(lit(3).as("n"), g.as("g"))))).as("__e"))
      .select(col(idCol), col("__e.n").as("__n"), col("__e.g").as("__g"))
    val counts = grams.groupBy(col(idCol), col("__n"), col("__g"))
      .agg(count(lit(1)).as("__c"))
    val perDoc = counts.groupBy(col(idCol)).agg(
      min(when(col("__n") === 2,
        struct((-col("__c")).as("nc"), col("__g").as("g")))).as("__top"),
      sum(when(col("__n") === 3 && col("__c") >= 2,
        col("__c") * length(col("__g")).cast("long")).otherwise(0L)).as("__dupTriChars"))
    wordStats.join(perDoc, Seq(idCol), "left").select(col(idCol),
      col("n_words"),
      when(col("n_words") > 0,
        lit(1.0) - col("__ndw").cast("double") / col("n_words")).otherwise(0.0)
        .as("dup_word_frac"),
      col("__top.g").as("top_bigram"),
      when(col("__nc") > 0 && col("__top").isNotNull,
        (-col("__top.nc")).cast("double") * length(col("__top.g")) / col("__nc"))
        .otherwise(0.0).as("top_bigram_frac"),
      when(col("__nc") > 0,
        coalesce(col("__dupTriChars").cast("double"), lit(0.0)) / col("__nc"))
        .otherwise(0.0).as("dup_trigram_frac"))
  }
}
