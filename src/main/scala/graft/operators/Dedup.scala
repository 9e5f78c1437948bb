package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for a large-scale training-data pipeline over the
 * documents/pages table: exact, MinHash+LSH, SimHash, n-gram Jaccard.
 *
 * Scale design: every near-dup method is candidate-generation by equi-join
 * on a small derived key (band hash / simhash prefix / shared shingle) —
 * never an O(n²) cross join — then exact verification on the candidate
 * pairs only. Same candidate-prune + refine architecture as the spatial
 * joins (cell == band bucket).
 */
object Dedup {

  /**
   * Exact dedup: one representative (min id) per distinct text.
   *
   * Scale shape: the shuffle/grouping key is the fixed-width digest triple
   * (xxhash64(text), md5(text), length(text)) — ~56 bytes — so the
   * multi-KB text bytes NEVER ride the shuffle or sit in the aggregate
   * hash map (grouping directly by text shuffles and compares the full
   * corpus bytes; at 100 TB that is the whole corpus as grouping keys).
   * Two independent digests + the exact length make a cross-algorithm
   * collision (two DIFFERENT texts agreeing on xxhash64 AND md5 AND
   * length) ~2^-192 — negligible below ~2^64 documents, which is why this
   * is the standard practice for corpus-scale exact dedup.
   */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol) +: digest(col(textCol)): _*)
      .groupBy(DigestCols.map(col): _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_cnt"))
      .select(idCol, "dup_cnt")

  /** The exact-dedup digest triple of a text, as the [[DigestCols]]
    * columns — the one definition [[exact]] and Curation.curate group by. */
  private[operators] def digest(text: Column): Seq[Column] = Seq(
    xxhash64(text).as("__h"), md5(text.cast("binary")).as("__m"), length(text).as("__len"))
  private[operators] val DigestCols = Seq("__h", "__m", "__len")

  // ---- shingling ----------------------------------------------------------
  /**
   * Word k-shingles as 64-bit hashes: words hashed ONCE (xxhash64), windows
   * combined position-sensitively with XOR-rotate mixing (pure bitwise —
   * ANSI-safe, no overflow). O(n·k) long ops per document — no per-window
   * string slicing / concatenation / re-hashing (that interpreted path
   * measured ~10x slower).
   */
  def shingles(textCol: Column, k: Int): Column = {
    val words = split(textCol, " ", -1)
    val hw = transform(words, w => xxhash64(w))
    val m = greatest(size(words) - k + 1, lit(0)) // number of windows
    def rot(c: Column, r: Int): Column =
      if (r == 0) c else shiftleft(c, r).bitwiseOR(shiftrightunsigned(c, 64 - r))
    // window i xor-combines hw[i..i+k-1]: k shifted slices zipped — NO
    // random element_at inside a lambda (that re-evaluates the whole word
    // hashing per access: O(n^2) per document, measured 5x slower)
    val parts = (0 until k).map(j =>
      transform(slice(hw, lit(j + 1), m), h => rot(h, (j * 21) % 63)))
    parts.reduce((a, b) => zip_with(a, b, (x, y) => x.bitwiseXOR(y)))
  }

  /**
   * MinHash signature of the shingle set: minhash_i = min over shingles of
   * h_i(s) where h_i(s) = (a_i * s + b_i) mod p (64-bit arithmetic,
   * deterministic seeds). Returns ArrayType(Long) of length `numHashes`.
   *
   * This pure-Catalyst form is kept as the reference semantics (and the
   * property oracle for the fused kernel below); [[minhashLsh]] runs the
   * bit-identical single-pass loop kernel [[shingleSigUdf]] instead —
   * `numHashes` interpreted `aggregate` HOFs re-walk the shingle array once
   * per hash (measured: the signature localCheckpoint was the single
   * largest job of text_curation / curation_pipeline_e2e at 1.3 s; the
   * fused kernel computes words→hashes→windows→all signatures in one pass).
   */
  def minhashSignature(shingleCol: Column, numHashes: Int): Column = {
    // 31-bit Mersenne prime field: pmod(s,P) < 2^31 and a < 2^31 keep the
    // product below 2^62 — no overflow under ANSI arithmetic.
    val coefs = minhashCoefs(numHashes)
    array(coefs.map { case (a, b) =>
      aggregate(shingleCol, lit(Long.MaxValue),
        (acc, s) => least(acc, pmod(pmod(s, lit(P)) * a + b, lit(P))))
    }: _*)
  }

  // ---- fused JVM kernels (bit-identical to the Catalyst forms) ------------
  // House rule (CLAUDE.md): higher-order Catalyst expressions are
  // interpreted; hot paths may drop to a loop UDF ONLY with the SAME
  // left-to-right evaluation order so results are bit-identical. Everything
  // here is 64-bit integer arithmetic — no floating point at all — and
  // DedupKernelSpec asserts equality against the Catalyst forms per row.

  private val P = 2147483647L // 2^31 - 1 (Mersenne)

  /** The (a_i, b_i) coefficient sequence — shared by the Catalyst and the
    * fused kernels so both draw the identical Random(42) stream. */
  private def minhashCoefs(numHashes: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(numHashes)((math.abs(rnd.nextLong()) % (P - 1) + 1, math.abs(rnd.nextLong()) % P))
  }

  /** JVM replica of Catalyst `xxhash64(stringCol)` (seed 42, UTF-8 bytes) —
    * delegates to the engine's own interpreted hash function, so it is the
    * same implementation codegen calls. */
  private[operators] def xxWord(w: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(w),
      org.apache.spark.sql.types.StringType, 42L)

  /** JVM replica of [[md5WordHash]]: first 15 hex chars of md5(UTF-8 bytes)
    * parsed base-16 (60 bits — fits a long exactly like Catalyst `conv`). */
  private[operators] def md5Word(w: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(w.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var acc = 0L
    var i = 0
    while (i < 8) { // 15 hex chars = 7.5 bytes: 7 full bytes + high nibble of byte 7
      val b = d(i) & 0xff
      if (i < 7) acc = (acc << 8) | b else acc = (acc << 4) | (b >>> 4)
      i += 1
    }
    acc
  }

  /** Word hashes of `text.split(" ", -1)` — same split semantics as Catalyst
    * `split(col, " ", -1)` (Java regex, trailing empties kept). */
  private def wordHashes(text: String, hash: String => Long): Array[Long] = {
    val words = text.split(" ", -1)
    val out = new Array[Long](words.length)
    var i = 0
    while (i < words.length) { out(i) = hash(words(i)); i += 1 }
    out
  }

  /** Fused k-shingle kernel: identical arithmetic to [[shingles]] (XOR of
    * per-position rotations, window order preserved). */
  private def shingleArr(hw: Array[Long], k: Int): Array[Long] = {
    val m = math.max(hw.length - k + 1, 0)
    val out = new Array[Long](m)
    var w = 0
    while (w < m) {
      var acc = 0L
      var j = 0
      while (j < k) {
        val r = (j * 21) % 63
        val h = hw(w + j)
        acc ^= (if (r == 0) h else (h << r) | (h >>> (64 - r)))
        j += 1
      }
      out(w) = acc
      w += 1
    }
    out
  }

  /** Fused minhash kernel: identical arithmetic to [[minhashSignature]]
    * (pmod into the Mersenne field, left-to-right min fold). */
  private def signatureArr(sh: Array[Long], coefs: Array[(Long, Long)]): Array[Long] = {
    val sig = new Array[Long](coefs.length)
    var i = 0
    while (i < coefs.length) {
      val (a, b) = coefs(i)
      var acc = Long.MaxValue
      var j = 0
      while (j < sh.length) {
        val sp = { val m = sh(j) % P; if (m < 0) m + P else m } // pmod(s, P)
        val v = (sp * a + b) % P                                 // already >= 0
        if (v < acc) acc = v
        j += 1
      }
      sig(i) = acc
      i += 1
    }
    sig
  }

  /** One-pass (shingles, minhash signature) of a document — the fused form
    * of `shingles(text, k)` + `minhashSignature(sh, numHashes)`. */
  private[operators] def shingleSigUdf(k: Int, numHashes: Int) = {
    val coefs = minhashCoefs(numHashes).toArray
    udf { (text: String) =>
      if (text == null) null
      else {
        val sh = shingleArr(wordHashes(text, xxWord), k)
        (sh, signatureArr(sh, coefs))
      }
    }
  }

  /** One-pass distinct shingle set — the fused form of
    * `array_distinct(shingles(text, k))` (first-occurrence order, like
    * Catalyst array_distinct). */
  private[operators] def distinctShinglesUdf(k: Int) = udf { (text: String) =>
    if (text == null) null
    else {
      val sh = shingleArr(wordHashes(text, xxWord), k)
      val seen = new java.util.LinkedHashSet[java.lang.Long](sh.length * 2)
      var i = 0
      while (i < sh.length) { seen.add(sh(i)); i += 1 }
      val out = new Array[Long](seen.size)
      val it = seen.iterator()
      i = 0
      while (it.hasNext) { out(i) = it.next(); i += 1 }
      out
    }
  }

  /**
   * MinHash LSH near-duplicate pairs: signatures banded into `bands` groups
   * of `rowsPerBand`; docs sharing any band bucket become candidates
   * (equi-join on (band, bucket-hash) — shuffle on small keys, no quadratic
   * blowup); candidates verified by exact shingle-set Jaccard >= threshold.
   *
   * Recall: a pair at true jaccard j matches a band w.p. j^rowsPerBand, so
   * recall(j) = 1 − (1 − j^r)^b. Defaults 16×3 give recall(0.8) ≈ 1 − 1e-5,
   * recall(0.9) ≈ 1 − 1e-9 — the near-dup regime; pairs far below the
   * verify threshold are *meant* to be pruned.
   *
   * Returns (id_a, id_b, jaccard) with id_a < id_b, deduplicated.
   *
   * @param maxBucket hot-bucket bound (the band-join analogue of
   *   [[ngramJaccardPairs]]'s `maxDf`): a (band, bucket) cell holding more
   *   than `maxBucket` docs is dropped from candidate generation —
   *   boilerplate-heavy web corpora put thousands of near-identical docs
   *   into one band bucket, and the within-bucket self-join is quadratic in
   *   bucket size. A pair loses candidacy only if EVERY band it shares is
   *   over the cap (such docs sit in huge near-duplicate cliques where
   *   keeping one representative per bucket-cap is the intended behavior);
   *   the verify stage stays exact, so no false positives ever. None =
   *   lossless LSH recall.
   */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
                 k: Int = 3, bands: Int = 16, rowsPerBand: Int = 3,
                 threshold: Double = 0.5,
                 maxBucket: Option[Int] = None): DataFrame =
    // materialize the signature table once: the banded self-join would
    // otherwise re-evaluate the shingle + signature kernel on both join
    // sides. lshPairs filters empty sets AFTER the checkpoint: above the
    // kernel's projection the optimizer pushes such a filter into the scan
    // as size(UDF(text)._1) > 0, a second kernel run per document.
    lshPairs(sigTable(docs, idCol, textCol, k, bands * rowsPerBand).localCheckpoint(),
      bands, rowsPerBand, threshold, maxBucket)

  /** The (id, sh, sig) table [[minhashLsh]] checkpoints: the fused loop UDF
    * computes words→hashes→windows→all signatures in ONE pass
    * (bit-identical to the Catalyst shingles/minhashSignature forms —
    * DedupKernelSpec; the interpreted aggregate HOFs re-walked the shingle
    * array once per hash and were the single largest job of the curation
    * chain). */
  private[operators] def sigTable(docs: DataFrame, idCol: String, textCol: String,
                                  k: Int, numHashes: Int): DataFrame =
    docs.select(col(idCol).as("id"), shingleSigUdf(k, numHashes)(col(textCol)).as("__ss"))
      .select(col("id"), col("__ss._1").as("sh"), col("__ss._2").as("sig"))

  /** Band join + exact-Jaccard verify of [[minhashLsh]] over a materialized
    * (id, sh, sig) table; documents without a shingle take no part — the
    * one implementation behind minhashLsh and Curation.curate. */
  private[operators] def lshPairs(sigs: DataFrame, bands: Int, rowsPerBand: Int,
                                  threshold: Double, maxBucket: Option[Int]): DataFrame = {
    val withSig = sigs.where(size(col("sh")) > 0)
    // band join carries IDs ONLY — the shingle arrays (the heavy payload)
    // never ride the band shuffle; they re-attach for the verify stage
    val banded0 = withSig.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    // hot-bucket bound: the size census is one cheap count over the small
    // (band, bucket) key space; joining it back prunes degenerate buckets
    // BEFORE the quadratic within-bucket pairing
    val banded = maxBucket.fold(banded0) { cap =>
      val sizes = banded0.groupBy("band", "bucket").agg(count(lit(1)).as("__bsz"))
      banded0.join(sizes.where(col("__bsz") <= cap).select("band", "bucket"),
        Seq("band", "bucket"))
    }
    val rhs = banded.select(col("band"), col("bucket"), col("id").as("id_b"))
    val candIds = banded.join(rhs, Seq("band", "bucket"))
      .where(col("id") < col("id_b"))
      .select(col("id").as("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    val sets = withSig.select(col("id"), col("sh"))
    candIds
      .join(sets.select(col("id").as("id_a"), col("sh")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      // fused verify — bit-identical to size(array_intersect)/size(array_union)
      // + double division (DedupKernelSpec); the Catalyst collection
      // expressions are interpreted and build fresh hash sets per pair
      .withColumn("jaccard", jaccardUdf(col("sh"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Distinct-set jaccard of two long arrays — the fused form of
    * `size(array_intersect(a,b)) / size(array_union(a,b))` (distinct
    * semantics on both, |A∪B| = |A|+|B|−|A∩B|, same IEEE division). */
  private[operators] val jaccardUdf = udf { (a: Seq[Long], b: Seq[Long]) =>
    val sa = new java.util.HashSet[java.lang.Long](math.max(16, a.length * 2))
    a.foreach(sa.add(_))
    val sb = new java.util.HashSet[java.lang.Long](math.max(16, b.length * 2))
    var inter = 0
    b.foreach { x => if (sb.add(x) && sa.contains(x)) inter += 1 }
    val uni = sa.size + sb.size - inter
    inter.toDouble / uni
  }

  /** Word hash expressible in BOTH Spark and DuckDB: the top 15 hex chars of
    * md5 parsed as a 60-bit integer (Spark `conv(substr(md5,1,15),16,10)`;
    * DuckDB `CAST('0x'||substr(md5,1,15) AS BIGINT)`). Used by the oracle
    * variants of simhash/fingerprint; xxhash64 stays the default hot path
    * (one codegen'd op vs md5's digest + hex parse). */
  def md5WordHash(w: Column): Column =
    conv(substring(md5(w.cast("binary")), 1, 15), 16, 10).cast("long")

  /** 64-bit SimHash over word hashes: bit j of the hash = sign of
    * Σ_words (bit j of wordHash(word) ? +1 : -1). Word hashing stays in
    * Catalyst (xxhash64 codegen by default; md5-based for oracle parity);
    * the 64 bit-counters run in one loop UDF (the fully-Catalyst form needs
    * 64 interpreted aggregates per row — measured ~60x slower; results are
    * bit-identical). */
  private val simhashCombine = udf { (hs: Seq[Long]) =>
    val counts = new Array[Int](64)
    hs.foreach { h =>
      var j = 0
      while (j < 64) { if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1; j += 1 }
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (counts(j) > 0) out |= (1L << j); j += 1 }
    out
  }
  def simhash64(textCol: Column,
                wordHash: Column => Column = xxhash64(_)): Column =
    simhashCombine(transform(split(textCol, " ", -1), w => wordHash(w)))

  /** Word-hash selector for the fused simhash kernel: the JVM function and
    * the Catalyst column form are the same hash bit-for-bit. */
  sealed trait WordHasher { private[operators] def jvm: String => Long }
  case object XxWordHasher extends WordHasher {
    private[operators] val jvm: String => Long = xxWord
  }
  case object Md5WordHasher extends WordHasher {
    private[operators] val jvm: String => Long = md5Word
  }

  /** Fused simhash kernel: split + per-word hash + 64 bit-counters in one
    * loop (bit-identical to `simhash64(textCol, hasher)` — DedupKernelSpec;
    * the Catalyst form pays an interpreted `transform` per word). */
  private[operators] def simhashUdf(hasher: WordHasher) = {
    val h = hasher.jvm
    udf { (text: String) =>
      if (text == null) null
      else {
        val words = text.split(" ", -1)
        val counts = new Array[Int](64)
        var i = 0
        while (i < words.length) {
          val wh = h(words(i))
          var j = 0
          while (j < 64) { if (((wh >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1; j += 1 }
          i += 1
        }
        var out = 0L
        var j = 0
        while (j < 64) { if (counts(j) > 0) out |= (1L << j); j += 1 }
        java.lang.Long.valueOf(out)
      }
    }
  }

  /** SimHash near-dup pairs: candidates share one of 4 16-bit chunks
    * (any pair within Hamming distance 3 shares a chunk — pigeonhole, so
    * candidate generation is LOSSLESS for maxHamming <= 3);
    * verified by exact Hamming distance <= maxHamming.
    *
    * @param maxBucket same hot-bucket bound as [[minhashLsh]]: a 16-bit
    *   chunk value shared by more than `maxBucket` docs (near-constant
    *   boilerplate at web scale) is dropped from candidate generation; a
    *   pair loses candidacy only when ALL of its shared chunks are capped,
    *   so the pigeonhole guarantee degrades only inside degenerate cliques.
    *   Verify stays exact. None = lossless. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3,
                   wordHash: WordHasher = XxWordHasher,
                   maxBucket: Option[Int] = None): DataFrame = {
    // materialized once — never let the self-join recompute the hash per
    // side; the fused loop kernel replaces the interpreted per-word
    // transform (bit-identical, DedupKernelSpec)
    val sh = docs.select(col(idCol).as("id"), simhashUdf(wordHash)(col(textCol)).as("h"))
      .localCheckpoint()
    val chunked0 = sh.select(col("id"), col("h"),
      posexplode(array((0 until 4).map(c =>
        shiftrightunsigned(col("h"), c * 16).bitwiseAND(0xFFFFL)): _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "key")
    val chunked = maxBucket.fold(chunked0) { cap =>
      val sizes = chunked0.groupBy("chunk", "key").agg(count(lit(1)).as("__bsz"))
      chunked0.join(sizes.where(col("__bsz") <= cap).select("chunk", "key"),
        Seq("chunk", "key"))
    }
    val rhs = chunked.select(col("chunk"), col("key"), col("id").as("id_b"), col("h").as("h_b"))
    chunked.join(rhs, Seq("chunk", "key"))
      .where(col("id") < col("id_b"))
      .dropDuplicates("id", "id_b")
      .withColumn("hamming", bit_count(col("h").bitwiseXOR(col("h_b"))))
      .where(col("hamming") <= maxHamming)
      .select(col("id").as("id_a"), col("id_b"), col("hamming"))
  }

  /**
   * Exact n-gram Jaccard similarity join: inverted-index candidate
   * generation (explode distinct shingles, equi-join on shingle) — the
   * standard "shared token" candidate prune — then EXACT verify on the
   * re-attached shingle sets (so the reported jaccard never depends on
   * which postings generated the candidate).
   *
   * @param maxDf document-frequency cap on postings (prefix-filter hygiene):
   *   a shingle appearing in more than `maxDf` docs is dropped from the
   *   INDEX — without a cap, one ubiquitous shingle ("lorem ipsum…") makes
   *   the posting-list self-join quadratic in its df. Candidates are then
   *   pairs sharing at least one sub-cap shingle; a pair whose ENTIRE
   *   intersection is capped shingles is missed — acceptable at web scale
   *   (ubiquitous shingles carry no pair information), and None = exact.
   */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, threshold: Double = 0.3,
                        maxDf: Option[Int] = None): DataFrame = {
    // one materialization feeds postings (+ verify); filtered after it, so
    // the kernel runs once per document (see minhashLsh)
    val sets = shingleSets(docs, idCol, textCol, k).localCheckpoint()
      .where(size(col("sh")) > 0)
      .withColumn("sz", size(col("sh")))
    maxDf match {
      case None =>
        // EXACT path: postings carry (id, sz) only; the intersection size is
        // the co-occurrence count, so no pair-level shingle re-attach at all
        val inv = sets.select(col("id"), col("sz"), explode(col("sh")).as("g"))
        val rhs = inv.select(col("g"), col("id").as("id_b"), col("sz").as("sz_b"))
        inv.join(rhs, Seq("g"))
          .where(col("id") < col("id_b"))
          .groupBy(col("id").as("id_a"), col("id_b"))
          .agg(count(lit(1)).as("inter"), first("sz").as("sz_a"), first("sz_b").as("sz_b2"))
          .withColumn("jaccard",
            col("inter").cast("double") / (col("sz_a") + col("sz_b2") - col("inter")))
          .where(col("jaccard") >= threshold)
          .select("id_a", "id_b", "jaccard")
      case Some(cap) =>
        // CAPPED path (skew bound): co-occurrence counts over capped postings
        // UNDER-count, so candidates are id pairs only and the jaccard comes
        // from an exact verify on re-attached sets. A pair whose entire
        // intersection is capped shingles is missed — acceptable at web
        // scale (ubiquitous shingles carry no pair information).
        val inv0 = sets.select(col("id"), explode(col("sh")).as("g"))
        val df = inv0.groupBy("g").agg(count(lit(1)).as("__df"))
        val inv = inv0.join(df.where(col("__df") <= cap).select("g"), Seq("g"))
        val rhs = inv.select(col("g"), col("id").as("id_b"))
        val candIds = inv.join(rhs, Seq("g"))
          .where(col("id") < col("id_b"))
          .select(col("id").as("id_a"), col("id_b"))
          .dropDuplicates("id_a", "id_b")
        candIds
          .join(sets.select(col("id").as("id_a"), col("sh")), Seq("id_a"))
          .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
          // sets are already distinct, so |A|+|B|−|A∩B| equals the previous
          // size(sh)+size(sh_b)−inter denominator — fused verify, same IEEE
          // division (DedupKernelSpec)
          .withColumn("jaccard", jaccardUdf(col("sh"), col("sh_b")))
          .where(col("jaccard") >= threshold)
          .select("id_a", "id_b", "jaccard")
    }
  }

  /** The (id, sh) distinct-shingle table [[ngramJaccardPairs]] checkpoints —
    * fused loop kernel, bit-identical to array_distinct(shingles(text, k))
    * (DedupKernelSpec). */
  private[operators] def shingleSets(docs: DataFrame, idCol: String, textCol: String,
                                     k: Int): DataFrame =
    docs.select(col(idCol).as("id"), distinctShinglesUdf(k)(col(textCol)).as("sh"))

  /**
   * Cross-document repeated-SPAN removal — the substring-level dedup of
   * Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
   * Better"), word-granular: any word covered by an n-gram window that
   * occurs in >= `minDf` distinct documents is cut, and the survivors are
   * re-joined in order. A repeated span of length >= n words shares ALL its
   * n-gram windows, so the whole span is removed from every carrier —
   * memorized boilerplate passages, license blocks, syndicated paragraphs —
   * while the documents' unique text survives (unlike document-level dedup,
   * which keeps or drops whole pages).
   *
   * Scale shape (the removeBoilerplateLines argument at n-gram granularity):
   * exploded rows carry (id, start, xxhash64(gram), length(gram)) — fixed
   * width, gram BYTES never ride a shuffle; document frequency is a
   * distinct+count on the digest pair (a viral passage is ONE df row
   * however many billions of pages quote it); hits come back by LEFT SEMI
   * on the digest; covered positions explode n rows per hit (bounded by
   * n × doc length), dedupe, and mask the doc's own word array with one
   * positional filter. Every stage is an equi-shuffle on fixed-width keys.
   */
  def removeRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                          n: Int, minDf: Long): DataFrame = {
    require(n >= 2, "span window must be >= 2 words")
    require(minDf >= 2, "minDf < 2 would cut every word of every document")
    val base = docs.select(col(idCol), split(col(textCol), " ", -1).as("__w"))
    val grams = base.select(col(idCol),
        posexplode(TextAnalysis.wordGrams(col("__w"), n)).as(Seq("__p", "__g")))
      .select(col(idCol), col("__p"),
        xxhash64(col("__g")).as("__h"), length(col("__g")).as("__len"))
    val repeated = grams.select(col(idCol), col("__h"), col("__len")).distinct()
      .groupBy("__h", "__len").agg(count(lit(1)).as("__df"))
      .where(col("__df") >= minDf).select("__h", "__len")
    val covered = grams.join(repeated, Seq("__h", "__len"), "left_semi")
      .select(col(idCol), explode(sequence(col("__p"), col("__p") + (n - 1))).as("__pos"))
      .distinct()
      .groupBy(idCol).agg(collect_list(col("__pos")).as("__rm"))
    base.join(covered, Seq(idCol), "left")
      .withColumn("__rm", coalesce(col("__rm"), array().cast("array<int>")))
      .select(col(idCol),
        size(col("__w")).cast("long").as("n_words"),
        size(col("__rm")).cast("long").as("n_removed"),
        array_join(filter(col("__w"),
          (_, i) => !array_contains(col("__rm"), i)), " ").as("clean_text"))
  }

  /**
   * Transitive near-dup clustering + canonical-survivor selection — the
   * cluster-level dedup semantics of large corpus pipelines: near-dup PAIRS
   * (from [[minhashLsh]] / [[simhashPairs]] / [[ngramJaccardPairs]] /
   * Similarity.cosinePairs) define an undirected graph; every connected
   * component is one duplicate cluster and its MINIMUM id is the canonical
   * survivor. This differs from Curation.curate's one-pass greedy rule
   * (drop the larger id of every pair): a transitive chain a~b~c with no
   * (a,c) pair keeps ONLY a here, while the greedy rule keeps a AND drops
   * b,c — same drop-set on cliques, different on chains.
   *
   * Scale: the graph is ids-only (pairs are the already-bounded output of a
   * banded candidate join — document text never rides any shuffle here);
   * components run pointer-jumped min-label propagation (O(log diameter)
   * rounds, [[ConnectedComponents.run]]); the size join is keyed by the
   * cluster label.
   *
   * @return one row per input doc:
   *         (idCol, cluster = min id of its component,
   *          keep = id == cluster, cluster_size)
   */
  def clusters(docs: DataFrame, idCol: String, pairs: DataFrame,
               aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val comp = ConnectedComponents.run(docs.select(col(idCol)), idCol,
      pairs.select(col(aCol), col(bCol)), aCol, bCol)
    val sizes = comp.groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, Seq("component"))
      .select(col("id").as(idCol), col("component").as("cluster"),
        (col("id") === col("component")).as("keep"), col("cluster_size"))
  }
}
