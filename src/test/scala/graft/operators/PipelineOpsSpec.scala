package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.fixtures.GeoFixture
import graft.index.CellGrid

/** Training-data pipeline operators vs brute-force oracles on synthetic docs. */
class PipelineOpsSpec extends SparkTestBase {

  /** Synthetic corpus with planted near-duplicates. */
  lazy val docs = {
    import spark.implicits._
    val base = (0 until 60).map { i =>
      val words = (0 until 30).map(j => s"w${(i * 7 + j * 13) % 97}")
      (i.toLong, words.mkString(" "))
    }
    // planted near-dups: doc 100+i = doc i with one word changed
    val nearDups = (0 until 10).map { i =>
      val words = (0 until 30).map(j => if (j == 15) "CHANGED" else s"w${(i * 7 + j * 13) % 97}")
      ((100 + i).toLong, words.mkString(" "))
    }
    // planted exact dups
    val exactDups = Seq((200L, base(0)._2), (201L, base(1)._2))
    (base ++ nearDups ++ exactDups).toDF("doc_id", "text")
  }

  def bruteJaccard(k: Int): Map[(Long, Long), Double] = {
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    def sh(t: String) = t.split(" ").sliding(k).map(_.mkString(" ")).toSet
    (for {
      (ia, ta) <- rows; (ib, tb) <- rows if ia < ib
      sa = sh(ta); sb = sh(tb)
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size
    } yield (ia, ib) -> j).toMap
  }

  test("exact dedup finds planted duplicates") {
    import spark.implicits._
    val out = Dedup.exact(docs, "doc_id", "text")
    assert(out.count() == 70) // 72 docs, 2 exact dups collapse
    val reps = out.where(col("dup_cnt") === 2).select("doc_id").as[Long].collect().toSet
    assert(reps == Set(0L, 1L))
  }

  test("ngramJaccardPairs matches brute force exactly") {
    import spark.implicits._
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.3)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val expected = bruteJaccard(3).filter(_._2 >= 0.3)
    assert(got.keySet == expected.keySet)
    got.foreach { case (k2, j) => assert(math.abs(j - expected(k2)) < 1e-12) }
  }

  test("ngramJaccardPairs maxDf cap: hot shingles bounded, surviving pairs exact") {
    import spark.implicits._
    // one ubiquitous suffix gives two trigrams df = N: uncapped, every pair
    // of the corpus shares them; the cap drops them from the postings while
    // the verify stage keeps the jaccard of every surviving pair exact
    val hot = docs.withColumn("text", concat(col("text"), lit(" zzqa zzqb zzqc zzqd")))
    def pairs(maxDf: Option[Int]): Map[(Long, Long), Double] =
      Dedup.ngramJaccardPairs(hot, "doc_id", "text", k = 3, threshold = 0.0, maxDf = maxDf)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
        .map { case (a, b, j) => (a, b) -> j }.toMap
    val uncapped = pairs(None)
    val capped = pairs(Some(8))
    val n = docs.count()
    assert(uncapped.size == n * (n - 1) / 2)
    assert(capped.nonEmpty && capped.size < uncapped.size)
    capped.foreach { case (p, j) => assert(uncapped.get(p).contains(j), s"pair $p") }
    val planted = (0L until 10L).map(i => (i, 100L + i)) ++ Seq((0L, 200L), (1L, 201L))
    planted.foreach(p => assert(capped.get(p).exists(_ >= 0.8), s"lost planted $p"))
  }

  test("minhashLsh: near-certain recall at j>=0.8 (16 bands x 2 rows), exact precision") {
    import spark.implicits._
    val brute = bruteJaccard(3)
    // banding probability: P(detect) = 1-(1-j^r)^b; at j=0.8, r=2, b=16 -> ~1-1e-7
    val got = Dedup.minhashLsh(docs, "doc_id", "text", k = 3, bands = 16, rowsPerBand = 2,
      threshold = 0.5).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val mustFind = brute.filter(_._2 >= 0.8).keySet // planted near-dups + exact dups
    assert(mustFind.nonEmpty)
    mustFind.foreach(p => assert(got.contains(p), s"missing planted pair $p"))
    // precision is exact: the verification step recomputes true jaccard
    got.foreach(p => assert(brute(p) >= 0.5))
  }

  test("hot-bucket cap: boilerplate clique is bounded, normal pairs unaffected") {
    import spark.implicits._
    // 500 identical boilerplate docs + the normal corpus: uncapped, the
    // clique alone yields 500*499/2 ~ 125k candidate pairs per band; capped
    // at 100, every boilerplate band bucket (size 500) drops out entirely
    val boiler = (1000 until 1500).map(i => (i.toLong, "lorem ipsum dolor " * 10))
    val mixed = docs.union(boiler.toDF("doc_id", "text"))
    val capped = Dedup.minhashLsh(mixed, "doc_id", "text", k = 3, bands = 16,
      rowsPerBand = 2, threshold = 0.5, maxBucket = Some(100))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // no boilerplate pair survives candidate generation (all its buckets are hot)
    assert(!capped.exists { case (a, b) => a >= 1000L && b >= 1000L })
    // the planted normal near-dup pairs are untouched (their buckets are tiny)
    val brute = bruteJaccard(3)
    brute.filter(_._2 >= 0.8).keySet.foreach(p => assert(capped.contains(p), s"lost $p"))
    // a cap ABOVE the clique size keeps the clique's pairs (lossless regime)
    val loose = Dedup.minhashLsh(mixed, "doc_id", "text", k = 3, bands = 16,
      rowsPerBand = 2, threshold = 0.5, maxBucket = Some(1000))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(loose.contains((1000L, 1001L)))
    // simhash: same cap discipline
    val simCapped = Dedup.simhashPairs(mixed, "doc_id", "text", maxHamming = 3,
      maxBucket = Some(100)).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!simCapped.exists { case (a, b) => a >= 1000L && b >= 1000L })
    assert(simCapped.contains((0L, 200L)) && simCapped.contains((1L, 201L)))
  }

  test("simhashPairs: identical docs have hamming 0; verified pairs respect bound") {
    import spark.implicits._
    val got = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Long)].collect()
    val pairs = got.map(t => (t._1, t._2)).toSet
    assert(pairs.contains((0L, 200L)) && pairs.contains((1L, 201L)))
    got.foreach(t => assert(t._3 <= 3))
  }

  test("brute-force cosine topk matches local computation") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where(col("vec_id") === 7)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val got = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, 5)
      .orderBy("rank").select("vec_id").as[Long].collect()
    // local oracle
    val all = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val q = all.find(_._1 == 7L).get._2.map(_.toDouble)
    def cos(a: Array[Float]) = {
      val ad = a.map(_.toDouble)
      val d = ad.zip(q).map { case (x, y) => x * y }.sum
      d / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(q.map(x => x * x).sum))
    }
    val expected = all.filter(_._1 != 7L).map { case (id, v) => (id, cos(v)) }
      .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1)
    assert(got.toSeq == expected.toSeq)
  }

  test("IVF topk: recall vs brute force >= 0.6 with 4/16 probes") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where(col("vec_id").isin(7L, 42L, 99L))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, 10)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", queries, 10,
      numCentroids = 16, nProbe = 6)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF recall $recall too low")
    // one Lloyd refinement pass keeps recall in the same band (the scale
    // benefit is bucket BALANCE on clustered data, not recall on uniform
    // synthetic vectors) and stays fully deterministic
    val refined = Similarity.ivfTopK(emb, "vec_id", "embedding", queries, 10,
      numCentroids = 16, nProbe = 6, refineIterations = 1)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val refinedRecall = exact.intersect(refined).size.toDouble / exact.size
    assert(refinedRecall >= 0.6, s"refined IVF recall $refinedRecall too low")
    val refined2 = Similarity.ivfTopK(emb, "vec_id", "embedding", queries, 10,
      numCentroids = 16, nProbe = 6, refineIterations = 1)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    assert(refined2 == refined) // deterministic across runs
  }

  /** The text-stats fields this test reads, one projection over `text`. */
  private def analyze(docs: org.apache.spark.sql.DataFrame) =
    docs.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"),
      TextAnalysis.langId(col("text")).as("lang_id"),
      TextAnalysis.fingerprint(col("text")).as("fingerprint"))

  test("text analysis: deterministic fields and langId on real stopwords") {
    import spark.implicits._
    val sample = Seq(
      (1L, "the cat and the dog sat in the garden for a while"),
      (2L, "le chat et le chien dans le jardin avec une fleur"),
      (3L, "zz qq xx yy")).toDF("doc_id", "text")
    val out = analyze(sample).collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1).getAs[String]("lang_id") == "en")
    assert(out(2).getAs[String]("lang_id") == "fr")
    assert(out(3).getAs[String]("lang_id") == "und")
    assert(out(1).getAs[Long]("n_tokens") == 12)
    // fingerprint is order-sensitive
    val fp = analyze(Seq((1L, "a b c"), (2L, "c b a")).toDF("doc_id", "text"))
      .select("fingerprint").as[Long].collect()
    assert(fp(0) != fp(1))
  }

  test("multimodal: batched feature extraction preserves rows, schema, determinism") {
    val media = Multimodal.synthMedia(spark, 500)
    val f1 = Multimodal.extractFeatures(media, dim = 16, batchSize = 64)
    assert(f1.count() == 500)
    val r = f1.filter(_.mediaId == 123L).head()
    assert(r.kind == "image" && r.features.length == 16)
    val f2 = Multimodal.extractFeatures(media, dim = 16, batchSize = 7)
    // batch size must not change results
    assert(f1.collect().map(x => (x.mediaId, x.features.toSeq)).toMap ==
      f2.collect().map(x => (x.mediaId, x.features.toSeq)).toMap)
  }

  test("dedup clusters: transitive chains collapse to one survivor") {
    import spark.implicits._
    val d = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // chain 1~2~3 (no 1~3 pair) + pair 5~6 + singleton 4
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val out = Dedup.clusters(d, "doc_id", pairs)
      .select("doc_id", "cluster", "keep", "cluster_size")
      .as[(Long, Long, Boolean, Long)].collect().toSet
    assert(out == Set((1L, 1L, true, 3L), (2L, 1L, false, 3L), (3L, 1L, false, 3L),
      (4L, 4L, true, 1L), (5L, 5L, true, 2L), (6L, 5L, false, 2L)))
    // the greedy pair rule (Curation) would KEEP doc 2 on this chain —
    // cluster semantics drops it: assert the semantic difference is real
    val greedyKept = Set(1L, 2L, 3L) --
      pairs.select("id_b").as[Long].collect().toSet
    assert(greedyKept == Set(1L))  // (2 survives greedy only when (1,2) absent)
    val clusterKept = out.filter(_._3).map(_._1)
    assert(clusterKept == Set(1L, 4L, 5L))
  }

  test("repetition metrics match hand computation incl. tie-break") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b a b c"),          // 5 words, 3 distinct; top bigram "a b" x2
      (2L, "x y x y x y"),        // bigram "x y" x3; dup trigrams 2x"x y x"+2x"y x y"
      (3L, "a b c d a b c d"),    // count-2 tie among "a b","b c","c d" -> "a b"
      (4L, "solo")                // no bigrams at all
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetition(d, "doc_id", "text")
      .select("doc_id", "n_words", "dup_word_frac", "top_bigram",
        "top_bigram_frac", "dup_trigram_frac")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), Option(r.getString(3)), r.getDouble(4), r.getDouble(5)))
      .toMap
    assert(out(1L) == ((5L, 1.0 - 3.0 / 5, Some("a b"), 2 * 3 / 9.0, 0.0)))
    assert(out(2L) == ((6L, 1.0 - 2.0 / 6, Some("x y"), 3 * 3 / 11.0, (2 * 5 + 2 * 5) / 11.0)))
    assert(out(3L) == ((8L, 1.0 - 4.0 / 8, Some("a b"), 2 * 3 / 15.0,
      (2 * 5 + 2 * 5) / 15.0)))  // dup trigrams: 2x"a b c" + 2x"b c d"
    assert(out(4L) == ((1L, 0.0, None, 0.0, 0.0)))
  }

  test("url canonicalization: hand cases incl. ports, params, fragment") {
    import spark.implicits._
    val cases = Seq(
      ("HTTPS://WWW.Ex.COM:443/A/b/?z=1&utm_source=t&a=2#f", "https://ex.com/A/b?a=2&z=1"),
      ("http://ex.com:80/", "http://ex.com/"),          // default port + root path
      ("http://ex.com:8080/x", "http://ex.com:8080/x"), // non-default port kept
      ("https://ex.com", "https://ex.com/"),            // empty path -> "/"
      ("https://ex.com/p?ref=nav&fbclid=q", "https://ex.com/p"), // all params tracked
      ("https://sub.www.ex.com/p", "https://sub.www.ex.com/p"))  // inner www kept
    val out = cases.map(_._1).toDF("url")
      .select(col("url"), UrlOps.canonicalize(col("url")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (raw, want) => assert(out(raw) == want, raw) }
  }

  test("url canonicalize is idempotent on structured-random urls") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val urls = (0 until 200).map { _ =>
      val scheme = Seq("http", "HTTP", "https", "HTTPS")(rnd.nextInt(4))
      val www = if (rnd.nextBoolean()) "www." else ""
      val host = s"$www${Seq("Ex", "site", "A-b")(rnd.nextInt(3))}${rnd.nextInt(9)}.tEsT"
      val port = Seq("", ":80", ":443", ":8080")(rnd.nextInt(4))
      val path = Seq("", "/", "/P/x", "/a/b/c/")(rnd.nextInt(4))
      val params = (0 until rnd.nextInt(4)).map(_ =>
        Seq("a=1", "z=9", "utm_source=t", "fbclid=q", "b=2")(rnd.nextInt(5)))
      val q = if (params.isEmpty) "" else params.mkString("?", "&", "")
      val frag = if (rnd.nextBoolean()) "#sec" else ""
      s"$scheme://$host$port$path$q$frag"
    }
    val out = urls.toDF("url")
      .select(UrlOps.canonicalize(col("url")).as("c1"))
      .select(col("c1"), UrlOps.canonicalize(col("c1")).as("c2"))
      .collect()
    out.foreach(r => assert(r.getString(0) == r.getString(1), r.getString(0)))
  }

  test("dedup clusters match brute-force union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val n = 120
    val edges = (0 until 150).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    // brute-force union-find
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    val d = (0L until n.toLong).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val got = Dedup.clusters(d, "doc_id", edges.toDF("id_a", "id_b"))
      .select("doc_id", "cluster").as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("decontaminate: brute-force n-gram overlap, short-doc and no-overlap edges") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "b", "c", "d", "e")
    def doc(len: Int) = Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    // lengths straddle n=3: 0..2 words -> no grams -> never contaminated
    val train = (0L until 80L).map(i => (i, doc(rnd.nextInt(8))))
    val bench = (0 until 6).map(_ => doc(6)) :+ "zz zz zz" // one alien doc
    def grams(t: String) =
      t.split(" ", -1).sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val bg = bench.flatMap(grams).toSet
    val want = train.map { case (i, t) => i -> grams(t).exists(bg) }.toMap
    val got = Curation.decontaminate(
        train.toDF("doc_id", "text"), bench.map(Tuple1(_)).toDF("text"),
        "doc_id", "text", n = 3)
      .select("doc_id", "contaminated").as[(Long, Boolean)].collect().toMap
    assert(got == want)
    assert(got.values.exists(identity) && got.values.exists(!_)) // both classes hit
    assert(train.filter(_._2.split(" ", -1).length < 3)
      .forall { case (i, _) => !got(i) }) // short docs can never be contaminated
  }

  test("sampleByHash: brute-force md5 buckets, quota edges, unknown-stratum default") {
    import spark.implicits._
    val d = (0 until 300).map(i =>
      (i.toLong, Seq("en", "fr", "xx")(i % 3))).toDF("doc_id", "lang")
    val out = Curation.sampleByHash(d, col("doc_id"), col("lang"),
        Map("en" -> 1000, "fr" -> 0), defaultPerMille = 300)
      .select("doc_id", "lang", "sample_bucket")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def bucket(i: Long): Long = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md5.take(15), 16) % 1000
    }
    assert(out.forall { case (i, _, b) => b == bucket(i) })         // exact hash
    assert(out.count(_._2 == "en") == 100)                          // rate 1000: all
    assert(!out.exists(_._2 == "fr"))                               // rate 0: none
    assert(out.filter(_._2 == "xx").forall(_._3 < 300))             // default quota
    assert(out.map(_._1).toSet ==
      (0 until 300).filter(i => Seq("en", "fr", "xx")(i % 3) match {
        case "en" => true; case "fr" => false; case _ => bucket(i) < 300
      }).map(_.toLong).toSet)
  }

  test("removeBoilerplateLines: brute-force df, order preservation, all-removed doc") {
    import spark.implicits._
    // 40 docs: every doc gets the shared "banner"; docs 0..19 also share
    // "footer"; each doc has 3 unique lines; doc 7 repeats one of ITS OWN
    // lines twice (within-doc repeats must not count toward df); doc 39 is
    // banner+footer only (everything removed -> clean_text = "")
    val rows = (0 until 40).map { i =>
      val uniq = if (i == 39) Seq.empty
        else Seq(s"alpha $i", s"beta $i", s"gamma $i") ++
          (if (i == 7) Seq(s"beta $i") else Seq.empty)
      val lines = Seq("banner") ++ uniq.take(2) ++
        (if (i < 20 || i == 39) Seq("footer") else Seq.empty) ++ uniq.drop(2)
      (i.toLong, lines)
    }
    val dfCount = rows.flatMap { case (_, ls) => ls.distinct }
      .groupBy(identity).map { case (l, o) => l -> o.size }
    val want = rows.map { case (i, ls) =>
      val kept = ls.filter(l => dfCount(l) < 15)
      i -> ((ls.size.toLong, (ls.size - kept.size).toLong, kept.mkString("\n")))
    }.toMap
    val got = Curation.removeBoilerplateLines(
        rows.toDF("doc_id", "lines"), "doc_id", "lines", minDf = 15)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got == want)
    assert(got(39L) == ((2L, 2L, "")))                 // fully boilerplate doc
    assert(got(7L)._1 == 6L && got(7L)._3.count(_ == '\n') == 3) // own repeat kept
    assert(got(25L) == ((4L, 1L, "alpha 25\nbeta 25\ngamma 25"))) // order intact
  }

  test("Pii.redactDocs: staged email/ip/phone redaction with count semantics") {
    import spark.implicits._
    val d = Seq(
      (0L, "mail a@b.io and c.d+x@e-f.org now"),          // two emails
      (1L, "10.0.0.1 leads and ends 255.255.255.255"),    // ips at both ends
      (2L, "dial +1-555-0100 or +358-401-1234567"),       // 2nd: 7 trailing digits
      (3L, "no pii here just port 80 and 1.2 frac"),      // digits, not PII
      (4L, "edge a@b.co. then 1.2.3.4.5 run"),            // trailing dot; 5 octets
      (5L, "")).toDF("doc_id", "text")
    val got = Pii.redactDocs(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getString(4), r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(0L) == (("mail <EMAIL> and <EMAIL> now", 2L, 0L, 0L)))
    assert(got(1L) == (("<IP> leads and ends <IP>", 0L, 2L, 0L)))
    // +358-401-1234567: \d{4} takes the first 4 of the 7 trailing digits
    assert(got(2L) == (("dial <PHONE> or <PHONE>567", 0L, 0L, 2L)))
    assert(got(3L) == (("no pii here just port 80 and 1.2 frac", 0L, 0L, 0L)))
    // a@b.co matches up to .co (trailing '.' kept); the ip regex takes the
    // first four octets of "1.2.3.4.5" and leaves ".5"
    assert(got(4L) == (("edge <EMAIL>. then <IP>.5 run", 1L, 1L, 0L)))
    assert(got(5L) == (("", 0L, 0L, 0L)))
  }

  test("removeRepeatedSpans: brute-force coverage, mid-doc span, short doc, own-repeat") {
    import spark.implicits._
    val texts: Seq[(Long, String)] =
      (0L until 5L).map(i => i -> s"common span words here u$i v$i") ++ Seq(
        5L -> "short hi",                              // shorter than the window
        6L -> "x y common span words here z",          // span mid-document
        7L -> "own rep gram own rep gram tail",        // repeats only within itself
        8L -> "totally unique text block one",
        9L -> "another unique text block two")
    val n = 3; val minDf = 3
    // brute-force replica: df over distinct (doc, gram), covered = union of
    // repeated windows, survivors joined in order
    val docGrams = texts.map { case (i, t) =>
      val ws = t.split(" ", -1).toSeq
      i -> ws.sliding(n).zipWithIndex.filter(_._1.size == n).toSeq
    }.toMap
    val df = docGrams.values.flatMap(_.map(_._1.mkString(" ")).distinct)
      .groupBy(identity).map { case (g, o) => g -> o.size }
    val want = texts.map { case (i, t) =>
      val ws = t.split(" ", -1).toSeq
      val cov = docGrams(i).filter(g => df(g._1.mkString(" ")) >= minDf)
        .flatMap { case (_, p) => p until p + n }.toSet
      val kept = ws.zipWithIndex.collect { case (w, j) if !cov(j) => w }
      i -> ((ws.size.toLong, cov.size.toLong, kept.mkString(" ")))
    }.toMap
    val got = Dedup.removeRepeatedSpans(
        texts.toDF("doc_id", "text"), "doc_id", "text", n = n, minDf = minDf)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got == want)
    assert(got(0L) == ((6L, 4L, "u0 v0")))            // prefix span cut
    assert(got(6L) == ((7L, 4L, "x y z")))            // mid-doc span cut
    assert(got(5L) == ((2L, 0L, "short hi")))         // short doc untouched
    assert(got(7L)._2 == 0L)                          // own repeat: df=1, kept
  }

  test("packSequences properties on random shards: contiguity, coverage, offsets") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val docs = (0 until 300).map(i =>
      (i.toLong, s"s${rnd.nextInt(4)}", rnd.nextInt(900).toLong))
    val cap = 128L
    val got = Curation.packSequences(docs.toDF("doc_id", "shard", "n"),
        "doc_id", col("n"), col("shard"), capacity = cap)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    for (g <- got.groupBy(_._2).values; s = g.sortBy(_._1)) {
      // token_start is the exclusive running sum in id order (contiguity:
      // no gaps, no overlaps — the concatenated stream covers every token)
      var cum = 0L
      for ((_, _, n, start, binF, binL, off) <- s) {
        assert(start == cum); cum += n
        assert(off == start % cap)
        assert(binF == start / cap)
        assert(binL == (start + math.max(n, 1) - 1) / cap)
        assert(binF <= binL && binL - binF <= n / cap + 1)
      }
    }
  }

  test("removeRepeatedSpans property: survivors carry no repeated window") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val n = 3; val minDf = 4
    val texts = (0 until 60).map { i =>
      val len = 4 + rnd.nextInt(10)
      val base = Seq.fill(len)(vocab(rnd.nextInt(vocab.size)))
      // a quarter of the docs share an injected 5-word span
      val ws = if (i % 4 == 0) base.take(2) ++ Seq("x", "y", "z", "w", "v") ++ base.drop(2)
               else base
      (i.toLong, ws.mkString(" "))
    }
    val docGrams = texts.map { case (i, t) =>
      i -> t.split(" ").toSeq.sliding(n).filter(_.size == n).toSeq.zipWithIndex
    }.toMap
    val df = docGrams.values.flatMap(_.map(_._1.mkString(" ")).distinct)
      .groupBy(identity).map { case (g, o) => g -> o.size }
    val got = Dedup.removeRepeatedSpans(texts.toDF("doc_id", "text"),
        "doc_id", "text", n = n, minDf = minDf)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    for ((i, t) <- texts) {
      val ws = t.split(" ").toSeq
      val cov = docGrams(i).filter(g => df(g._1.mkString(" ")) >= minDf)
        .flatMap { case (_, p) => p until p + n }.toSet
      val kept = ws.zipWithIndex.collect { case (w, j) if !cov(j) => w }
      assert(got(i) == ((ws.size.toLong, cov.size.toLong, kept.mkString(" "))), i)
    }
    // the injected span really is cut somewhere (the property isn't vacuous)
    assert(got.exists { case (i, (_, removed, _)) => i % 4 == 0 && removed >= 5 })
  }

  test("Vocab: frequency-ranked build with tie cut, UNK encoding") {
    import spark.implicits._
    val texts = Seq(
      0L -> "aa aa aa bb bb cc",  // freqs: aa=3(+1 below)=4? see doc 1
      1L -> "aa bb cc dd ee",     // aa=4 bb=3 cc=2 dd=1 ee=1 ff=1
      2L -> "ff dd zz zz zz")     // zz=3, dd=2, ff=1
    val docs = texts.toDF("doc_id", "text")
    // full rank: aa=4, zz=3, bb=3, cc=2, dd=2, ee=1, ff=1 ->
    // (freq DESC, word ASC): aa0, bb1, zz2, cc3, dd4, ee5, ff6; size=4 cuts
    // at cc (dd/ee/ff -> UNK=4); the bb/zz freq tie resolves alphabetically
    val vocab = Vocab.build(docs, "text", size = 4)
      .collect().map(r => r.getString(1) -> (r.getLong(0), r.getLong(2))).toMap
    assert(vocab == Map("aa" -> ((0L, 4L)), "bb" -> ((1L, 3L)),
      "zz" -> ((2L, 3L)), "cc" -> ((3L, 2L))))
    val got = Vocab.encode(docs, "doc_id", "text", Vocab.build(docs, "text", 4))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(0L) == (("0 0 0 1 1 3", 6L, 0L)))
    assert(got(1L) == (("0 1 3 4 4", 5L, 2L)))   // dd, ee are UNK
    assert(got(2L) == (("4 4 2 2 2", 5L, 2L)))   // ff, dd UNK; zz in vocab
  }

  test("Vocab.encode runs its fused kernel once per row") {
    // the three struct fields read one projected kernel; over a local
    // relation the kernel is folded at planning, so the source is an RDD
    import spark.implicits._
    val docs = spark.sparkContext.parallelize(Seq(0L -> "aa bb", 1L -> "bb cc dd"))
      .toDF("doc_id", "text")
    val plan = Vocab.encode(docs, "doc_id", "text", Vocab.build(docs, "text", 2))
      .queryExecution.optimizedPlan
    assert(plan.collect { case p => p.expressions.map(_.collect {
      case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u }.size).sum }.sum == 1, plan)
  }

  test("PQ: brute-force encode (argmin L2, low-code ties) and ADC scores") {
    import spark.implicits._
    // 8 vectors in 4 dims, m=2 subspaces of 2 dims; codebooks seed from the
    // first 4 ids; vector 5 ties exactly between codes 0 and 1 in subspace 0
    val vecs: Seq[(Long, Array[Float])] = Seq(
      0L -> Array(1f, 0f, 0f, 1f), 1L -> Array(0f, 1f, 1f, 0f),
      2L -> Array(1f, 1f, 0f, 0f), 3L -> Array(0f, 0f, 1f, 1f),
      4L -> Array(1f, 0.1f, 0f, 0.9f), 5L -> Array(0.5f, 0.5f, 1f, 1f),
      6L -> Array(0f, 0.9f, 1f, 0.2f), 7L -> Array(0.9f, 0.9f, 0.1f, 0f))
    val df = vecs.toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebooks(df, "vec_id", "embedding", dim = 4, m = 2, codes = 4)
    // brute-force codebooks + encode
    val books = (0 until 2).map(j => (0 until 4).map(c =>
      vecs(c)._2.slice(j * 2, j * 2 + 2)))
    def d2(a: Array[Float], b: Array[Float]): Double = {
      def dt(x: Array[Float], y: Array[Float]) =
        x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
      dt(a, a) - 2.0 * dt(a, b) + dt(b, b)
    }
    val wantCodes = vecs.map { case (i, v) =>
      i -> (0 until 2).map { j =>
        val xs = v.slice(j * 2, j * 2 + 2)
        books(j).zipWithIndex.minBy { case (c, ci) => (d2(xs, c), ci) }._2
      }.toArray
    }.toMap
    val enc = Similarity.pqEncode(df, "vec_id", "embedding", cb)
    val gotCodes = enc.collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    assert(gotCodes.keySet == wantCodes.keySet)
    for ((i, c) <- wantCodes) assert(gotCodes(i).sameElements(c), s"vec $i")
    // the exact-tie vector keeps the LOWEST code
    assert(gotCodes(5L)(0) == math.min(gotCodes(5L)(0), 1))
    // ADC scores match the brute-force table sum; top-1 of an easy query is
    // its near-duplicate (recall sanity)
    val queries = Seq((0L, vecs(0)._2)).toDF("qid", "qvec")
    val got = Similarity.pqTopK(enc, "vec_id", queries, cb, k = 7)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    def dt(x: Array[Float], y: Array[Float]) =
      x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
    val wantAdc = vecs.filter(_._1 != 0L).map { case (i, _) =>
      i -> (0 until 2).map(j =>
        dt(vecs(0)._2.slice(j * 2, j * 2 + 2), books(j)(wantCodes(i)(j)).toArray)).sum
    }.toMap
    for ((_, _, id, adc) <- got)
      assert(math.abs(adc - wantAdc(id)) < 1e-12, s"vec $id")
    assert(got.head._3 == 4L, got.toSeq) // near-dup of vec 0 ranks first
  }

  test("LangModel: brute-force bigram perplexity incl. unseen words") {
    import spark.implicits._
    val train = Seq("the cat sat", "the cat ran", "a dog ran")
    val score = Map(
      0L -> "the cat sat",        // all bigrams seen
      1L -> "the cat flew home",  // unseen bigrams, seen + unseen unigrams
      2L -> "zz qq")              // nothing seen: every P = k/(kV) = 1/V
    // brute force
    def bigs(t: String) = t.split(" ").sliding(2).filter(_.length == 2)
      .map(_.mkString(" ")).toSeq
    val c2 = train.flatMap(bigs).groupBy(identity).map { case (g, o) => g -> o.size }
    val c1 = train.flatMap(_.split(" ")).groupBy(identity).map { case (w, o) => w -> o.size }
    val v = c1.size.toDouble; val k = 0.5
    val want = score.map { case (i, t) =>
      val lps = bigs(t).map { g =>
        val w1 = g.split(" ")(0)
        math.log((c2.getOrElse(g, 0) + k) / (c1.getOrElse(w1, 0) + k * v))
      }
      val avg = lps.sum / lps.size
      i -> ((lps.size.toLong, avg, math.exp(-avg)))
    }
    val lm = LangModel.trainBigram(train.toDF("text"), "text")
    val got = LangModel.perplexity(score.toSeq.toDF("doc_id", "text"),
        "doc_id", "text", lm, k = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == want.keySet)
    for ((i, (nb, avg, ppl)) <- want) {
      assert(got(i)._1 == nb, i)
      assert(math.abs(got(i)._2 - avg) < 1e-9, s"$i avg")
      assert(math.abs(got(i)._3 - ppl) < 1e-9, s"$i ppl")
    }
    // the fully-unseen doc scores exactly ln(1/V) per bigram
    assert(math.abs(want(2L)._2 - math.log(1.0 / v)) < 1e-12)
    // seen text is less perplexing than unseen
    assert(got(0L)._3 < got(1L)._3 && got(1L)._3 < got(2L)._3)
  }

  test("Bm25: brute-force scoring, no-hit docs dropped, topK order") {
    import spark.implicits._
    val texts = Map(
      0L -> "cat dog cat fish", 1L -> "dog dog dog", 2L -> "bird tree sun",
      3L -> "cat", 4L -> "fish cat fish dog fish fish")
    val q = Seq("cat", "fish")
    val lens = texts.map { case (i, t) => i -> t.split(" ").length }
    val n = texts.size.toDouble
    val avgdl = lens.values.sum / n
    val dfm = q.map(t => t -> texts.values.count(_.split(" ").contains(t))).toMap
    def sOne(i: Long, t: String): Double = {
      val f = texts(i).split(" ").count(_ == t).toDouble
      if (f == 0) 0.0
      else math.log((n - dfm(t) + 0.5) / (dfm(t) + 0.5) + 1.0) * f * 2.2 /
        (f + 1.2 * (0.25 + 0.75 * (lens(i) / avgdl)))
    }
    val want = texts.keys.filter(i => q.exists(t => sOne(i, t) > 0)).map { i =>
      i -> ((q.count(t => sOne(i, t) > 0).toLong, lens(i).toLong,
        q.map(t => sOne(i, t)).sum))
    }.toMap
    val got = Bm25.score(texts.toSeq.toDF("doc_id", "text"), "doc_id", "text", q)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == want.keySet && !got.contains(2L) && !got.contains(1L))
    for ((i, (hits, dl, sc)) <- want) {
      assert(got(i)._1 == hits && got(i)._2 == dl, i)
      assert(math.abs(got(i)._3 - sc) < 1e-9, s"$i: ${got(i)._3} vs $sc")
    }
    // doc 4 (3x fish + cat) outranks doc 0 (2x cat + fish) outranks doc 3
    val top = got.toSeq.sortBy { case (i, (_, _, sc)) => (-sc, i) }.map(_._1).take(2)
    assert(top == Seq(4L, 0L), top)
  }

  test("gopherQuality: brute-force rules on adversarial docs") {
    import spark.implicits._
    val texts = Seq(
      0L -> "the cat sat on of the mat with a rug and that hat have fun be it to go",
      1L -> "- item one two\n- item two three\nplain line here\n- item three four",
      2L -> "truncated thing...\nanother cut...\nfull line stays here",
      3L -> "# # # hash of the marks # everywhere # now",
      4L -> "hello",
      5L -> "12 34 56 the numbers 78 90 of here",
      6L -> "nostops only exotic vocabulary words appear herein")
    // brute-force replica of every rule with Java regexes
    def cnt(t: String, p: String) = p.r.findAllMatchIn(t).size.toLong
    val want = texts.map { case (i, t) =>
      val words = t.split("[ \n]", -1); val lines = t.split("\n", -1)
      val nw = words.length.toLong; val nl = lines.length.toLong
      val wc = t.replaceAll("[ \n]", "").length.toLong
      val mean = wc.toDouble / nw
      val flags = (
        nw >= 4 && nw <= 100,
        mean >= 2.0 && mean <= 6.0,
        cnt(t, "#|\\.\\.\\.") .toDouble / nw <= 0.1,
        cnt(t, "(^|\n)[-*•] ").toDouble / nl <= 0.5,
        cnt(t, "\\.\\.\\.(\n|$)").toDouble / nl <= 0.3,
        words.count(_.exists(_.isLetter)).toDouble / nw >= 0.8,
        cnt(t, "\\b(the|be|to|of|and|that|have|with)\\b") >= 2)
      i -> ((nw, BigDecimal(mean).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        flags, flags.productIterator.forall(_ == true)))
    }.toMap
    val got = Curation.gopherQuality(texts.toDF("doc_id", "text"), "doc_id", "text",
        minWords = 4, maxWords = 100, minMeanWordLen = 2.0, maxMeanWordLen = 6.0,
        maxSymbolRatio = 0.1, maxBulletFrac = 0.5, maxEllipsisFrac = 0.3,
        minAlphaWordFrac = 0.8, minStopwordHits = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        (r.getBoolean(3), r.getBoolean(4), r.getBoolean(5), r.getBoolean(6),
         r.getBoolean(7), r.getBoolean(8), r.getBoolean(9)), r.getBoolean(10))))
      .toMap
    assert(got == want)
    assert(got(0L)._4)                       // clean doc passes everything
    assert(!got(1L)._3._4 && !got(2L)._3._5) // bullet / ellipsis rules fire
    assert(!got(3L)._3._3 && !got(4L)._3._1) // symbol ratio, word count
    assert(!got(5L)._3._6 && !got(6L)._3._7) // alpha fraction, stopwords
  }

  test("packSequences: per-shard cumsum, bin straddling, zero-token guard") {
    import spark.implicits._
    val docs = Seq(
      (1L, "A", 3L), (2L, "A", 5L), (3L, "A", 4L), (4L, "A", 0L),
      (10L, "B", 9L), (11L, "B", 1L)).toDF("doc_id", "shard", "n_toks")
    val got = Curation.packSequences(docs, "doc_id", col("n_toks"), col("shard"),
        capacity = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6)))).toMap
    // (shard, n_tokens, token_start, bin_first, bin_last, offset_in_bin)
    assert(got(1L) == (("A", 3L, 0L, 0L, 0L, 0L)))
    assert(got(2L) == (("A", 5L, 3L, 0L, 1L, 3L)))  // straddles bins 0->1
    assert(got(3L) == (("A", 4L, 8L, 2L, 2L, 0L)))
    assert(got(4L) == (("A", 0L, 12L, 3L, 3L, 0L))) // empty doc: one bin
    assert(got(10L) == (("B", 9L, 0L, 0L, 2L, 0L))) // shard B independent
    assert(got(11L) == (("B", 1L, 9L, 2L, 2L, 1L)))
  }

  test("connected components reproduce the fixture block correlation") {
    import spark.implicits._
    val grid = CellGrid.fixture
    val buildings = GeoFixture.buildingDf(spark).where(col("id_block").isNotNull)
    val blocks = ConnectedComponents.createBlocks(buildings, grid, 10)
    // group membership must match block_build_corr exactly (block ids are
    // minted independently, so compare the partition of building ids)
    val got = blocks.select("id_builds").as[Seq[Int]].collect()
      .map(_.toSet).toSet
    val expected = GeoFixture.blockBuildCorr.groupBy(_._1).values
      .map(_.map(_._2).toSet).toSet
    assert(got == expected)
  }

  test("createBlocks geometry: block of buildings 4,5,8 equals fixture block 4 polygon") {
    import spark.implicits._
    val grid = CellGrid.fixture
    val buildings = GeoFixture.buildingDf(spark).where(col("id_build").isin(4, 5, 8))
    val blocks = ConnectedComponents.createBlocks(buildings, grid, 10)
    assert(blocks.count() == 1)
    val wkb = blocks.select("the_geom").head().getAs[Array[Byte]](0)
    val got = graft.geom.Geo.fromWkb(wkb)
    val expected = graft.geom.Geo.fromWkt(GeoFixture.blocks.find(_._1 == 4).get._2)
    assert(got.symDifference(expected).getArea < 1e-9)
  }
}
