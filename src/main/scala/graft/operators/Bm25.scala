package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * BM25 keyword ranking over the document corpus — the lexical counterpart
 * of the ANN family (Similarity): given a bag of query terms, score every
 * document containing at least one of them with the Robertson/Lucene BM25
 * formula and return the scored postings (callers top-k or threshold).
 *
 *   idf(t)  = ln((N − df(t) + 0.5) / (df(t) + 0.5) + 1)      (Lucene form,
 *             always positive)
 *   s(d,t)  = idf(t) · tf · (k1+1) / (tf + k1·(1 − b + b·|d|/avgdl))
 *   score(d) = Σ_{t ∈ query} s(d,t)
 *
 * Scale shape: query terms are a tiny literal set, so the term filter runs
 * MAP-SIDE on each document's word array (one array `filter` against a
 * hashed literal set — only query-term occurrences ever explode; the other
 * ~100% of corpus words die in the scan projection). Postings shuffle as
 * (doc, term) with a count — fixed width; df is one aggregate over the
 * postings; the two corpus scalars (N, avgdl) ride a one-row broadcast
 * crossJoin (the ZoneStats pattern). Nothing funnels: a 10^12-doc corpus
 * pays one scan + one bounded-postings aggregate.
 *
 * Determinism: tf/df/lengths are exact integers; the only libm op is ln
 * (callers round emitted scores per the oracle-exactness rules — 6
 * decimals where libm is involved).
 */
object Bm25 {

  /**
   * Scored postings: one row per (document containing ≥1 query term) with
   * `n_terms_hit`, `doc_len` and the BM25 `score` (unrounded).
   */
  def score(docs: DataFrame, idCol: String, textCol: String,
            queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "empty query")
    require(queryTerms.distinct.size == queryTerms.size, "duplicate query terms")
    val terms = typedLit(queryTerms)
    val words = split(col(textCol), " ", -1)
    // map-side: doc length + ONLY the query-term occurrences survive the scan
    val base = docs.select(col(idCol),
      size(words).cast("long").as("__dl"),
      filter(words, w => array_contains(terms, w)).as("__hits"))
    val stats = base.agg(count(lit(1)).as("__n"), sum(col("__dl")).as("__sl"))
    val tf = base.where(size(col("__hits")) > 0)
      .select(col(idCol), col("__dl"), explode(col("__hits")).as("__t"))
      .groupBy(col(idCol), col("__dl"), col("__t"))
      .agg(count(lit(1)).cast("double").as("__tf"))
    val df = tf.groupBy("__t").agg(count(lit(1)).cast("double").as("__df"))
    // op order is written to be SQL-mirrorable token for token (the oracle
    // replays the identical IEEE sequence; only ln is libm)
    val scored = tf.join(df, Seq("__t")).crossJoin(broadcast(stats))
      .withColumn("__avgdl", col("__sl").cast("double") / col("__n").cast("double"))
      .withColumn("__idf",
        log((col("__n").cast("double") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)) + lit(1.0)))
      .withColumn("__s", col("__idf") * col("__tf") * lit(k1 + 1.0) /
        (col("__tf") + lit(k1) * (lit(1.0 - b) + lit(b) * (col("__dl").cast("double") / col("__avgdl")))))
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_terms_hit"), first(col("__dl")).as("doc_len"),
        sum(col("__s")).as("score"))
  }
}
