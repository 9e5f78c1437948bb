package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * `Curation.curate` reads the text once: its per-document table carries the
 * exact-dedup digests, the MinHash signature and the gate, and every stage
 * after the checkpoint works on those attributes. Pinned here: the output
 * equals the stage-by-stage composition it replaced, the text never rides an
 * exchange, and each fused kernel is evaluated exactly once.
 */
class CurationSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private val MinQuality = 0.55

  /** Every case curate branches on: exact dups (one whose copy has the
    * smaller id), near dups, an 8-doc near-dup clique whose band buckets
    * exceed a cap of 3, null and empty text, docs shorter than k = 3 words
    * (two of them exact dups), non-`en` docs, low-quality docs, and a
    * non-`en` doc whose larger-id near dup is `en` (dropped by the greedy
    * rule although its smaller-id partner later fails the gate). */
  private lazy val corpus: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val en = TextAnalysis.Stopwords("en")
    val de = TextAnalysis.Stopwords("de")
    def word() = Iterator.fill(3 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString
    def text(n: Int, stop: Seq[String]) =
      (1 to n).map(i => if (i % 4 == 0) stop(rnd.nextInt(stop.size)) else word()).mkString(" ")
    def edit(t: String) = { // replace one word
      val w = t.split(" ")
      w(rnd.nextInt(w.length)) = word()
      w.mkString(" ")
    }
    val base = (1L to 40L).map(i => i -> text(20 + rnd.nextInt(80), en))
    val clique = text(60, en)
    val deNear = text(60, de)
    val docs = base ++
      (41L to 45L).map(i => i -> base((i - 41).toInt)._2) ++       // exact dups
      Seq(0L -> base(10)._2) ++                                     // exact dup, smaller id
      (50L to 54L).map(i => i -> edit(base((i - 50).toInt + 20)._2)) ++ // near dups
      (60L to 67L).map(i => i -> s"$clique ${word()}") ++            // near-dup clique
      Seq(70L -> null, 71L -> "the element", 72L -> "hello", 73L -> "",
        74L -> "a b", 75L -> "the element") ++                     // null / short
      (80L to 84L).map(i => i -> text(50, de)) ++                   // non-en
      Seq(90L -> deNear, 91L -> (deNear + " the" * 20)) ++          // de rep, en near dup
      Seq(95L -> "the 12345 and 678 of 999 to 1111 in 2222 is 3333", // low quality
        96L -> "x1 y2 z3 the 44 55 66 a 77 88")
    // an RDD source, like a file scan: over a local relation the optimizer
    // evaluates the kernels at planning time
    spark.sparkContext.parallelize(docs, 4).toDF("doc_id", "text")
  }

  /** The stage-by-stage composition `curate` replaced: exact dedup, the
    * text joined back to the representatives, minhashLsh over them, the
    * greedy left-anti drop, then the gate over the surviving text. */
  private def reference(docs: DataFrame, maxBucket: Option[Int]): DataFrame = {
    val reps = docs.join(Dedup.exact(docs, "doc_id", "text").select("doc_id"), Seq("doc_id"))
    val near = Dedup.minhashLsh(reps, "doc_id", "text", 3, 16, 3, 0.4, maxBucket)
    reps.join(near.select(col("id_b").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), TextAnalysis.langQualityTokensUdf(col("text")).as("__g"))
      .select(col("doc_id"), col("__g._1").as("lang_id"),
        col("__g._2").as("quality"), col("__g._3").as("n_tokens"))
      .where(col("lang_id") === "en" && col("quality") >= MinQuality)
  }

  private def rows(df: DataFrame): Seq[(Long, String, Double, Long)] =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      .sortBy(_._1).toSeq

  private def curate(maxBucket: Option[Int]): DataFrame =
    Curation.curate(corpus, "doc_id", "text", "en", MinQuality, maxBucket = maxBucket)

  test("curate == exact -> join -> minhashLsh -> left-anti -> gate, uncapped and capped") {
    val byCap = Seq(None, Some(3)).map { cap =>
      val want = rows(reference(corpus, cap))
      assert(rows(curate(cap)) == want, s"maxBucket = $cap")
      cap -> want.map(_._1).toSet
    }.toMap
    // the corpus exercises every branch
    val kept = byCap(None)
    assert(kept.nonEmpty && !kept.contains(70L) && !kept.contains(95L))
    assert(kept.contains(0L) && !kept.contains(11L), "exact dup keeps the min id")
    assert(kept.contains(71L) && !kept.contains(75L), "short exact dups collapse, too short to shingle")
    assert(!kept.contains(91L) &&
      Curation.curate(corpus.where(col("doc_id") === 91L), "doc_id", "text", "en", MinQuality)
        .count() == 1, "greedy near-dup drop runs before the gate")
    assert((80L to 84L).forall(i => !kept.contains(i)), "non-en docs are gated out")
    assert((61L to 67L).forall(i => !kept.contains(i)), "uncapped: the clique keeps its min id only")
    assert(byCap(Some(3)) != kept, "the cap changes which docs survive")
  }

  /** Executed plans of every SQL action `body` runs — its checkpoints
    * included — in order. A sentinel query marks the end of the listener
    * bus. */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    def isSentinel(qe: QueryExecution) = qe.analyzed.output.map(_.name) == Seq("curate_spec_sentinel")
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).select(lit(1).as("curate_spec_sentinel")).collect()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.asScala.exists(isSentinel) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.asScala.exists(isSentinel), "listener bus did not deliver the sentinel")
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq.filterNot(isSentinel).map(_.executedPlan)
  }

  test("plan shape: no exchange carries the text; each fused kernel runs once") {
    val plans = executedPlans(curate(Some(3)).collect())
    assert(plans.size >= 2, "expected the checkpoint and the final action")
    val nodes = plans.flatMap(p => collectWithSubqueries(p) { case n => n })
    val textExchanges = nodes.collect { case e: Exchange if e.output.exists(_.name == "text") => e }
    assert(textExchanges.isEmpty, textExchanges.mkString("\n"))
    val udfs = nodes.flatMap(_.expressions.flatMap(_.collect { case u: ScalaUDF => u }))
    // the two kernels by their output types: (sh, sig) and (lang_id, quality, n_tokens)
    def count(t: String) = udfs.count(_.dataType.simpleString == t)
    assert(count("struct<_1:array<bigint>,_2:array<bigint>>") == 1 &&
      count("struct<_1:string,_2:double,_3:bigint>") == 1, plans.mkString("\n\n"))
  }
}
