package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.functions._

/**
 * Round-7 optimization gate: the fused loop kernels that replaced the
 * interpreted higher-order Catalyst forms in the dedup hot paths must be
 * BIT-IDENTICAL to those forms (house rule, CLAUDE.md) — every value here
 * is 64-bit integer arithmetic, so equality is exact, not approximate.
 */
class DedupKernelSpec extends SparkTestBase {

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy cat",
    "single",
    "", // empty string -> one empty word
    "a b", // fewer words than k
    "repeated repeated repeated repeated repeated",
    "trailing space ", // trailing empty word
    "  double  spaces between", // empty words mid-array
    "unicode éè€ 你好 words mixed in",
    (1 to 200).map(i => s"w${i % 13}").mkString(" ") // long doc, heavy repeats
  )

  private def df = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
  }

  test("fused shingle+signature kernel == Catalyst shingles/minhashSignature") {
    val k = 3; val numHashes = 48
    val fused = df.select(col("id"), Dedup.shingleSigUdf(k, numHashes)(col("text")).as("ss"))
      .select(col("id"), col("ss._1").as("sh_f"), col("ss._2").as("sig_f"))
    val ref = df.select(col("id"), Dedup.shingles(col("text"), k).as("sh"))
      .withColumn("sig", Dedup.minhashSignature(col("sh"), numHashes))
    val joined = fused.join(ref, "id").collect()
    assert(joined.length == texts.length)
    joined.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](3), s"shingles diverge for id=${r.getLong(0)}")
      assert(r.getSeq[Long](2) == r.getSeq[Long](4), s"signature diverges for id=${r.getLong(0)}")
    }
  }

  test("fused distinct-shingle kernel == array_distinct(shingles) incl. order") {
    val k = 3
    val got = df.select(col("id"), Dedup.distinctShinglesUdf(k)(col("text")).as("f"),
        array_distinct(Dedup.shingles(col("text"), k)).as("r")).collect()
    got.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"distinct shingles diverge for id=${r.getLong(0)}")
    }
  }

  test("fused simhash kernel == Catalyst simhash64 for both word hashes") {
    val got = df.select(col("id"),
      Dedup.simhashUdf(Dedup.XxWordHasher)(col("text")).as("fx"),
      Dedup.simhash64(col("text")).as("rx"),
      Dedup.simhashUdf(Dedup.Md5WordHasher)(col("text")).as("fm"),
      Dedup.simhash64(col("text"), Dedup.md5WordHash).as("rm")).collect()
    got.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"xx simhash diverges for id=${r.getLong(0)}")
      assert(r.getLong(3) == r.getLong(4), s"md5 simhash diverges for id=${r.getLong(0)}")
    }
  }

  test("fused jaccard verify == array_intersect/array_union Catalyst form") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 60).map { i =>
      val a = Array.fill(rnd.nextInt(40) + 1)(rnd.nextInt(25).toLong) // heavy dups
      val b = Array.fill(rnd.nextInt(40) + 1)(rnd.nextInt(25).toLong)
      (i.toLong, a, b)
    } :+ ((61L, Array(1L, 2L, 3L), Array(1L, 2L, 3L))) :+
      ((62L, Array(1L), Array(2L)))
    val df = rows.toDF("id", "a", "b")
    val got = df.select(col("id"),
      Dedup.jaccardUdf(col("a"), col("b")).as("fused"),
      (size(array_intersect(col("a"), col("b"))).cast("double") /
        size(array_union(col("a"), col("b")))).as("ref")).collect()
    got.foreach { r =>
      // bit-exact double equality (same integer counts, same division)
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        s"jaccard diverges for id=${r.getLong(0)}")
    }
  }

  test("null text: fused kernels propagate null like the Catalyst forms") {
    import spark.implicits._
    val d = Seq((1L, null.asInstanceOf[String]), (2L, "a b c d")).toDF("id", "text")
    val got = d.select(col("id"),
      Dedup.shingleSigUdf(3, 6)(col("text")).as("ss"),
      Dedup.distinctShinglesUdf(3)(col("text")).as("ds"),
      Dedup.simhashUdf(Dedup.XxWordHasher)(col("text")).as("sh")).collect()
    val byId = got.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).isNullAt(1) && byId(1L).isNullAt(2) && byId(1L).isNullAt(3))
    assert(!byId(2L).isNullAt(1) && !byId(2L).isNullAt(2) && !byId(2L).isNullAt(3))
  }

  test("minhashLsh / ngramJaccardPairs: the pre-checkpoint frame runs its kernel once per row") {
    // a filter on the kernel's output placed above its projection is pushed
    // into the scan as size(UDF(text)...) > 0 — a second kernel run per row
    // (an RDD source: over a local relation the kernel is folded at planning)
    import spark.implicits._
    val src = spark.sparkContext.parallelize(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) })
      .toDF("id", "text")
    for (frame <- Seq(Dedup.sigTable(src, "id", "text", 3, 48), Dedup.shingleSets(src, "id", "text", 3))) {
      val plan = frame.queryExecution.optimizedPlan
      assert(plan.collect { case p => p.expressions.map(_.collect { case u: ScalaUDF => u }.size).sum }.sum == 1,
        plan)
    }
  }
}
