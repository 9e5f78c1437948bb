package perfbench

/** The benchmark's own tests: span arithmetic, the reporting statistics and
  * the seeded generators. Exits non-zero on the first failure. */
object SelfTest {
  private var failures = 0
  private def check(what: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Exception => System.err.println(e); false }
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }
  private def near(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    // ---- span self time -----------------------------------------------------
    def sp(id: Int, parent: Int, a: Long, b: Long) = Span(id, s"s$id", parent, "t", a * 1000000000L, b * 1000000000L)
    val root = sp(0, -1, 0, 100)
    check("self time with no children is the span") { near(Span.selfSeconds(root, Nil), 100) }
    check("self time subtracts disjoint children") {
      near(Span.selfSeconds(root, Seq(sp(1, 0, 10, 30), sp(2, 0, 60, 70))), 70)
    }
    check("overlapping children count once") {
      near(Span.selfSeconds(root, Seq(sp(1, 0, 10, 30), sp(2, 0, 20, 50), sp(3, 0, 60, 70))), 50)
    }
    check("a child contained in another counts once") {
      near(Span.selfSeconds(root, Seq(sp(1, 0, 10, 50), sp(2, 0, 20, 30))), 60)
    }
    check("children are clipped to the parent") {
      near(Span.selfSeconds(root, Seq(sp(1, 0, 90, 120), sp(2, 0, -5, 5))), 85)
    }

    // ---- statistics ---------------------------------------------------------
    check("median of odd and even samples") {
      near(Stats.median(Seq(3.0, 1.0, 2.0)), 2) && near(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)
    }
    check("no percentile below 20 samples") { Stats.highestPercentile(19).isEmpty }
    check("p50 from 20 samples, p90 from 100, p95 from 200, p99 from 1000, p99.9 from 10000") {
      Stats.highestPercentile(20).contains(50) && Stats.highestPercentile(99).contains(50) &&
        Stats.highestPercentile(100).contains(90) && Stats.highestPercentile(199).contains(90) &&
        Stats.highestPercentile(200).contains(95) && Stats.highestPercentile(1000).contains(99) &&
        Stats.highestPercentile(10000).contains(99.9)
    }
    check("nearest-rank percentile") {
      val xs = (1 to 100).map(_.toDouble)
      near(Stats.percentile(xs, 90), 90) && near(Stats.percentile(xs, 50), 50) && near(Stats.percentile(xs, 100), 100)
    }

    // ---- tracer and generators on a small session ---------------------------
    val spark = Bench.session(2)
    try {
      val tracer = new Tracer(spark.sparkContext, "selftest")
      tracer.span("outer") {
        tracer.span("inner")(spark.range(1000).selectExpr("sum(id)").head())
        Thread.sleep(20)
      }
      val outer = tracer.last("outer"); val inner = tracer.last("inner")
      check("tracer: nested span is a child and self = total - child") {
        inner.parent == outer.id && near(tracer.selfSeconds(outer), outer.seconds - inner.seconds) &&
          tracer.selfSeconds(outer) >= 0.02
      }
      check("listener attributes the job to the inner span") {
        tracer.metrics(inner).jobs >= 1 && tracer.listener.metrics(outer.group).jobs == 0 &&
          tracer.metrics(outer).jobs == tracer.metrics(inner).jobs
      }
      val inputs = Seq[(String, Long => org.apache.spark.sql.DataFrame)](
        "pages" -> (s => Gen.pages(spark, 20000, s).select("i", "url", "html")),
        "city" -> (s => Gen.City(500, s).layers(spark).building),
        "corpus" -> (s => Gen.corpus(spark, 500, s)))
      inputs.foreach { case (name, gen) =>
        val a = Gen.digest(gen(1)); val b = Gen.digest(gen(1)); val c = Gen.digest(gen(2))
        check(s"$name: same seed gives the same input digest") { a == b }
        check(s"$name: another seed gives another input digest") { a != c }
      }
      check("corpus: id % 50 == 1 is an exact copy of id - 1") {
        val d = Gen.corpus(spark, 200, 7).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        (0L until 200L).filter(_ % 50 == 1).forall(i => d(i) == d(i - 1)) &&
          (0L until 200L).filter(_ % 50 == 2).forall(i => d(i) != d(i - 2) && d(i).replace(" minor edit", "") == d(i - 2))
      }
      check("pages: n rows whatever the seed") {
        Seq(1L, 2L, 3L).forall(s => Gen.pages(spark, 20000, s).count() == 20000)
      }
    } finally spark.stop()
    println(if (failures == 0) "self-test passed" else s"self-test: $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
