package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/**
 * Benchmark entry point:
 *   perfbench.Bench --workload <name> --seed <n> --seconds <s> --trace <0|1>
 * Prints `metric`/`span` lines, then one JSON result as the last line.
 * `--list` prints every metric name and unit without running anything.
 */
object Bench {
  val Cores: Int = Runtime.getRuntime.availableProcessors

  /** End-to-end metrics every workload reports (the result line). */
  val EndToEnd: Seq[(String, String)] =
    Seq("items_per_s" -> "1/s", "setup_s" -> "s", "shuffle_mb" -> "MB", "peak_rss_mb" -> "MB")
  /** Workload-specific end-to-end metrics (metric lines only). */
  val EndToEndExtra: Seq[(String, String, String)] = Seq(
    ("failed_frac", "ratio", "all"),
    ("resume_s", "s", "pages_lake, curation_lake"),
    ("lake_bytes_ratio", "ratio", "pages_lake, curation_lake"),
    ("scaling_eff", "ratio", "pages_tiles, with --scaling 1 or --trace 1"))

  /** Every per-layer metric. A traced run reports its own workload's layers
    * and those of its companions (`Workload.companions`), and 0 for a layer
    * on neither path. */
  val PerLayer: Seq[(String, String)] =
    Seq("spark.jobs" -> "count", "spark.tasks" -> "count", "spark.shuffle_write_mb" -> "MB",
      "spark.spill_mb" -> "MB", "spark.gc_s" -> "s", "spark.task_skew" -> "ratio",
      "spark.cpu_frac" -> "ratio", "spark.scaling_eff" -> "ratio", "trace.overhead_frac" -> "ratio",
      "lake.Pages.synth_s" -> "s", "index.cellColumn_s" -> "s",
      "operators.SpatialJoin.pointInPolygon_s" -> "s", "operators.Tiling.aggregate_s" -> "s",
      "operators.SpatialJoin.pip.candidates" -> "count", "operators.SpatialJoin.pip.refined" -> "count",
      "operators.SpatialJoin.pip.interior_frac" -> "ratio", "operators.SpatialJoin.pip.useful_ratio" -> "ratio",
      "lake.commit_s" -> "s", "lake.compute_s" -> "s", "lake.commit_overhead_frac" -> "ratio",
      "lake.written_mb" -> "MB", "lake.bytes_ratio" -> "ratio", "lake.files" -> "count",
      "lake.jobs" -> "count", "lake.resume_s" -> "s", "lake.read_mb" -> "MB",
      "lake.tail_recompute_s" -> "s") ++
    Seq("pages", "extracted", "assigned", "tiles", "curated", "redacted", "sampled", "packed")
      .map(s => s"lake.stage.${s}_s" -> "s") ++
    Seq("operators.Dedup.exact_s" -> "s", "operators.Dedup.minhashLsh_s" -> "s",
      "operators.Dedup.minhashLsh.pairs" -> "count", "operators.Curation.curate_s" -> "s",
      "operators.Pii.redactDocs_s" -> "s", "operators.Curation.sampleByHash_s" -> "s",
      "operators.Curation.packSequences_s" -> "s", "operators.Dedup.shuffle_mb" -> "MB") ++
    CityChain.LayerNames

  lazy val work: Path = Paths.get(sys.props.getOrElse("perfbench.work", ".bench_build/work")).toAbsolutePath

  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Every span of the run, one JSON object per line. */
  private def writeSpans(t: Tracer, path: Path): Unit = {
    val lines = t.spans.map { s =>
      val m = t.metrics(s)
      s"""{"run": "${s.runId}", "id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "cpu_ns": ${s.cpuNs}, """ +
        s""""self_s": ${fmt(t.selfSeconds(s))}, "jobs": ${m.jobs}, "tasks": ${m.tasks}, """ +
        s""""shuffle_write_bytes": ${m.shuffleWrite}}"""
    }
    Files.write(path, lines.asJava)
  }

  private def seconds(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(args: Array[String]): Unit = {
    if (args.contains("--list")) {
      EndToEnd.foreach { case (n, u) => println(s"end_to_end $n $u") }
      EndToEndExtra.foreach { case (n, u, w) => println(s"end_to_end $n $u ($w)") }
      PerLayer.foreach { case (n, u) => println(s"per_layer $n $u") }
      return
    }
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opts.getOrElse("workload", sys.error("--workload is required"))
    require(Workloads.Names.contains(name), s"unknown workload $name (one of ${Workloads.Names.mkString(", ")})")
    val seed = opts.getOrElse("seed", "1").toLong
    val budget = opts.getOrElse("seconds", "20").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val scaling = trace || opts.getOrElse("scaling", "0") == "1"

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(Cores)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val tracer = new Tracer(spark.sparkContext, s"run-$seed")
    val ctx = Ctx(spark, tracer, seed, work)
    val w = Workloads(name, ctx)

    var attempted = 0; var failed = 0
    def attempt(label: String)(body: => Boolean): Unit = {
      System.gc()
      val ok = try tracer.span(label)(body) catch {
        case e: Exception => System.err.println(s"$label failed: $e"); false
      }
      attempted += 1; if (!ok) failed += 1
    }

    // set-up: inputs three times (median), then the warm-up iterations
    def phase(msg: String): Unit =
      System.err.println(f"perfbench: ${(System.currentTimeMillis() - jvmStart) / 1000.0}%7.2f s $msg")
    phase(s"session ready, local[$Cores]")
    val prepS = Stats.median((1 to 3).map(_ => seconds(tracer.span("prepare")(w.prepare()))))
    phase("inputs prepared")
    val warmStart = System.nanoTime()
    (1 to w.warmups).foreach(_ => attempt("warmup")(w.iterate()))
    val setupS = sessionS + prepS + (System.nanoTime() - warmStart) / 1e9
    phase("warm-up done")

    val window = if (trace) budget / 2 else budget
    val deadline = System.nanoTime() + (window * 1e9).toLong
    do attempt("iteration")(w.iterate()) while (System.nanoTime() < deadline)
    val ops = tracer.all("iteration").flatMap(tracer.within(_, "op"))
    phase(s"measured ${ops.size} operations (s): ${ops.map(o => f"${o.seconds}%.3f").mkString(" ")}")
    val opS = Stats.median(ops.map(_.seconds))

    val lines = mutable.ArrayBuffer.empty[M]
    val wanted = mutable.LinkedHashSet.empty[String]
    if (!trace) wanted ++= EndToEnd.map(_._1)
    val result = mutable.LinkedHashMap.empty[String, M]
    def put(m: M): Unit = result(m.name) = m
    put(M("items_per_s", w.items / opS, "1/s"))
    put(M("setup_s", setupS, "s"))
    put(M("shuffle_mb", Stats.median(ops.map(tracer.metrics(_).shuffleMb)), "MB"))

    if (!trace) lines ++= w.extraE2e()
    else {
      val deadline2 = System.nanoTime() + (window * 1e9).toLong
      do attempt("traced")(w.traced()) while (System.nanoTime() < deadline2)
      val traced = tracer.all("traced")
      val tracedOps = traced.flatMap(tracer.within(_, "op"))
      val gm = ops.map(tracer.metrics)
      val layers = mutable.LinkedHashMap(PerLayer.map { case (n, u) => n -> M(n, 0.0, u) }: _*)
      (Seq(
        M("spark.jobs", Stats.median(gm.map(_.jobs.toDouble)), "count"),
        M("spark.tasks", Stats.median(gm.map(_.tasks.toDouble)), "count"),
        M("spark.shuffle_write_mb", Stats.median(gm.map(_.shuffleMb)), "MB"),
        M("spark.spill_mb", Stats.median(gm.map(_.spill / 1e6)), "MB"),
        M("spark.gc_s", Stats.median(gm.map(_.gcMs / 1e3)), "s"),
        M("spark.task_skew", Stats.median(gm.map(_.taskSkew(Cores))), "ratio"),
        M("spark.cpu_frac", Stats.median(ops.map(_.cpuFrac(Cores))), "ratio"),
        M("trace.overhead_frac", Stats.median(tracedOps.map(_.seconds)) / opS - 1, "ratio")) ++
        w.layers(traced)).foreach(m => layers(m.name) = m)
      // one traced pass of each companion workload, for the layers that only
      // it runs through
      val companions = w.companions.map { c =>
        phase(s"traced pass of $c")
        val cw = Workloads(c, ctx)
        cw.prepare()
        attempt("companion")(cw.traced())
        cw.layers(Seq(tracer.last("companion"))).foreach(m => layers(m.name) = m)
        tracer.last("companion")
      }
      layers.values.foreach(put)
      wanted ++= layers.keys
      // span tree of the traced iterations: wall and self time per name,
      // companion spans under the companion's name
      val roots = traced.map(_ -> "") ++ companions.zip(w.companions.map(_ + "/"))
      roots.flatMap { case (t, prefix) =>
        tracer.spans.filter(s => s.startNs >= t.startNs && s.endNs <= t.endNs).map(s => (prefix + s.name, s))
      }.groupBy(_._1).toSeq.sortBy(_._2.map(_._2.startNs).min).foreach { case (n, named) =>
        val ss = named.map(_._2)
        println(f"span $n%-58s total_s=${Stats.median(ss.map(_.seconds))}%.4f " +
          f"self_s=${Stats.median(ss.map(tracer.selfSeconds))}%.4f n=${ss.size}")
      }
      writeSpans(tracer, Paths.get(".bench_build", s"spans-$name-$seed.jsonl"))
    }
    w match {
      case pt: PagesTiles if scaling =>
        phase("local[1] pass")
        spark.stop()
        val eff = result("items_per_s").value / (Cores * pt.singleCoreRate(budget / 4))
        lines += M("scaling_eff", eff, "ratio")
        if (trace) put(M("spark.scaling_eff", eff, "ratio"))
      case _ =>
    }
    phase("done")
    put(M("peak_rss_mb", peakRssMb(), "MB"))
    lines += M("failed_frac", failed.toDouble / attempted, "ratio")
    val iterS = ops.map(_.seconds)
    lines += M("op_samples", iterS.size.toDouble, "count")
    Stats.highestPercentile(iterS.size).foreach { p =>
      lines += M(s"op_p$p", Stats.percentile(iterS, p), "s")
    }

    (result.values.toSeq ++ lines).foreach(m => println(s"metric $name ${m.name} ${fmt(m.value)} ${m.unit}"))
    val metrics = wanted.map { n => val m = result(n)
      s""""$n": {"value": ${fmt(m.value)}, "unit": "${m.unit}"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$metrics}}""")
    if (!spark.sparkContext.isStopped) spark.stop()
  }
}
