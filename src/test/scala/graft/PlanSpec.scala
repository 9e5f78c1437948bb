package graft

/**
 * Physical-plan audits: the properties that make these operators survive a
 * 100x scale-up are asserted on the ACTUAL executed plans — broadcast of
 * small polygon/dim sides (no shuffle of the big table), parquet column
 * pruning, predicate pushdown, and whole-stage codegen on the hot paths.
 */
class PlanSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.collect() // finalize AQE so the executed plan (incl. codegen stages) is real
    df.queryExecution.executedPlan.toString
  }

  test("geo_pip_join: polygon cover is broadcast — the big point side never shuffles for the join") {
    val p = plan("geo_pip_join")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("pages_e2e flagship: broadcast join + no cartesian/nested-loop anywhere") {
    val p = plan("pages_e2e")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("Probe.run smoke: rows match the query's count, its jobs are observed") {
    val Seq(r) = Probe.run(spark, dir, Seq("geo_pip_join"))
    assert(r.query == "geo_pip_join")
    assert(r.rows == SparkEntry.queries("geo_pip_join")(spark, dir).count())
    assert(r.jobs.nonEmpty, r)
    assert(r.constructS >= 0 && r.actionS > 0)
  }

  test("q2_join_topk: dimension table broadcast") {
    assert(plan("q2_join_topk").contains("BroadcastHashJoin"))
  }

  test("q4_anti_join: predicate pushed to the orders parquet scan") {
    val p = plan("q4_anti_join")
    assert(p.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,400000.0)]")
      || p.contains("GreaterThan(o_totalprice,400000.0)"), p.take(3000))
  }

  test("text_stats: parquet scan prunes to the referenced columns only") {
    val p = plan("text_stats")
    val readSchemas = "ReadSchema: [^\\n]+".r.findAllIn(p).toSeq
    assert(readSchemas.nonEmpty)
    assert(readSchemas.forall(s => !s.contains("lang") && !s.contains("source")), readSchemas.mkString("\n"))
  }

  test("osm_format_heights compiles under whole-stage codegen: no interpreted fallback") {
    // with the fallback off, a generated class that fails to compile throws
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try assert(SparkEntry.queries("osm_format_heights")(spark, dir).collect().nonEmpty)
    finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("hot paths run inside whole-stage codegen") {
    // codegen stages print as "*(n)" in the finalized AQE plan
    assert(plan("geo_tile_assign").contains("*("))
    assert(plan("q1_agg").contains("*("))
  }

  test("grid ops are equi-join shaped (no range/nested-loop joins)") {
    for (q <- Seq("grid_neighbors", "grid_sliding_warm", "grid_lod_mode")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), q)
    }
  }

  test("ann_cosine_topk: no cartesian of the data side (partial-heap pass)") {
    val p = plan("ann_cosine_topk")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the big side goes through ONE object pipe (mapPartitions heaps), not a
    // materialized N x Q join
    assert(p.contains("MapPartitions") || p.contains("SerializeFromObject"))
  }

  test("sprawl unions are keyed per zone (no whole-layer single-task union)") {
    // the public query checkpoints before id-minting (plan lineage cut), so
    // audit the pre-mint pipeline, where the union aggregates live
    import org.apache.spark.sql.functions._
    import graft.operators.{SpatialUnits, Tiling}
    val cells = Tiling.makeGrid(spark, 0, 0, 200, 100, 10, 10)
      .withColumn("lcz_primary",
        when(col("id_col").between(1, 8) && col("id_row").between(2, 7), 1).otherwise(101))
      .withColumn("id_zone", pmod(col("id_grid"), lit(2))) // data-dependent: a lit() key would constant-fold into a single group
    val p = SpatialUnits.sprawlParts(cells, "id_zone", "lcz_primary", 15.0)
      .queryExecution.optimizedPlan.toString
    val unionAggLines = p.linesIterator.filter(_.contains("unionagg")).toSeq
    assert(unionAggLines.nonEmpty, p.take(2000))
    assert(unionAggLines.forall(_.matches(""".*Aggregate \[id_zone#\d+L?\].*""")),
      unionAggLines.mkString("\n"))
  }

  test("grid rasterize queries are equi-join shaped (no cartesian/nested-loop)") {
    for (q <- Seq("grid_land_fraction", "grid_roughness", "grid_facade_street",
        "grid_height_distribution", "grid_lcz_sprawl_dispatch")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
      assert(!p.contains("BroadcastNestedLoopJoin"), q)
    }
  }

  test("dedup_exact: shuffle key is the fixed-width digest triple, never the text bytes") {
    val df = SparkEntry.queries("dedup_exact")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val partLines = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(partLines.nonEmpty, p.take(2000))
    // every exchange partitions on the digest columns (__h/__m/__len), not
    // on a raw text attribute
    assert(partLines.forall(l => !l.contains("text#")), partLines.mkString("\n"))
  }

  test("curation additions are equi-shaped: no cartesian, no text in a shuffle key") {
    for (q <- Seq("dedup_clusters", "text_repetition", "url_canonical_dedup",
        "text_decontaminate", "text_line_dedup", "seq_pack", "dedup_spans")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), q)
      // the raw `text` column must never be a partitioning key — grams /
      // ids / canonical urls are the only things that ride a shuffle
      val parts = "hashpartitioning\\([^)]*\\)".r.findAllIn(p).toSeq
      assert(parts.nonEmpty, q)
      assert(parts.forall(k => !k.contains("text#")), s"$q: ${parts.mkString("\n")}")
    }
    // decontaminate: the benchmark gram set must reach the train side as a
    // BROADCAST semi join (grams filtered map-side, no gram shuffle)
    val pDec = plan("text_decontaminate")
    assert(pDec.contains("BroadcastHashJoin") && pDec.contains("LeftSemi"),
      pDec.take(3000))
  }

  test("model-broadcast queries: raw text never rides a shuffle (digests/terms only)") {
    // bm25_rank / lm_perplexity / ann_pq_topk carry one-row or model-sized
    // broadcasts (the ZoneStats crossJoin pattern), so they're excluded from
    // the no-BNLJ fence — but their SHUFFLE keys must still be bounded:
    // gram/word digests, query terms, never the text column itself
    for (q <- Seq("bm25_rank", "lm_perplexity", "ann_pq_topk")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
      val parts = "hashpartitioning\\([^)]*\\)".r.findAllIn(p).toSeq
      assert(parts.forall(k => !k.contains("text#") && !k.contains("__g#")),
        s"$q: ${parts.mkString("\n")}")
    }
  }

  test("blocks_cc: no single-partition exchange (stable component labels as ids)") {
    val p = plan("blocks_cc")
    assert(!p.contains("Exchange SinglePartition"), p.take(3000))
  }

  test("no data-scale global window in main source (id minting is keyed)") {
    // Every `Window.orderBy` without a partitionBy funnels its input through
    // ONE task. The allowlist below is the audited set of bounded sites:
    // cumulative-offset windows over per-key count tables (#keys rows, the
    // keyed dense-id pattern), a one-zone raster export, and a model-k rank.
    // Any NEW unpartitioned window must either be keyed or justify itself
    // here — this is the regression fence for the r4 formatPopulationTable
    // finding (global Window.orderBy over the whole population table).
    val allowed = Map(
      "indicators/GridIndicators.scala" -> 1,   // formatGrid4Target: one zone's raster fid
      "indicators/PopulationIndicators.scala" -> 1, // offsets over #x-bands rows
      "operators/Similarity.scala" -> 1,        // k rows, bounded by model size
      "operators/Vocab.scala" -> 1,             // `size` rows, bounded by the vocab
      "operators/SpatialUnits.scala" -> 2,      // offsets over #zones rows (x2)
      "sources/OsmLayers.scala" -> 1)           // offsets over #zones rows
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val hits = scala.collection.mutable.Map.empty[String, Int]
    java.nio.file.Files.walk(root).forEach { p =>
      if (p.toString.endsWith(".scala")) {
        val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        // count CALL lines only (scaladoc prose mentioning the pattern is fine)
        val calls = src.linesIterator.count(l =>
          l.contains("Window.orderBy(") && !l.trim.startsWith("*") && !l.trim.startsWith("//"))
        if (calls > 0) hits(root.relativize(p).toString) = calls
      }
    }
    assert(hits.toMap == allowed,
      s"unaudited global windows: ${hits.toMap} vs allowlist $allowed")
  }
}
