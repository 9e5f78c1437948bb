package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.geom.{GeoFunctions => G}
import graft.index.CellGrid
import graft.operators.{ConnectedComponents, Dedup, Similarity, SpatialJoin, TextAnalysis, Tiling}
import graft.indicators.{BuildingIndicators, GenericIndicators, RsuIndicators}
import graft.fixtures.GeoFixture

/**
 * Driver-verified query surface: each entry pairs a Spark implementation
 * (running the engine's real operators) with an exact ANSI-SQL oracle that
 * DuckDB evaluates over the same parquet inputs (see SparkEntry).
 *
 * Design rules for exact hash equality with the oracle:
 *  - outputs are integers/strings, or doubles produced by the *identical*
 *    sequence of IEEE ops on both engines (sqrt/floor/division of the same
 *    operands) — never order-dependent double accumulations;
 *  - money sums go through `round(x*100) as BIGINT` cents;
 *  - synthetic geometry (points from doc_id) uses pure integer LCG math that
 *    both engines evaluate identically;
 *  - point-in-polygon boundary semantics = strict interior on both sides
 *    (JTS `contains` <=> strict inequalities on rectangle bounds).
 */
object Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The engine's index grid for fixture-plane data. Res 10 → 32-unit cells,
    * comparable to the 50-100 unit fixture zones. */
  private val grid = CellGrid.fixture
  private val Res = 10

  // ---- deterministic geocode of documents (pure Catalyst, codegen'd) ------
  private[graft] def docPoints(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"), col("n_chars"),
      ((col("doc_id") * 1103515245L + 12345L) % 2147483648L % 55000L).cast("double") / 1000.0 as "x",
      (((col("doc_id") * 69069L + 1L) % 2147483648L % 55000L).cast("double") / 1000.0 - 15.0) as "y")

  private[graft] val docPointsSql =
    """pts AS (SELECT doc_id, n_chars,
      |  CAST((doc_id * 1103515245 + 12345) % 2147483648 % 55000 AS DOUBLE) / 1000.0 AS x,
      |  CAST((doc_id * 69069 + 1) % 2147483648 % 55000 AS DOUBLE) / 1000.0 - 15.0 AS y
      |FROM documents)""".stripMargin

  /** Fixture RSU rectangles as (id_rsu, xmin, ymin, xmax, ymax) SQL VALUES —
    * every rsu_test geometry is axis-aligned, so the oracle can express
    * point-in-polygon / overlap with plain arithmetic. */
  private[graft] val rsuRectsSql =
    """rsu(id_rsu, xmin, ymin, xmax, ymax) AS (VALUES
      | (1, 0.0, 0.0, 50.0, 40.0), (2, 50.0, 0.0, 55.0, 30.0), (3, 0.0, -15.0, 25.0, 0.0),
      | (4, 1000.0, 1000.0, 1100.0, 1100.0), (5, 1100.0, 1000.0, 1200.0, 1100.0),
      | (6, 1200.0, 1000.0, 1300.0, 1100.0), (7, 1000.0, 1100.0, 1100.0, 1200.0),
      | (8, 1100.0, 1100.0, 1200.0, 1200.0), (9, 1200.0, 1100.0, 1300.0, 1200.0),
      | (10, 1000.0, 1200.0, 1100.0, 1300.0), (11, 1100.0, 1200.0, 1200.0, 1300.0),
      | (12, 1200.0, 1200.0, 1300.0, 1300.0), (13, 1400.0, 1400.0, 1500.0, 1500.0),
      | (14, 0.0, 100.0, 50.0, 150.0), (15, 0.0, 99.0, 50.0, 100.0),
      | (16, 0.0, -150.0, 50.0, -100.0), (17, 1500.0, 1500.0, 1600.0, 1600.0),
      | (18, 10000.0, 10000.0, 10100.0, 10100.0))""".stripMargin

  private val knnSites: Seq[(Int, Double, Double)] =
    Seq((1, 10.0, 10.0), (2, 30.0, 20.0), (3, 50.0, 0.0), (4, 5.0, -10.0), (5, 40.0, 35.0), (6, 25.0, -5.0))

  /** Deterministic synthetic building layer from documents: axis-aligned
    * integer-coordinate rectangles (so the DuckDB oracle can recompute every
    * JTS measure with plain arithmetic). */
  private def docBuildings(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id").as("id_build"),
      (col("doc_id") % 50).cast("double").as("x0"),
      ((col("doc_id") * 7) % 50).cast("double").as("y0"),
      (col("doc_id") % 8 + 1).cast("double").as("w"),
      (col("doc_id") % 9 + 1).cast("double").as("h"),
      (col("doc_id") % 10 + 3).cast("double").as("height_wall"),
      (col("doc_id") % 10 + 3 + col("doc_id") % 4).cast("double").as("height_roof"),
      (col("doc_id") % 3 + 1).cast("int").as("nb_lev"))
      .withColumn("the_geom", G.stMakeBox(col("x0"), col("y0"), col("x0") + col("w"), col("y0") + col("h")))

  private val docBuildingsSql =
    """b AS (SELECT doc_id AS id_build,
      |  CAST(doc_id % 50 AS DOUBLE) AS x0, CAST((doc_id * 7) % 50 AS DOUBLE) AS y0,
      |  CAST(doc_id % 8 + 1 AS DOUBLE) AS w, CAST(doc_id % 9 + 1 AS DOUBLE) AS h,
      |  CAST(doc_id % 10 + 3 AS DOUBLE) AS hw, CAST(doc_id % 10 + 3 + doc_id % 4 AS DOUBLE) AS hr,
      |  doc_id % 3 + 1 AS lev
      |FROM documents)""".stripMargin

  /** L-shaped polygons (rectangle minus a top-right notch) — still fully
    * recomputable in SQL: hull area = w·h − nw·nh/2, hull perimeter =
    * 2(w+h) − nw − nh + √(nw²+nh²). */
  private def docLShapes(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(
      col("doc_id").as("id_build"),
      (col("doc_id") % 40).cast("double").as("x0"),
      ((col("doc_id") * 3) % 40).cast("double").as("y0"),
      (col("doc_id") % 7 + 2).cast("double").as("w"),
      (col("doc_id") % 5 + 2).cast("double").as("h"),
      (col("doc_id") % 10 + 3).cast("double").as("height_wall"))
      .withColumn("nw", col("id_build") % (col("w").cast("long") - 1) + 1)
      .withColumn("nh", col("id_build") % (col("h").cast("long") - 1) + 1)
      .withColumn("height_roof", col("height_wall") + (col("id_build") % 4).cast("double"))
    val wkt = concat(lit("POLYGON(("),
      col("x0"), lit(" "), col("y0"), lit(", "),
      col("x0") + col("w"), lit(" "), col("y0"), lit(", "),
      col("x0") + col("w"), lit(" "), col("y0") + col("h") - col("nh"), lit(", "),
      col("x0") + col("w") - col("nw"), lit(" "), col("y0") + col("h") - col("nh"), lit(", "),
      col("x0") + col("w") - col("nw"), lit(" "), col("y0") + col("h"), lit(", "),
      col("x0"), lit(" "), col("y0") + col("h"), lit(", "),
      col("x0"), lit(" "), col("y0"), lit("))"))
    d.withColumn("the_geom", G.stGeomFromWkt(wkt))
  }

  private val docLShapesSql =
    """b AS (SELECT doc_id AS id_build,
      |  CAST(doc_id % 7 + 2 AS DOUBLE) AS w, CAST(doc_id % 5 + 2 AS DOUBLE) AS h,
      |  CAST(doc_id % (doc_id % 7 + 1) + 1 AS DOUBLE) AS nw,
      |  CAST(doc_id % (doc_id % 5 + 1) + 1 AS DOUBLE) AS nh,
      |  CAST(doc_id % 10 + 3 AS DOUBLE) AS hw,
      |  CAST(doc_id % 10 + 3 + doc_id % 4 AS DOUBLE) AS hr
      |FROM documents)""".stripMargin

  // =========================================================================
  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // -- relational baseline (unweightedOperationFromLowerScale analogue:
    //    SUM/AVG/COUNT hash aggregate — GenericIndicators.groovy:57-125) ----
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity")).as("sum_qty"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_price_cents"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // -- multi-table id join + agg + top-k (DataUtils.groovy:40-87 joinTables
    //    + SURVEY §2.6 top-k) ----------------------------------------------
    "q2_join_topk" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).cast("long")).as("revenue_cents"),
          count(lit(1)).as("cnt"))
        .orderBy(desc("revenue_cents"))
    }),

    // -- window/top-1-per-group (the decorrelated ORDER BY ... LIMIT 1 —
    //    SpatialUnits.groovy:500-511 -> max_by, SURVEY §4) ------------------
    "q3_window_top1" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), col("o_orderkey"))
      o.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"))
        .orderBy("o_custkey")
    }),

    // -- left anti join (reference NOT IN subquery — RsuIndicators.groovy:494) --
    "q4_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").where(col("o_totalprice") > 400000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy("c_custkey")
    }),

    // -- tile assignment of geocoded points: pure-Catalyst rasterization
    //    (ST_MakeGrid + grid rasterize — SpatialUnits.groovy:563-567) -------
    "geo_tile_assign" -> ((s, dir) => {
      Tiling.rasterizePoints(docPoints(s, dir), "x", "y", 0.0, 0.0, 10.0, 10.0,
          Seq(count(lit(1)).as("cnt"), sum(col("n_chars")).as("sum_chars")))
        .orderBy("id_col", "id_row")
    }),

    // -- point-in-polygon join via cell-equijoin + prepared refinement
    //    (the engine's core spatial join, SURVEY §2.3 / north rule) ---------
    "geo_pip_join" -> ((s, dir) => {
      val rsu = GeoFixture.rsuDf(s).select("id_rsu", "the_geom")
      SpatialJoin.pointInPolygon(docPoints(s, dir), "x", "y", rsu, "the_geom", grid, Res)
        .select(col("doc_id"), col("id_rsu").cast("long").as("id_rsu"))
        .orderBy("doc_id")
    }),

    // -- raster<->vector zonal aggregation over the pip join ----------------
    "geo_zonal_stats" -> ((s, dir) => {
      val rsu = GeoFixture.rsuDf(s).select("id_rsu", "the_geom")
      SpatialJoin.pointInPolygon(docPoints(s, dir), "x", "y", rsu, "the_geom", grid, Res)
        .groupBy(col("id_rsu").cast("long").as("id_rsu"))
        .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("id_rsu")
    }),

    // -- max-overlap tile assignment (decorrelated top-1 by ST_AREA(ST_INTERSECTION)
    //    — SpatialUnits.groovy:479-527 mode (b)) ----------------------------
    "geo_maxoverlap_assign" -> ((s, dir) => {
      val foot = docPoints(s, dir).select(col("doc_id"),
        G.stMakeBox(col("x"), col("y"), col("x") + 2.0, col("y") + 2.0).as("fp"))
      val rsu = GeoFixture.rsuDf(s).select("id_rsu", "the_geom")
      SpatialJoin.assignMaxOverlap(foot, "doc_id", "fp", rsu, "id_rsu", "the_geom", grid, Res)
        .select(col("doc_id"), col("id_rsu").cast("long").as("id_rsu"))
        .orderBy("doc_id")
    }),

    // -- bounded min-distance kNN (k-ring expansion — BuildingIndicators.groovy:304-432) --
    "geo_knn_mindist" -> ((s, dir) => {
      import s.implicits._
      val sites = knnSites.toDF("site_id", "sx", "sy")
        .select(G.stPoint(col("sx"), col("sy")).as("sgeom"))
      val pts = docPoints(s, dir)
        .withColumn("pgeom", G.stPoint(col("x"), col("y")))
      SpatialJoin.minDistanceWithin(pts, "doc_id", "pgeom", sites, "sgeom",
          maxDist = 30.0, defaultDist = 100.0, grid, Res)
        // JTS point distance uses Math.hypot (1 ulp off plain sqrt); round to
        // make the oracle comparison representation-stable.
        .select(col("doc_id"), round(col("min_distance"), 3).as("min_distance"))
        .orderBy("doc_id")
    }),

    // -- exact deduplication (fixed-width digest-keyed groupBy — the text
    //    bytes never ride the shuffle; see Dedup.exact) ---------------------
    "dedup_exact" -> ((s, dir) => {
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // -- text analysis: token count + length + whitespace ratio ------------
    "text_stats" -> ((s, dir) => {
      t(s, dir, "documents").select(
          col("doc_id"),
          size(split(col("text"), " ", -1)).cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("len_chars"),
          (length(col("text")) - length(regexp_replace(col("text"), " ", ""))).cast("long").as("n_spaces"))
        .orderBy("doc_id")
    }),

    // -- building size properties (BuildingIndicators.groovy:54-101) over
    //    the synthetic rectangle layer --------------------------------------
    "bld_size_props" -> ((s, dir) => {
      BuildingIndicators.sizeProperties(docBuildings(s, dir))
        .select(col("id_build"), col("volume"), col("floor_area"),
          col("total_facade_length"), col("passive_volume_ratio"))
        .orderBy("id_build")
    }),

    // -- building form properties (BuildingIndicators.groovy:235-285) over
    //    L-shapes (non-trivial convex hull) ---------------------------------
    "bld_form_props" -> ((s, dir) => {
      BuildingIndicators.formProperties(docLShapes(s, dir))
        .select(col("id_build"),
          round(col("area_concavity"), 9).as("area_concavity"),
          round(col("form_factor"), 9).as("form_factor"),
          round(col("raw_compactness"), 9).as("raw_compactness"),
          round(col("perimeter_convexity"), 9).as("perimeter_convexity"))
        .orderBy("id_build")
    }),

    // -- scale-transfer aggregate (GenericIndicators.groovy:57-125):
    //    per-zone sum/avg with empty-zone 0 defaults --------------------------
    "agg_scale_transfer" -> ((s, dir) => {
      import graft.indicators.GenericIndicators._
      val lower = t(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 20).as("id_zone"), col("n_chars"))
      val upper = s.range(0, 25).toDF("id_zone")
      perUnit(lower, upper, "id_zone")(unweightedOperationFromLowerScale("doc_id",
        Map("n_chars" -> Seq(OpSum, OpAvg))))
        .select(col("id_zone"), col("sum_n_chars"), col("avg_n_chars"))
        .orderBy("id_zone")
    }),

    // -- RSU projections: aspect ratio + Davenport roughness class ----------
    "rsu_projection" -> ((s, dir) => {
      val rsu = t(s, dir, "documents").select(
        col("doc_id").as("id_rsu"),
        ((col("doc_id") % 101).cast("double") / 100.0).as("dens"),
        ((col("doc_id") % 50).cast("double") / 100.0).as("facade"),
        ((col("doc_id") % 2000).cast("double") / 1000.0).as("rough_len"))
      val ar = RsuIndicators.aspectRatio(rsu, "facade", "dens")
      val rc = RsuIndicators.effectiveTerrainRoughnessClass(rsu, "rough_len")
      ar.join(rc, "id_rsu")
        .select(col("id_rsu").cast("long").as("id_rsu"), col("aspect_ratio"),
          col("effective_terrain_roughness_class"))
        .orderBy("id_rsu")
    }),

    // -- tumbling-window aggregation over the events table (batch analogue
    //    of the streaming windowed agg) -------------------------------------
    "events_window" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").getField("start").as("win_start"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(floor(col("value") * 1000).cast("long")).as("sum_val_milli"))
        .orderBy("win_start", "event_type")
    }),

    // -- sessionization: 30-min-gap sessions per user (lag window) ----------
    "events_sessions" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            col("ts").cast("timestamp").cast("long") - col("prev_ts").cast("timestamp").cast("long") > 1800,
            1).otherwise(0))
        .groupBy("user_id")
        .agg(sum(col("new_sess")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    // -- exact n-gram Jaccard near-dup join (inverted-index candidates) -----
    "dedup_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text", k = 3, threshold = 0.12)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 9).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // -- brute-force cosine top-k over embeddings ---------------------------
    "ann_cosine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id").isin(1L, 7L, 42L, 99L, 123L))
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, 10)
        .select(col("qid"), col("rank").cast("long").as("rank"), col("vec_id"))
        .orderBy("qid", "rank")
    }),

    // -- language id + quality scoring (pure-Catalyst text pipeline) --------
    "text_analysis" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
          TextAnalysis.langId(col("text")).as("lang_id"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }),

    // -- connected components over the rectangle-intersects graph
    //    (blocks operator; oracle = recursive-CTE transitive closure) -------
    "blocks_cc" -> ((s, dir) => {
      val rects = t(s, dir, "documents").select(
        col("doc_id").as("id_build"),
        ((col("doc_id") * 13) % 60).cast("double").as("x0"),
        ((col("doc_id") * 29) % 60).cast("double").as("y0"))
        .withColumn("the_geom", G.stMakeBox(col("x0"), col("y0"), col("x0") + 2.0, col("y0") + 2.0))
      // res 14 (2-unit cells) — this layer packs 2x2 rects into a 60x60
      // window; the default res 10 (32-unit cells) would put every rect in
      // the same handful of cells (~6M candidate pairs instead of ~200k)
      ConnectedComponents.createBlocks(rects, grid, 14)
        .select(explode(col("id_builds")).as("id_build"),
          array_min(col("id_builds")).cast("long").as("component"))
        .select(col("id_build").cast("long").as("id_build"), col("component"))
        .orderBy("id_build")
    }))

  // =========================================================================
  val oracles: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q2_join_topk" ->
      """SELECT c_mktsegment,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS cnt
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY revenue_cents DESC""".stripMargin,
    "q3_window_top1" ->
      """SELECT o_custkey, o_orderkey FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "q4_anti_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin,
    "geo_tile_assign" ->
      s"""WITH $docPointsSql
        |SELECT CAST(floor(x / 10.0) AS BIGINT) + 1 AS id_col,
        |       CAST(floor(y / 10.0) AS BIGINT) + 1 AS id_row,
        |       count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM pts GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "geo_pip_join" ->
      s"""WITH $docPointsSql, $rsuRectsSql
        |SELECT doc_id, CAST(id_rsu AS BIGINT) AS id_rsu FROM pts JOIN rsu
        |ON x > xmin AND x < xmax AND y > ymin AND y < ymax
        |ORDER BY doc_id""".stripMargin,
    "geo_zonal_stats" ->
      s"""WITH $docPointsSql, $rsuRectsSql
        |SELECT CAST(id_rsu AS BIGINT) AS id_rsu, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM pts JOIN rsu ON x > xmin AND x < xmax AND y > ymin AND y < ymax
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "geo_maxoverlap_assign" ->
      s"""WITH $docPointsSql, $rsuRectsSql,
        |ov AS (SELECT doc_id, id_rsu,
        |    greatest(0.0, least(x + 2.0, xmax) - greatest(x, xmin))
        |  * greatest(0.0, least(y + 2.0, ymax) - greatest(y, ymin)) AS ia
        |  FROM pts JOIN rsu ON x + 2.0 > xmin AND x < xmax AND y + 2.0 > ymin AND y < ymax)
        |SELECT doc_id, CAST(id_rsu AS BIGINT) AS id_rsu FROM (
        |  SELECT doc_id, id_rsu, row_number() OVER (PARTITION BY doc_id ORDER BY ia DESC, id_rsu DESC) AS rn
        |  FROM ov WHERE ia > 0) WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "geo_knn_mindist" -> {
      val sitesSql = knnSites.map { case (i, x, y) => s"($i, $x, $y)" }.mkString(", ")
      s"""WITH $docPointsSql, sites(site_id, sx, sy) AS (VALUES $sitesSql),
        |d AS (SELECT doc_id, sqrt((x - sx)*(x - sx) + (y - sy)*(y - sy)) AS d
        |  FROM pts CROSS JOIN sites)
        |SELECT p.doc_id, round(coalesce(m.md, 100.0), 3) AS min_distance
        |FROM pts p LEFT JOIN (SELECT doc_id, min(d) AS md FROM d WHERE d <= 30.0 GROUP BY 1) m
        |ON p.doc_id = m.doc_id ORDER BY p.doc_id""".stripMargin
    },
    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS dup_cnt FROM documents
        |GROUP BY text ORDER BY doc_id""".stripMargin,
    "text_stats" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS len_chars,
        |  CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces
        |FROM documents ORDER BY doc_id""".stripMargin,
    "bld_size_props" ->
      s"""WITH $docBuildingsSql
        |SELECT id_build, w*h*0.5*(hw+hr) AS volume, w*h*lev AS floor_area,
        |  2*(w+h) AS total_facade_length,
        |  greatest(0.0, w-6)*greatest(0.0, h-6)/(w*h) AS passive_volume_ratio
        |FROM b ORDER BY id_build""".stripMargin,
    "bld_form_props" ->
      s"""WITH $docLShapesSql
        |SELECT id_build,
        |  round((w*h - nw*nh) / (w*h - nw*nh/2.0), 9) AS area_concavity,
        |  round((w*h - nw*nh) / power(2*(w+h), 2), 9) AS form_factor,
        |  round((2*(w+h)*hw
        |      + power(power(w*h - nw*nh, 2) + 4*(w*h - nw*nh)*power(hr-hw, 2), 0.5)
        |      + power(w*h - nw*nh, 0.5)*(hr-hw))
        |    / power((w*h - nw*nh)*(hw+hr)/2, 2.0/3), 9) AS raw_compactness,
        |  round((2*(w+h) - nw - nh + sqrt(nw*nw + nh*nh)) / (2*(w+h)), 9) AS perimeter_convexity
        |FROM b ORDER BY id_build""".stripMargin,
    "agg_scale_transfer" ->
      """WITH z AS (SELECT CAST(range AS BIGINT) AS id_zone FROM range(0, 25)),
        |g AS (SELECT doc_id % 20 AS id_zone, CAST(sum(CAST(n_chars AS DOUBLE)) AS DOUBLE) AS s,
        |        avg(CAST(n_chars AS DOUBLE)) AS a
        |      FROM documents GROUP BY 1)
        |SELECT z.id_zone, coalesce(g.s, 0.0) AS sum_n_chars, coalesce(g.a, 0.0) AS avg_n_chars
        |FROM z LEFT JOIN g ON z.id_zone = g.id_zone ORDER BY z.id_zone""".stripMargin,
    "rsu_projection" ->
      """WITH r AS (SELECT doc_id AS id_rsu,
        |  CAST(doc_id % 101 AS DOUBLE)/100.0 AS dens,
        |  CAST(doc_id % 50 AS DOUBLE)/100.0 AS facade,
        |  CAST(doc_id % 2000 AS DOUBLE)/1000.0 AS rough FROM documents)
        |SELECT id_rsu,
        |  CASE WHEN dens = 1 THEN NULL ELSE 0.5*facade/(1-dens) END AS aspect_ratio,
        |  CAST(CASE WHEN rough < 0 THEN NULL WHEN rough < 0.00035 THEN 1
        |    WHEN rough < 0.01525 THEN 2 WHEN rough < 0.065 THEN 3
        |    WHEN rough < 0.175 THEN 4 WHEN rough < 0.375 THEN 5
        |    WHEN rough < 0.75 THEN 6 WHEN rough < 1.5 THEN 7 ELSE 8 END AS INTEGER)
        |    AS effective_terrain_roughness_class
        |FROM r ORDER BY id_rsu""".stripMargin,
    "events_window" ->
      """SELECT date_trunc('hour', ts) AS win_start, event_type, count(*) AS cnt,
        |  CAST(sum(CAST(floor(value*1000) AS BIGINT)) AS BIGINT) AS sum_val_milli
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "events_sessions" ->
      """WITH e AS (SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN prev_ts IS NULL OR date_diff('second', prev_ts, ts) > 1800
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |idx AS (SELECT doc_id, w, unnest(range(0, len(w)-2)) AS g FROM toks WHERE len(w) >= 3),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(w[g+1:g+3], ' ') AS tri FROM idx),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.tri = b.tri AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  round(CAST(inter AS DOUBLE)/(sa.sz + sb.sz - inter), 9) AS jaccard
        |FROM pairs JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |WHERE CAST(inter AS DOUBLE)/(sa.sz + sb.sz - inter) >= 0.12
        |ORDER BY 1, 2""".stripMargin,
    "ann_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe FROM embeddings
        |  WHERE vec_id IN (1, 7, 42, 99, 123)),
        |s AS (SELECT q.qid, e.vec_id,
        |    list_dot_product(e.embedding::DOUBLE[], q.qe)
        |      / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
        |       * sqrt(list_dot_product(q.qe, q.qe))) AS sim
        |  FROM embeddings e, q WHERE e.vec_id <> q.qid)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id FROM (
        |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
        |  FROM s) WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    "text_analysis" -> {
      val langs = Seq("de", "en", "es", "fr", "it") // CASE checks descending
      val hits = langs.map { l =>
        val pat = TextAnalysis.Stopwords(l).mkString("\\b(", "|", ")\\b")
        s"len(regexp_split_to_array(text, '$pat')) - 1 AS h_$l"
      }.mkString(", ")
      s"""WITH h AS (SELECT doc_id, text, $hits FROM documents),
        |l AS (SELECT doc_id, text,
        |  CASE WHEN greatest(h_de, h_en, h_es, h_fr, h_it) <= 0 THEN 'und'
        |    WHEN h_it >= h_fr AND h_it >= h_es AND h_it >= h_en AND h_it >= h_de THEN 'it'
        |    WHEN h_fr >= h_es AND h_fr >= h_en AND h_fr >= h_de THEN 'fr'
        |    WHEN h_es >= h_en AND h_es >= h_de THEN 'es'
        |    WHEN h_en >= h_de THEN 'en' ELSE 'de' END AS lang_id
        |  FROM h),
        |m AS (SELECT doc_id, lang_id,
        |    CAST(length(text) AS DOUBLE) AS ln,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS ntok,
        |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS na
        |  FROM l)
        |SELECT doc_id, lang_id,
        |  round(0.4*least(ln/1000.0, 1.0)
        |      + 0.3*(1.0 - least(abs((ln - (ntok - 1))/ntok - 5.0)/5.0, 1.0))
        |      + 0.3*(na/ln), 6) AS quality
        |FROM m ORDER BY doc_id""".stripMargin
    },
    "blocks_cc" ->
      """WITH RECURSIVE r AS (SELECT doc_id AS id,
        |    CAST((doc_id * 13) % 60 AS DOUBLE) AS x0,
        |    CAST((doc_id * 29) % 60 AS DOUBLE) AS y0 FROM documents),
        |e AS (SELECT a.id AS src, b.id AS dst FROM r a JOIN r b
        |  ON a.x0 <= b.x0 + 2 AND b.x0 <= a.x0 + 2 AND a.y0 <= b.y0 + 2 AND b.y0 <= a.y0 + 2),
        |reach AS (
        |  SELECT id AS a, id AS b FROM r
        |  UNION
        |  SELECT re.a, e.dst AS b FROM reach re JOIN e ON re.b = e.src)
        |SELECT a AS id_build, CAST(min(b) AS BIGINT) AS component
        |FROM reach GROUP BY a ORDER BY a""".stripMargin)
}
