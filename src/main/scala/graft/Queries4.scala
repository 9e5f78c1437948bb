package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.geom.{GeoFunctions => G}
import graft.index.CellGrid
import graft.ml.RandomForest
import graft.indicators.{GridIndicators, RsuIndicators, Svf}
import graft.operators.{SpatialUnits, Tiling}
import graft.sources.OsmFormatting

/**
 * Fourth query batch (round 2): the TSU preparation front-half, UTRF
 * random-forest apply (+height regression), grid population, the sprawl
 * areas/distances chain, EXACT ray-cast SVF, WGS84→UTM reprojection, OSM
 * height parsing, TARGET grid export, zone-stats writeback, sea/land
 * tessellation fractions, multi-size warm windows, and the text-curation
 * flagship. Synthetic prepareTSUData layers are axis-aligned integer
 * rectangles/lines placed in DISJOINT x-bands of 1000 units per layer, so
 * the oracle categorizes output rows by centroid-x band and replicates
 * every filter/cluster/threshold in pure SQL (incl. the vegetation/water
 * connected components via a recursive CTE) — see "Oracle-exactness rules",
 * Queries.scala.
 */
object Queries4 {

  private val grid = CellGrid.fixture
  private val Res = 10

  // ---- synthetic layers for prepareTSUData (x-band per category) ----------
  // zone band 0, road 1000, rail 2000, veget 3000, water 4000, land 5000,
  // urban 6000. All coordinates integral -> lengths/areas exact doubles.

  private def zoneL(s: SparkSession): DataFrame =
    s.range(1).select(G.stMakeBox(lit(0.0), lit(0.0), lit(300.0), lit(300.0)).as("the_geom"))

  private def roadL(s: SparkSession): DataFrame =
    s.range(0, 40).select(
      col("id").as("id_road"),
      G.stGeomFromWkt(format_string("LINESTRING(%d 0, %d 20)",
        lit(1000) + col("id") * 5, lit(1000) + col("id") * 5)).as("the_geom"),
      element_at(lit(Array("highway", "track", "residential", "service", "primary")),
        (col("id") % 5).cast("int") + 1).as("type"),
      (col("id") % 2).cast("int").as("zindex"),
      when(col("id") % 7 === 0, "bridge").otherwise(lit(null).cast("string")).as("crossing"),
      when(col("id") % 11 === 0, 1).otherwise(0).as("tunnel"))

  private def railL(s: SparkSession): DataFrame =
    s.range(0, 20).select(
      col("id").as("id_rail"),
      G.stGeomFromWkt(format_string("LINESTRING(2000 %d, 2015 %d)",
        col("id") * 7, col("id") * 7)).as("the_geom"),
      when(col("id") % 3 =!= 0, "main").otherwise("service").as("usage"),
      (col("id") % 2).cast("int").as("zindex"),
      when(col("id") % 4 === 0, "bridge").otherwise(lit(null).cast("string")).as("crossing"))

  /** vegetation strips: row r has (1 + r%4) 'low' then (r%4) 'high' adjacent
    * 2x2 rects — one contact cluster per strip; per-class unions thresholded. */
  private def vegetL(s: SparkSession): DataFrame =
    s.range(0, 10).select(col("id").as("r"),
        explode(sequence(lit(0), (lit(1) + col("id") % 4) + (col("id") % 4) - 1)).as("j"))
      .select(
        (col("r") * 100 + col("j")).as("id_veget"),
        G.stMakeBox(lit(3000.0) + col("j") * 2, lit(400.0) + col("r") * 10,
          lit(3000.0) + col("j") * 2 + 2, lit(400.0) + col("r") * 10 + 2).as("the_geom"),
        when(col("j") < col("r") % 4 + 1, "low").otherwise("high").as("height_class"),
        lit(0).as("zindex"))

  /** water strips: row r has (3 + r%3) adjacent 3x3 rects; member zindex=1
    * when (j² + r) % 5 < 2, so strip r=1 has two ADJACENT zindex-1 members
    * (j=2,3) and splits — exercising the reference's a.zindex=0 edge rule. */
  private def waterL(s: SparkSession): DataFrame =
    s.range(0, 6).select(col("id").as("r"),
        explode(sequence(lit(0), lit(2) + col("id") % 3)).as("j"))
      .select(
        (col("r") * 100 + col("j")).as("id_water"),
        G.stMakeBox(lit(4000.0) + col("j") * 3, lit(500.0) + col("r") * 10,
          lit(4000.0) + col("j") * 3 + 3, lit(500.0) + col("r") * 10 + 3).as("the_geom"),
        when((col("j") * col("j") + col("r")) % 5 < 2, 1).otherwise(0).as("zindex"))

  private def landL(s: SparkSession): DataFrame =
    s.range(0, 4).select(
      G.stMakeBox(lit(5000.0) + col("id") * 10, lit(250.0),
        lit(5000.0) + col("id") * 10 + 8, lit(258.0)).as("the_geom"),
      when(col("id") % 2 === 0, "land").otherwise("sea").as("type"))

  private def urbanL(s: SparkSession): DataFrame =
    s.range(0, 10).select(
      G.stMakeBox(lit(6000.0) + col("id") * 12, lit(350.0),
        lit(6000.0) + col("id") * 12 + (col("id") % 5) + 4, lit(360.0)).as("the_geom"),
      when(col("id") % 4 === 0, "social_building")
        .when(col("id") % 6 === 5, lit(null).cast("string"))
        .otherwise("residential").as("type"))

  // ---- random-forest apply (TypologyClassification.groovy:654-805) --------
  // UTRF typology classes (reference vocabulary: TypologyClassification's
  // UTRF output legend — ba/bgh/icif/icio/id/local/pcif/pcio/pd/psc).
  private val UtrfClasses = Seq("ba", "bgh", "icif", "icio", "id",
    "local", "pcif", "pcio", "pd", "psc")

  /** (name, lo, hi, Spark column over doc_id d, SQL expr over d) — synthetic
    * building-scale indicator features; same arithmetic on both engines. */
  private val rfFeatures: Seq[(String, Double, Double, org.apache.spark.sql.Column, String)] = {
    val d = col("doc_id")
    Seq(
      ("area", 0.0, 500.0, (d * 7 % 500).cast("double"), "CAST(d * 7 % 500 AS DOUBLE)"),
      ("floor_area_ratio", 0.0, 3.0, (d % 300).cast("double") / 100, "CAST(d % 300 AS DOUBLE) / 100"),
      ("aspect_ratio", 0.0, 2.0, (d * 3 % 200).cast("double") / 100, "CAST(d * 3 % 200 AS DOUBLE) / 100"),
      ("form_factor", 0.0, 1.0, (d * 11 % 100).cast("double") / 100, "CAST(d * 11 % 100 AS DOUBLE) / 100"),
      ("height_wall", 0.0, 30.0, (d % 30).cast("double"), "CAST(d % 30 AS DOUBLE)"),
      ("contiguity", 0.0, 1.0, (d * 13 % 100).cast("double") / 100, "CAST(d * 13 % 100 AS DOUBLE) / 100"),
      ("road_distance", 0.0, 100.0, (d * 17 % 100).cast("double"), "CAST(d * 17 % 100 AS DOUBLE)"))
  }
  private lazy val utrfForest = RandomForest.synthetic(
    rfFeatures.map(f => (f._1, f._2, f._3)), numTrees = 15, depth = 4,
    leafValue = r => r.nextInt(UtrfClasses.size).toDouble, seed = 101L)
  private lazy val heightForest = RandomForest.synthetic(
    rfFeatures.map(f => (f._1, f._2, f._3)), numTrees = 20, depth = 5,
    leafValue = r => math.rint((3.0 + r.nextDouble() * 27.0) * 10000) / 10000, seed = 202L)

  private def rfInput(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet").select(
      col("doc_id").as("id_build") +: rfFeatures.map(f => f._4.as(f._1)): _*)

  private val rfFeatSqlMap: Map[String, String] = rfFeatures.map(f => f._1 -> f._1).toMap
  private def rfInputSql: String =
    "b AS (SELECT doc_id AS id_build, " +
      rfFeatures.map(f => s"${f._5} AS ${f._1}").mkString(", ") +
      " FROM (SELECT doc_id, doc_id AS d FROM documents))"

  // ---- sprawl scenario (SpatialUnits.groovy:611-758): 40x10 grid of 10x10
  // cells; urban blobs A (with a 3x3 rural enclave) and B merge through a
  // 10-unit gap under closing distance 15; C stays separate. Hand-derived
  // final geometry (all axis-aligned):
  //   sprawl AB = [0,190]x[10,70], sprawl C = [240,290]x[20,70],
  //   cool enclave = [20,50]x[30,60], extent = [0,290]x[10,70].
  private def sprawlGrid(s: SparkSession): DataFrame = {
    val cells = Tiling.makeGrid(s, 0, 0, 400, 100, 10, 10)
    val c = col("id_col"); val r = col("id_row")
    val urban =
      (c.between(1, 9) && r.between(2, 7) && !(c.between(3, 5) && r.between(4, 6))) ||
      (c.between(11, 19) && r.between(2, 7)) ||
      (c.between(25, 29) && r.between(3, 7))
    cells.withColumn("lcz_primary", when(urban, 1).otherwise(101))
      .withColumn("id_zone", lit(1)) // single zone: ids match the hand-derived oracle
  }

  // The reference computes sprawlIndicators ONCE and writes the areas +
  // distance tables of that single call together (WorkflowGeoIndicators.
  // groovy:2447-2512) — sprawl_areas / sprawl_distances (here) and
  // grid_sprawl_indicators (Queries6) are three EXPORTS of that one run:
  // memoize it per session (fixture-driven, dir-independent), the same
  // compute-once-export-N-times pattern as Queries6.e2eChain. Returns
  // (grid with distance columns, sprawl layer).
  private val sprawlRunMemo = new SessionMemo[Unit, (DataFrame, DataFrame)]()
  private[graft] def sprawlRun(s: SparkSession): (DataFrame, DataFrame) =
    sprawlRunMemo(s, ()) {
      val (gi, sprawl, _) = graft.workflow.WorkflowRunner.sprawlIndicators(
        s, sprawlGrid(s), Seq("URBAN_SPRAWL_AREAS", "URBAN_SPRAWL_DISTANCES",
          "URBAN_SPRAWL_COOL_DISTANCES"), 15.0, grid, Res)
      (gi.localCheckpoint(), sprawl.get)
    }

  // ---- exact-SVF scene: 4 RSU squares 100x100 at 120 spacing, 12 strictly
  // interior non-overlapping buildings each (rays DO cross into neighbour
  // RSUs — obstruction search is purely spatial, as in the reference).
  private val SvfDirs = 12
  private val SvfDensity = 0.002
  private def svfRsu(s: SparkSession): DataFrame =
    s.range(0, 4).select(col("id").cast("int").as("id_rsu"),
      G.stMakeBox(col("id") * 120.0, lit(0.0), col("id") * 120.0 + 100, lit(100.0)).as("the_geom"))
  private def svfBuildings(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    s.read.parquet(s"$dir/documents.parquet").where(d < 48).select(
      d.as("id_build"),
      G.stMakeBox(
        (d % 4) * 120 + lit(10.0) + floor(d / 4) % 4 * 22,
        lit(10.0) + floor(floor(d / 4) / 4) * 25,
        (d % 4) * 120 + lit(10.0) + floor(d / 4) % 4 * 22 + (d % 5) + 6,
        lit(10.0) + floor(floor(d / 4) / 4) * 25 + (d * 3 % 6) + 6).as("the_geom"),
      (d % 15 + 3).cast("double").as("height_wall"))
  }

  // =========================================================================
  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // -- EXACT ground sky view factor (ST_SVF ray casting — RsuIndicators.
    //    groovy:219-348; deterministic Halton sampling replaces the
    //    reference's unseeded random ST_GENERATEPOINTS, see Svf scaladoc) --
    "rsu_svf_exact" -> ((s, dir) => {
      val b = svfBuildings(s, dir)
      Svf.groundSkyViewFactor(svfRsu(s), RsuIndicators.unitPairs(b, svfRsu(s), "id_rsu", grid, Res),
          b, grid, Res, pointDensity = SvfDensity, rayLength = 100.0, numberOfDirection = SvfDirs)
        .select(col("id_rsu"), round(col("ground_sky_view_factor"), 6).as("ground_sky_view_factor"))
        .orderBy("id_rsu")
    }),

    // -- sprawl areas: urban-cell union + closing (erode/dilate); an
    //    EXPORT of the memoized sprawlIndicators run (sprawlRun) ----------
    "sprawl_areas" -> ((s, dir) => {
      sprawlRun(s)._2
        .select(col("id"),
          round(G.stArea(col("the_geom")), 9).as("area"),
          round(G.stPerimeter(col("the_geom")), 9).as("perimeter"))
        .orderBy("id")
    }),

    // -- the full sprawl-distances chain (WorkflowGeoIndicators.groovy:
    //    2436-2530): in-sprawl distance, out-of-sprawl distance (via the
    //    inverse layer), and distance to cool areas inside the sprawl —
    //    the distance-column export of the same memoized run -------------
    "sprawl_distances" -> ((s, dir) => {
      sprawlRun(s)._1
        .select(col("id_grid"),
          round(col("urban_sprawl_indist"), 3).as("urban_sprawl_indist"),
          round(col("urban_sprawl_outdist"), 3).as("urban_sprawl_outdist"),
          round(col("urban_sprawl_cool_indist"), 3).as("urban_sprawl_cool_indist"))
        .orderBy("id_grid")
    }),

    // -- offline zone resolution (extractOSMZone bbox branch,
    //    WorkflowOSM.groovy:719-775): 20 synthetic bboxes (10 northern, 10
    //    southern, all UTM zone 31) -> extended envelope (spherical-arc
    //    expansion), SRID pick, and corner-reprojected zone / extended-bbox
    //    quads read back from the RESULT tables. Envelope degrees round 6
    //    (libm cos in the longitude delta), UTM meters round 3. ----------
    "zone_extract" -> ((s, dir) => {
      import s.implicits._
      import graft.workflow.ZoneExtract
      val ks = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") < 20).select(col("doc_id").cast("int"))
        .collect().map(_.getInt(0)).sorted.toSeq
      val rows = ks.map { k =>
        val (south, west) =
          if (k < 10) (43.0 + k * 0.37, 0.7 + k * 0.41)
          else (-34.0 - (k - 10) * 0.29, 1.1 + (k - 10) * 0.33)
        val z = ZoneExtract.extractOSMZone(s,
          (south, west, south + 0.06, west + 0.07), 150.0 + k * 25)
        def corners(df: DataFrame) = {
          val q = graft.geom.Geo.fromWkb(df.head().getAs[Array[Byte]]("the_geom"))
          val cs = q.getCoordinates // ring order: SW, SE, NE, NW, SW
          (cs(0).x, cs(0).y, cs(2).x, cs(2).y)
        }
        val (zswE, zswN, zneE, zneN) = corners(z.utmZoneTable)
        val (bswE, bswN, bneE, bneN) = corners(z.utmExtendedBboxTable)
        val e = z.osmEnvelopeExtended
        (k, z.utmSrid, e.minLon, e.minLat, e.maxLon, e.maxLat,
          zswE, zswN, zneE, zneN, bswE, bswN, bneE, bneN)
      }
      rows.toDF("k", "srid", "eminlon", "eminlat", "emaxlon", "emaxlat",
          "zsw_e", "zsw_n", "zne_e", "zne_n", "bsw_e", "bsw_n", "bne_e", "bne_n")
        .select(col("k"), col("srid"),
          round(col("eminlon"), 6).as("eminlon"), round(col("eminlat"), 6).as("eminlat"),
          round(col("emaxlon"), 6).as("emaxlon"), round(col("emaxlat"), 6).as("emaxlat"),
          round(col("zsw_e"), 3).as("zsw_e"), round(col("zsw_n"), 3).as("zsw_n"),
          round(col("zne_e"), 3).as("zne_e"), round(col("zne_n"), 3).as("zne_n"),
          round(col("bsw_e"), 3).as("bsw_e"), round(col("bsw_n"), 3).as("bsw_n"),
          round(col("bne_e"), 3).as("bne_e"), round(col("bne_n"), 3).as("bne_n"))
        .orderBy("k")
    }),

    // -- ST_TRANSFORM lon/lat -> UTM (WorkflowGeoIndicators.groovy:2283;
    //    Karney-Krueger 6th-order series, zone 31 north). Oracle replicates
    //    the series with exp/ln hyperbolics; libm 1-ulp differences are
    //    ~1e-9 m -> round 3 (mm). -----------------------------------------
    "geo_utm_transform" -> ((s, dir) => {
      val src = s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"),
        (lit(2.5) + (col("doc_id") % 200).cast("double") / 100).as("lon"),
        (lit(43.0) + (col("doc_id") * 7 % 600).cast("double") / 100).as("lat"))
      src.select(col("doc_id"),
          graft.geom.Projection.stTransformUtm(col("lon"), col("lat"),
            lit(31), lit(true)).as("__utm"))
        .select(col("doc_id"),
          round(col("__utm._1"), 3).as("easting"),
          round(col("__utm._2"), 3).as("northing"))
        .orderBy("doc_id")
    }),

    // -- OSM height-tag parsing + height/level consistency rules
    //    (InputDataFormatting.groovy:904-993 + WorkflowGeoIndicators.groovy:
    //    2353-2398); the oracle switches on the synthetic tag shapes, so it
    //    checks the regex pipeline against analytic expectations. ---------
    "osm_format_heights" -> ((s, dir) => {
      val d = col("doc_id")
      val v = (d % 20 + 1).cast("string")
      val raw = s.read.parquet(s"$dir/documents.parquet").select(
        d.as("id_build"),
        when(d % 8 === 0, lit(null).cast("string"))
          .when(d % 8 === 1, v)
          .when(d % 8 === 2, concat(v, lit(".5 m")))
          .when(d % 8 === 3, concat(v, lit("'")))
          .when(d % 8 === 4, concat(v, lit("''")))
          .when(d % 8 === 5, concat(v, lit("'"), (d % 12).cast("string"), lit("''")))
          .when(d % 8 === 6, concat(v, lit(" foot")))
          .otherwise(lit("n/a")).as("height"),
        when(d % 3 === 0, "2.5").otherwise(lit(null).cast("string")).as("roof_height"),
        when(d % 4 === 0, (d % 5 + 1).cast("string")).otherwise(lit(null).cast("string")).as("b_lev"),
        when(d % 6 === 0, "1").otherwise(lit(null).cast("string")).as("r_lev"),
        element_at(lit(Array("residential", "house", "commercial", "industrial")),
          (d % 4).cast("int") + 1).as("type"))
      // the parsed roof height is staged into its own column, so heightWall
      // and formatHeights read an attribute: inlined, its regex tree repeats
      // until the generated Java no longer compiles
      val hr = col("__hr")
      val hw = OsmFormatting.heightWall(hr, col("roof_height"))
      val nl = OsmFormatting.nbLevels(col("b_lev"), col("r_lev"))
      val fh = OsmFormatting.formatHeights(hw, hr, nl, 3.0, col("type"),
        Map("residential" -> 1, "house" -> 1, "commercial" -> 2))
      raw.withColumn("__hr", OsmFormatting.heightRoof(col("height")))
        .select(col("id_build"), fh.as("__f"))
        .select(col("id_build"),
          round(col("__f.height_wall"), 6).as("height_wall"),
          round(col("__f.height_roof"), 6).as("height_roof"),
          col("__f.nb_lev").as("nb_lev"), col("__f.estimated").as("estimated"))
        .orderBy("id_build")
    }),

    // -- TARGET-schema grid export (GridIndicators.groovy:382-448) --------
    "grid_target" -> ((s, dir) => {
      val g = col("id_grid")
      val gi = Tiling.makeGrid(s, 0, 0, 50, 40, 10, 10).select(
        col("the_geom"), col("id_col"), col("id_row"),
        ((g % 10).cast("double") / 20).as("building_fraction"),
        ((g % 5).cast("double") / 50).as("high_vegetation_building_fraction"),
        ((g % 7).cast("double") / 30).as("high_vegetation_fraction"),
        ((g % 3).cast("double") / 60).as("high_vegetation_road_fraction"),
        ((g % 4).cast("double") / 80).as("high_vegetation_water_permanent_fraction"),
        ((g % 6).cast("double") / 40).as("road_fraction"),
        ((g % 5).cast("double") / 100).as("water_permanent_fraction"),
        ((g % 8).cast("double") / 80).as("impervious_fraction"),
        ((g % 2).cast("double") / 50).as("rail_fraction"),
        ((g % 9).cast("double") / 90).as("undefined_fraction"),
        ((g % 11).cast("double") / 110).as("low_vegetation_fraction"),
        ((g % 15).cast("double") + 2).as("avg_height_roof_area_weighted"),
        ((g % 9).cast("double") + 3).as("street_width"))
      GridIndicators.formatGrid4Target(gi,
          Map("high_vegetation" -> Seq("building", "road", "water_permanent")))
        .select(col("fid"), col("id_col"), col("id_row"),
          round(col("roof"), 9).as("roof"), round(col("road"), 9).as("road"),
          round(col("watr"), 9).as("watr"), round(col("conc"), 9).as("conc"),
          round(col("veg"), 9).as("veg"), round(col("dry"), 9).as("dry"),
          col("irr"), round(col("h"), 9).as("h"), round(col("w"), 9).as("w"))
        .orderBy("fid")
    }),

    // -- multi-size warm-window counts (GridIndicators.groovy:450-496):
    //    per cell and window size, the count of OTHER cells in the window
    //    and how many are warm LCZ. ---------------------------------------
    "grid_warm_windows" -> ((s, dir) => {
      val d = col("doc_id")
      val cells = s.read.parquet(s"$dir/documents.parquet").select(
        d.as("id_grid"), (d % 25 + 1).as("id_row"),
        (floor(d / 25).cast("long") + 1).as("id_col"),
        element_at(lit(Array(1, 2, 6, 8, 101, 104, 107)), (d % 7).cast("int") + 1).as("lcz"))
      GridIndicators.gridCountCellsWarm(cells, "lcz", Seq(1, 2))
        .orderBy("id_grid")
    }),

    // -- training-data curation flagship: exact dedup -> near-dup drop
    //    (MinHash-LSH candidates + exact-jaccard verify, greedy keep-smaller
    //    survivor) -> language/quality gate. The oracle composes the same
    //    three stages from their already-verified SQL building blocks. ----
    "text_curation" -> ((s, dir) => {
      operators.Curation.curate(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          lang = "en", minQuality = 0.6)
        .select(col("doc_id"), col("lang_id"),
          round(col("quality"), 6).as("quality"), col("n_tokens"))
        .orderBy("doc_id")
    }),

    // -- sea/land tessellation + zonal fractions (WorkflowGeoIndicators.
    //    groovy:2100-2127): big polygons split to triangles BEFORE the
    //    zonal overlay so per-pair work stays bounded; the fractions must be
    //    invariant under tessellation — the oracle computes them from the
    //    UNSPLIT rects (round 6: triangle clip areas re-sum within 1e-12).
    "geo_tesselate_fractions" -> ((s, dir) => {
      val d = col("doc_id")
      val zones = Tiling.makeGrid(s, 0, 0, 150, 150, 50, 50)
        .select(col("id_grid").as("id_zone"), col("the_geom"))
      val masks = s.read.parquet(s"$dir/documents.parquet").where(d < 40).select(
        G.stMakeBox((d * 11 % 120).cast("double"), (d * 23 % 120).cast("double"),
          (d * 11 % 120).cast("double") + (d % 30) + 10,
          (d * 23 % 120).cast("double") + (d * 3 % 30) + 10).as("the_geom"),
        when(d % 3 === 0, "sea").otherwise("land").as("cls"))
      val tris = masks.select(
        explode(G.stExplode(G.stTesselate(col("the_geom")))).as("vgeom"), col("cls"))
      Tiling.zonalAreaStats(zones, "id_zone", "the_geom", tris, "vgeom", "cls",
          Seq("land", "sea"), grid, Res)
        .select(col("id_zone"),
          round(col("area_fraction_land"), 6).as("area_fraction_land"),
          round(col("area_fraction_sea"), 6).as("area_fraction_sea"))
        .orderBy("id_zone")
    }),

    // -- zone-stats writeback (WorkflowGeoIndicators.groovy:1670-1712):
    //    run reporting appended to the zone table; wall-clock/timestamps are
    //    parameters so the transform stays deterministic. ------------------
    "zone_stats" -> ((s, dir) => {
      val d = col("doc_id")
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val zone = s.range(1).select(lit(1).as("id_zone"),
        G.stMakeBox(lit(0.0), lit(0.0), lit(100.0), lit(100.0)).as("the_geom"))
      val bld = docs.select(d.as("id_build"),
        when(d % 7 === 0, lit(null).cast("long")).otherwise(d % 50).as("id_rsu"))
      val blk = docs.where(d % 10 === 0).select(d.as("id_block"))
      val rsu = docs.where(d < 50).select(d.as("id_rsu"))
      lake.ZoneStats.computeZoneStats(zone, Some(bld), Some(blk), Some(rsu),
          nbEstimatedBuilding = 42L, computationTimeSec = 7L,
          lastUpdate = "2026-01-01 00:00:00", version = "0.2", buildNumber = "r2")
        .select(col("id_zone"), col("nb_building"), col("nb_estimated_building"),
          col("nb_block"), col("nb_rsu"), col("computation_time"),
          col("last_update"), col("version"), col("build_number"))
    }),

    // -- grid population disaggregation (GridIndicators.groovy:45-109) ----
    "grid_population" -> ((s, dir) => {
      val cells = Tiling.makeGrid(s, 0, 0, 100, 100, 10, 10)
      val pop = s.read.parquet(s"$dir/documents.parquet").where(col("doc_id") < 50)
        .select(col("doc_id").as("id_pop"),
          G.stMakeBox((col("doc_id") * 13 % 90).cast("double"),
            (col("doc_id") * 29 % 90).cast("double"),
            (col("doc_id") * 13 % 90).cast("double") + (col("doc_id") % 12).cast("double") + 4,
            (col("doc_id") * 29 % 90).cast("double") + (col("doc_id") * 3 % 12).cast("double") + 4)
            .as("the_geom"),
          ((col("doc_id") % 17 + 1) * 10).cast("double").as("pop"),
          (col("doc_id") % 7 + 1).cast("double").as("pop2"))
      GridIndicators.gridPopulation(cells, pop, Seq("pop", "pop2"), grid, Res)
        .select(col("id_grid"),
          round(col("pop"), 9).as("pop"), round(col("pop2"), 9).as("pop2"))
        .orderBy("id_grid")
    }),

    // -- UTRF typology: random-forest classification apply (broadcast model
    //    compiled to Catalyst CASE chains; majority vote, ties to smallest
    //    class index — smile argmax). -------------------------------------
    "utrf_classify" -> ((s, dir) => {
      val in = rfInput(s, dir)
      val feats = rfFeatures.map(f => f._1 -> col(f._1)).toMap
      val votes = RandomForest.classifyVoteColumns(utrfForest, feats, UtrfClasses.size)
      val withVotes = in.select(
        col("id_build") +: votes.zipWithIndex.map { case (v, c) => v.as(s"__v$c") }: _*)
      withVotes.select(col("id_build"),
          RandomForest.argmaxColumn(
            UtrfClasses.indices.map(c => col(s"__v$c")), UtrfClasses).as("typo_maj"),
          col("__v0").cast("long").as("votes_ba"))
        .orderBy("id_build")
    }),

    // -- building-height estimation: random-forest regression apply (mean of
    //    tree outputs in tree order — WorkflowGeoIndicators.groovy:1254-1298
    //    semantics, model synthesized offline). ---------------------------
    "rf_height_estimate" -> ((s, dir) => {
      val in = rfInput(s, dir)
      val feats = rfFeatures.map(f => f._1 -> col(f._1)).toMap
      in.select(col("id_build"),
          round(RandomForest.regressColumn(heightForest, feats), 9).as("height_est"))
        .orderBy("id_build")
    }),

    // -- prepareTSUData (SpatialUnits.groovy:171-364): per-layer filters,
    //    vegetation/water contact clustering with surface thresholds, line
    //    mesh assembly. Output categorized by x-band; counts + total
    //    boundary length per category. -----------------------------------
    "geo_tsu_prepare" -> ((s, dir) => {
      val prepared = SpatialUnits.prepareTSUData(
        zoneL(s), Some(roadL(s)), Some(railL(s)), Some(vegetL(s)),
        Some(waterL(s)), Some(landL(s)), Some(urbanL(s)),
        surfaceVegetation = 10.0, surfaceHydro = 20.0, surfaceUrbanAreas = 60.0,
        grid, Res)
      prepared
        .select(floor(G.stX(G.stCentroid(col("the_geom"))) / 1000).cast("long").as("category"),
          G.stLength(col("the_geom")).as("__len"))
        .groupBy("category")
        .agg(count(lit(1)).as("n_geoms"), round(sum(col("__len")), 9).as("total_len"))
        .orderBy("category")
    }))

  /** Generated exact-SVF oracle: Halton radical inverses with the engine's
    * own f-constants, direction vectors and density as exact round-trip
    * literals, and the SAME ray/segment crossing formula — so both engines
    * take identical branches; only summation order differs (round 6). */
  private lazy val svfOracle: String = {
    def L(x: Double): String = {
      val s = x.toString
      "CAST(" + (if (s.contains('.') || s.contains('E')) s else s + ".0") + " AS DOUBLE)"
    }
    // base-2 radical inverse: dyadic, exact in any order. 13 bits: the
    // engine scans candidate i up to 4096 = 2^12 inclusive
    // (Svf.deterministicPoints maxTrials), so bit 12 must be representable
    // even though the fixture finds its ~17 points long before trial 4096.
    val rad2 = (0 until 13).map(b => s"((i >> $b) & 1) * ${L(math.pow(0.5, b + 1))}")
      .mkString(" + ")
    // base-3: f-constants from the SAME successive-division loop as
    // Svf.radical3 (1.0/3 then /=3 — NOT algebraic 3^-(b+1))
    val f3 = { var f = 1.0 / 3; (0 until 8).map { _ => val v = f; f /= 3; v } }
    val rad3 = f3.zipWithIndex.map { case (f, b) =>
      val p3 = math.pow(3, b).toLong
      s"((i // $p3) % 3) * ${L(f)}"
    }.mkString(" + ")
    val dirVals = Svf.directions(SvfDirs).zipWithIndex.map { case ((cx, cy), k) =>
      s"($k, ${L(cx)}, ${L(cy)})"
    }.mkString(", ")
    s"""WITH b AS (SELECT doc_id AS id_build, CAST(doc_id % 4 AS INT) AS id_rsu,
      |    CAST((doc_id % 4) * 120 + 10 + ((doc_id // 4) % 4) * 22 AS DOUBLE) AS bx0,
      |    CAST(10 + ((doc_id // 4) // 4) * 25 AS DOUBLE) AS by0,
      |    CAST((doc_id % 4) * 120 + 10 + ((doc_id // 4) % 4) * 22 + (doc_id % 5) + 6 AS DOUBLE) AS bx1,
      |    CAST(10 + ((doc_id // 4) // 4) * 25 + (doc_id * 3 % 6) + 6 AS DOUBLE) AS by1,
      |    CAST(doc_id % 15 + 3 AS DOUBLE) AS hw
      |  FROM documents WHERE doc_id < 48),
      |r AS (SELECT CAST(range AS INT) AS id_rsu, CAST(range * 120 AS DOUBLE) AS rx0 FROM range(0, 4)),
      |ar AS (SELECT r.id_rsu, r.rx0,
      |    10000.0 - (SELECT sum((bx1-bx0)*(by1-by0)) FROM b WHERE b.id_rsu = r.id_rsu) AS area_free
      |  FROM r),
      |np AS (SELECT id_rsu, rx0, least(CAST(floor(${L(SvfDensity)} * area_free) AS BIGINT), 100) AS n FROM ar),
      |cand AS (SELECT np.id_rsu, np.n, i,
      |    np.rx0 + ${L(1e-4)} + ($rad2) * ${L(100.0)} AS px,
      |    ${L(0.0)} + ${L(1e-4)} + ($rad3) * ${L(100.0)} AS py
      |  FROM np CROSS JOIN (SELECT CAST(range AS INT) AS i FROM range(1, 4097))),
      |acc AS (SELECT *, row_number() OVER (PARTITION BY id_rsu ORDER BY i) AS rk FROM cand
      |  WHERE px > rx0 AND px < rx0 + 100 AND py > 0 AND py < 100
      |    AND NOT EXISTS (SELECT 1 FROM b WHERE b.id_rsu = cand.id_rsu
      |      AND px >= b.bx0 AND px <= b.bx1 AND py >= b.by0 AND py <= b.by1)),
      |pts AS (SELECT id_rsu, px, py FROM acc WHERE rk <= n),
      |svfpts AS (SELECT * FROM pts WHERE EXISTS (SELECT 1 FROM b
      |  WHERE sqrt(power(greatest(b.bx0 - px, px - b.bx1, 0), 2)
      |           + power(greatest(b.by0 - py, py - b.by1, 0), 2)) <= 100)),
      |segs AS (
      |  SELECT hw, bx0 AS x1, by0 AS y1, bx1 AS x2, by0 AS y2 FROM b
      |  UNION ALL SELECT hw, bx1, by0, bx1, by1 FROM b
      |  UNION ALL SELECT hw, bx1, by1, bx0, by1 FROM b
      |  UNION ALL SELECT hw, bx0, by1, bx0, by0 FROM b),
      |dirs(k, cx, cy) AS (VALUES $dirVals),
      |hits AS (SELECT p.id_rsu, p.px, p.py, d.k,
      |    s.hw * s.hw / (s.hw * s.hw + t.t * t.t) AS sin2
      |  FROM svfpts p CROSS JOIN dirs d CROSS JOIN segs s,
      |  LATERAL (SELECT CASE WHEN d.cx * (s.y2 - s.y1) - d.cy * (s.x2 - s.x1) = 0 THEN NULL
      |      ELSE ((s.x1 - p.px) * (s.y2 - s.y1) - (s.y1 - p.py) * (s.x2 - s.x1))
      |           / (d.cx * (s.y2 - s.y1) - d.cy * (s.x2 - s.x1)) END AS t,
      |    CASE WHEN d.cx * (s.y2 - s.y1) - d.cy * (s.x2 - s.x1) = 0 THEN NULL
      |      ELSE (d.cy * (s.x1 - p.px) - d.cx * (s.y1 - p.py))
      |           / (d.cx * (s.y2 - s.y1) - d.cy * (s.x2 - s.x1)) END AS u) t
      |  WHERE t.t IS NOT NULL AND t.t > 0 AND t.t <= 100 AND t.u >= 0 AND t.u <= 1),
      |dmax AS (SELECT id_rsu, px, py, k, max(sin2) AS m FROM hits GROUP BY 1, 2, 3, 4),
      |persvf AS (SELECT p.id_rsu, p.px, p.py,
      |    1.0 - coalesce((SELECT sum(m) FROM dmax d
      |      WHERE d.id_rsu = p.id_rsu AND d.px = p.px AND d.py = p.py), 0.0) / $SvfDirs AS svf
      |  FROM svfpts p),
      |avgsvf AS (SELECT id_rsu, avg(svf) AS a FROM persvf GROUP BY 1)
      |SELECT r.id_rsu, round(coalesce(avgsvf.a, 1.0), 6) AS ground_sky_view_factor
      |FROM r LEFT JOIN avgsvf ON r.id_rsu = avgsvf.id_rsu
      |ORDER BY r.id_rsu""".stripMargin
  }

  // =========================================================================
  val oracles: Map[String, String] = Map(
    "rsu_svf_exact" -> svfOracle,
    // Hand-derived closing result (see sprawlGrid comment): A(+enclave
    // removed as a hole)+B merge across the 10-unit gap under distance 15
    // -> [0,190]x[10,70]; C survives the d² erosion filter -> [240,290]x
    // [20,70]. Ids in centroid order.
    "sprawl_areas" ->
      """SELECT CAST(id AS INTEGER) AS id, CAST(area AS DOUBLE) AS area,
        |  CAST(perimeter AS DOUBLE) AS perimeter
        |FROM (VALUES (1, 11400.0, 500.0), (2, 2500.0, 200.0)) AS t(id, area, perimeter)
        |ORDER BY id""".stripMargin,

    // Full analytic replica of the distances chain over the hand-derived
    // rects: AB=[0,190]x[10,70], C=[240,290]x[20,70], enclave=[20,50]x
    // [30,60], extent=[0,290]x[10,70]. Cell centroids never touch a
    // boundary (5-offsets vs 10-multiples). Diagonal distances are
    // JTS Math.hypot vs sqrt -> round 3 (oracle-exactness rules).
    "sprawl_distances" ->
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

    // the same Karney CTE machinery as geo_utm_transform, over the 4 corner
    // points of each bbox; the spherical-arc expansion constant M is the
    // engine's Scala-computed double emitted as an exact literal; southern
    // rows add the 10^7 false northing (bit-exact: IEEE + is commutative)
    "zone_extract" -> {
      val ctes = graft.geom.Projection.utmForwardSqlCtes("src", zone = 31)
      val m = f"CAST(${graft.workflow.ZoneExtract.MetersPerDegree}%.17g AS DOUBLE)"
      s"""WITH d AS (SELECT CAST(doc_id AS INT) AS k FROM documents WHERE doc_id < 20),
        |p AS (SELECT k,
        |    CASE WHEN k < 10 THEN 43.0 + k * 0.37 ELSE -34.0 - (k - 10) * 0.29 END AS south,
        |    CASE WHEN k < 10 THEN 0.7 + k * 0.41 ELSE 1.1 + (k - 10) * 0.33 END AS west,
        |    150.0 + k * 25 AS dist
        |  FROM d),
        |p2 AS (SELECT *, south + 0.06 AS north, west + 0.07 AS east FROM p),
        |e AS (SELECT *, dist / $m AS dlat,
        |    dist / ($m * cos(radians((south + north) / 2))) AS dlon FROM p2),
        |ext AS (SELECT *, west - dlon AS elon0, south - dlat AS elat0,
        |    east + dlon AS elon1, north + dlat AS elat1 FROM e),
        |src AS (
        |  SELECT k, 'zsw' AS pt, west AS lon, south AS lat FROM ext
        |  UNION ALL SELECT k, 'zne', east, north FROM ext
        |  UNION ALL SELECT k, 'bsw', elon0, elat0 FROM ext
        |  UNION ALL SELECT k, 'bne', elon1, elat1 FROM ext),
        |$ctes,
        |t AS (SELECT k, pt, easting,
        |    northing + CASE WHEN lat < 0 THEN 10000000.0 ELSE 0.0 END AS northing
        |  FROM utm),
        |f AS (SELECT k,
        |    MAX(CASE WHEN pt = 'zsw' THEN easting END) AS zsw_e,
        |    MAX(CASE WHEN pt = 'zsw' THEN northing END) AS zsw_n,
        |    MAX(CASE WHEN pt = 'zne' THEN easting END) AS zne_e,
        |    MAX(CASE WHEN pt = 'zne' THEN northing END) AS zne_n,
        |    MAX(CASE WHEN pt = 'bsw' THEN easting END) AS bsw_e,
        |    MAX(CASE WHEN pt = 'bsw' THEN northing END) AS bsw_n,
        |    MAX(CASE WHEN pt = 'bne' THEN easting END) AS bne_e,
        |    MAX(CASE WHEN pt = 'bne' THEN northing END) AS bne_n
        |  FROM t GROUP BY k)
        |SELECT ext.k, CAST(CASE WHEN ext.k < 10 THEN 32631 ELSE 32731 END AS INT) AS srid,
        |  round(ext.elon0, 6) AS eminlon, round(ext.elat0, 6) AS eminlat,
        |  round(ext.elon1, 6) AS emaxlon, round(ext.elat1, 6) AS emaxlat,
        |  round(f.zsw_e, 3) AS zsw_e, round(f.zsw_n, 3) AS zsw_n,
        |  round(f.zne_e, 3) AS zne_e, round(f.zne_n, 3) AS zne_n,
        |  round(f.bsw_e, 3) AS bsw_e, round(f.bsw_n, 3) AS bsw_n,
        |  round(f.bne_e, 3) AS bne_e, round(f.bne_n, 3) AS bne_n
        |FROM ext JOIN f USING (k) ORDER BY ext.k""".stripMargin
    },

    "geo_utm_transform" -> {
      val ctes = graft.geom.Projection.utmForwardSqlCtes("src", zone = 31)
      s"""WITH src AS (SELECT doc_id,
        |    2.5 + CAST(doc_id % 200 AS DOUBLE) / 100 AS lon,
        |    43.0 + CAST(doc_id * 7 % 600 AS DOUBLE) / 100 AS lat
        |  FROM documents),
        |$ctes
        |SELECT doc_id, round(easting, 3) AS easting, round(northing, 3) AS northing
        |FROM utm ORDER BY doc_id""".stripMargin
    },

    // Analytic expectations per synthetic tag shape (v = d%20+1):
    // d%8: 0 null->0; 1 bare v; 2 "v.5 m"->v+0.5; 3 v feet; 4 v inches;
    // 5 v'i''->(v*12+i)*0.0254; 6 v foot->v*0.3048; 7 no digits->0.
    "osm_format_heights" ->
      """WITH raw AS (SELECT doc_id AS id_build, doc_id % 8 AS m8,
        |    CAST(doc_id % 20 + 1 AS DOUBLE) AS v, CAST(doc_id % 12 AS DOUBLE) AS inch,
        |    (doc_id % 3 = 0) AS has_rh,
        |    CASE WHEN doc_id % 4 = 0 THEN CAST(doc_id % 5 + 1 AS INT)
        |         ELSE NULL END AS blev,
        |    (doc_id % 6 = 0) AS has_rlev,
        |    ['residential','house','commercial','industrial'][CAST(doc_id % 4 AS INT) + 1] AS type
        |  FROM documents),
        |hr AS (SELECT *, CASE m8 WHEN 0 THEN 0.0 WHEN 1 THEN v WHEN 2 THEN v + 0.5
        |    WHEN 3 THEN v * 12 * 0.0254 WHEN 4 THEN v * 0.0254
        |    WHEN 5 THEN (v * 12 + inch) * 0.0254
        |    WHEN 6 THEN v * 0.3048 ELSE 0.0 END AS hroof FROM raw),
        |hw AS (SELECT *, CASE WHEN has_rh THEN
        |      (CASE WHEN 2.5 < hroof THEN hroof - 2.5 ELSE 0.0 END)
        |    ELSE hroof END AS hwall,
        |    CAST(coalesce(blev + (CASE WHEN has_rlev THEN 1 ELSE 0 END), 0) AS INT) AS nl
        |  FROM hr),
        |fh AS (SELECT id_build,
        |    CASE WHEN type = 'residential' OR type = 'house' THEN 1
        |         WHEN type = 'commercial' THEN 2 ELSE 1 END AS nld, * FROM hw),
        |o AS (SELECT id_build,
        |  CASE WHEN hwall <> 0 AND hroof <> 0 AND nl <> 0 THEN hwall
        |    WHEN hwall = 0 AND hroof = 0 AND nl = 0 THEN nld * 3.0
        |    WHEN hwall = 0 AND hroof = 0 THEN nl * 3.0
        |    WHEN hwall = 0 THEN hroof
        |    ELSE hwall END AS height_wall,
        |  CASE WHEN hwall <> 0 AND hroof <> 0 AND nl <> 0 THEN hroof
        |    WHEN hwall = 0 AND hroof = 0 AND nl = 0 THEN nld * 3.0
        |    WHEN hwall = 0 AND hroof = 0 THEN nl * 3.0
        |    WHEN hwall = 0 THEN hroof
        |    WHEN hwall > hroof THEN hwall
        |    ELSE hroof END AS height_roof,
        |  CAST(CASE WHEN hwall <> 0 AND hroof <> 0 AND nl <> 0 THEN nl
        |    WHEN hwall = 0 AND hroof = 0 AND nl = 0 THEN nld
        |    WHEN hwall = 0 AND hroof = 0 THEN nl
        |    WHEN hwall = 0 THEN (CASE WHEN nl = 0 THEN greatest(floor(hroof / 3.0), 1) ELSE nl END)
        |    WHEN hwall = hroof THEN (CASE WHEN nl = 0 THEN greatest(floor(hwall / 3.0), 1) ELSE nl END)
        |    WHEN hwall > hroof THEN (CASE WHEN nl = 0 THEN greatest(floor(hwall / 3.0), 1) ELSE nl END)
        |    ELSE (CASE WHEN nl = 0 THEN greatest(floor(hroof / 3.0), 1) ELSE nl END) END AS INT) AS nb_lev,
        |  (hwall = 0 AND hroof = 0 AND nl = 0) AS estimated
        |  FROM fh)
        |SELECT id_build, round(height_wall, 6) AS height_wall,
        |  round(height_roof, 6) AS height_roof, nb_lev, estimated
        |FROM o ORDER BY id_build""".stripMargin,

    "grid_target" ->
      """WITH cells AS (SELECT CAST(range AS BIGINT) AS g,
        |    CAST(range % 5 + 1 AS INT) AS id_col, CAST(range // 5 + 1 AS INT) AS id_row
        |  FROM range(0, 20)),
        |f AS (SELECT *, CAST(g % 10 AS DOUBLE)/20 AS bf, CAST(g % 5 AS DOUBLE)/50 AS hvb,
        |    CAST(g % 7 AS DOUBLE)/30 AS hv, CAST(g % 3 AS DOUBLE)/60 AS hvr,
        |    CAST(g % 4 AS DOUBLE)/80 AS hvw, CAST(g % 6 AS DOUBLE)/40 AS rf,
        |    CAST(g % 5 AS DOUBLE)/100 AS wp, CAST(g % 8 AS DOUBLE)/80 AS imp,
        |    CAST(g % 2 AS DOUBLE)/50 AS rl, CAST(g % 9 AS DOUBLE)/90 AS und,
        |    CAST(g % 11 AS DOUBLE)/110 AS lv, CAST(g % 15 AS DOUBLE) + 2 AS hh,
        |    CAST(g % 9 AS DOUBLE) + 3 AS sw
        |  FROM cells)
        |SELECT CAST(row_number() OVER (ORDER BY id_row DESC, id_col) AS INT) AS fid,
        |  id_col, id_row,
        |  round(bf + hvb, 9) AS roof, round(rf, 9) AS road, round(wp, 9) AS watr,
        |  round(imp + rl + und, 9) AS conc, round(hv + hvr + hvw, 9) AS veg,
        |  round(lv, 9) AS dry, 0.0 AS irr, round(hh, 9) AS h, round(sw, 9) AS w
        |FROM f ORDER BY fid""".stripMargin,

    "grid_warm_windows" ->
      """WITH cells AS (SELECT doc_id AS id_grid, doc_id % 25 + 1 AS id_row,
        |    doc_id // 25 + 1 AS id_col,
        |    CAST([1,2,6,8,101,104,107][CAST(doc_id % 7 AS INT) + 1] AS INTEGER) AS lcz
        |  FROM documents),
        |w1 AS (SELECT a.id_grid, count(b.id_grid) AS count_cells_1,
        |    CAST(sum(CASE WHEN b.lcz IN (1,2,3,4,5,6,7,8,9,10,105) THEN 1 ELSE 0 END) AS BIGINT) AS count_warm_1
        |  FROM cells a JOIN cells b ON a.id_grid <> b.id_grid
        |    AND b.id_row BETWEEN a.id_row - 1 AND a.id_row + 1
        |    AND b.id_col BETWEEN a.id_col - 1 AND a.id_col + 1
        |  GROUP BY 1),
        |w2 AS (SELECT a.id_grid, count(b.id_grid) AS count_cells_2,
        |    CAST(sum(CASE WHEN b.lcz IN (1,2,3,4,5,6,7,8,9,10,105) THEN 1 ELSE 0 END) AS BIGINT) AS count_warm_2
        |  FROM cells a JOIN cells b ON a.id_grid <> b.id_grid
        |    AND b.id_row BETWEEN a.id_row - 2 AND a.id_row + 2
        |    AND b.id_col BETWEEN a.id_col - 2 AND a.id_col + 2
        |  GROUP BY 1)
        |SELECT w1.id_grid, w1.count_cells_1, w1.count_warm_1,
        |  w2.count_cells_2, w2.count_warm_2
        |FROM w1 JOIN w2 ON w1.id_grid = w2.id_grid ORDER BY w1.id_grid""".stripMargin,

    "text_curation" -> {
      // language/quality SQL identical to the (verified) text_analysis
      // oracle, applied to the post-dedup survivors
      val langs = Seq("de", "en", "es", "fr", "it")
      val hits = langs.map { l =>
        val pat = graft.operators.TextAnalysis.Stopwords(l).mkString("\\b(", "|", ")\\b")
        s"len(regexp_split_to_array(text, '$pat')) - 1 AS h_$l"
      }.mkString(", ")
      s"""WITH reps AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
        |rd AS (SELECT d.doc_id, d.text FROM documents d JOIN reps USING (doc_id)),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM rd),
        |idx AS (SELECT doc_id, w, unnest(range(0, len(w)-2)) AS g FROM toks WHERE len(w) >= 3),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(w[g+1:g+3], ' ') AS tri FROM idx),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.tri = b.tri AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |nd AS (SELECT DISTINCT id_b AS doc_id FROM pairs
        |  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |  WHERE CAST(inter AS DOUBLE)/(sa.sz + sb.sz - inter) >= 0.4),
        |kept AS (SELECT rd.doc_id, rd.text FROM rd
        |  LEFT JOIN nd ON rd.doc_id = nd.doc_id WHERE nd.doc_id IS NULL),
        |h AS (SELECT doc_id, text, $hits FROM kept),
        |l AS (SELECT doc_id, text,
        |  CASE WHEN greatest(h_de, h_en, h_es, h_fr, h_it) <= 0 THEN 'und'
        |    WHEN h_it >= h_fr AND h_it >= h_es AND h_it >= h_en AND h_it >= h_de THEN 'it'
        |    WHEN h_fr >= h_es AND h_fr >= h_en AND h_fr >= h_de THEN 'fr'
        |    WHEN h_es >= h_en AND h_es >= h_de THEN 'es'
        |    WHEN h_en >= h_de THEN 'en' ELSE 'de' END AS lang_id
        |  FROM h),
        |m AS (SELECT doc_id, lang_id, text,
        |    CAST(length(text) AS DOUBLE) AS ln,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS ntok,
        |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS na
        |  FROM l),
        |q AS (SELECT doc_id, lang_id,
        |    round(0.4*least(ln/1000.0, 1.0)
        |        + 0.3*(1.0 - least(abs((ln - (ntok - 1))/ntok - 5.0)/5.0, 1.0))
        |        + 0.3*(na/ln), 6) AS quality,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM m)
        |SELECT doc_id, lang_id, quality, n_tokens FROM q
        |WHERE lang_id = 'en' AND quality >= 0.6 ORDER BY doc_id""".stripMargin
    },

    "geo_tesselate_fractions" ->
      """WITH z AS (SELECT CAST(range AS BIGINT) AS id_zone,
        |    CAST(range % 3 AS DOUBLE) * 50 AS zx, CAST(range // 3 AS DOUBLE) * 50 AS zy
        |  FROM range(0, 9)),
        |m AS (SELECT CAST(doc_id * 11 % 120 AS DOUBLE) AS x, CAST(doc_id * 23 % 120 AS DOUBLE) AS y,
        |    CAST(doc_id % 30 AS DOUBLE) + 10 AS w, CAST(doc_id * 3 % 30 AS DOUBLE) + 10 AS h,
        |    CASE WHEN doc_id % 3 = 0 THEN 'sea' ELSE 'land' END AS cls
        |  FROM documents WHERE doc_id < 40),
        |ov AS (SELECT z.id_zone,
        |    sum(CASE WHEN cls = 'land' THEN
        |        greatest(0.0, least(m.x + m.w, z.zx + 50) - greatest(m.x, z.zx))
        |      * greatest(0.0, least(m.y + m.h, z.zy + 50) - greatest(m.y, z.zy)) ELSE 0.0 END) AS a_land,
        |    sum(CASE WHEN cls = 'sea' THEN
        |        greatest(0.0, least(m.x + m.w, z.zx + 50) - greatest(m.x, z.zx))
        |      * greatest(0.0, least(m.y + m.h, z.zy + 50) - greatest(m.y, z.zy)) ELSE 0.0 END) AS a_sea
        |  FROM z CROSS JOIN m GROUP BY 1)
        |SELECT z.id_zone, round(coalesce(ov.a_land, 0.0) / 2500.0, 6) AS area_fraction_land,
        |  round(coalesce(ov.a_sea, 0.0) / 2500.0, 6) AS area_fraction_sea
        |FROM z LEFT JOIN ov ON z.id_zone = ov.id_zone ORDER BY z.id_zone""".stripMargin,

    "zone_stats" ->
      """SELECT 1 AS id_zone,
        |  CAST((SELECT count(*) FROM documents WHERE doc_id % 7 <> 0) AS INT) AS nb_building,
        |  CAST(42 AS INT) AS nb_estimated_building,
        |  CAST((SELECT count(*) FROM documents WHERE doc_id % 10 = 0) AS INT) AS nb_block,
        |  CAST((SELECT count(*) FROM documents WHERE doc_id < 50) AS INT) AS nb_rsu,
        |  CAST(7 AS INT) AS computation_time,
        |  '2026-01-01 00:00:00' AS last_update, '0.2' AS version, 'r2' AS build_number""".stripMargin,

    "grid_population" ->
      """WITH cells AS (SELECT CAST(range AS BIGINT) AS id_grid,
        |    CAST(range % 10 AS DOUBLE)*10 AS x0, CAST(range // 10 AS DOUBLE)*10 AS y0
        |  FROM range(0, 100)),
        |z AS (SELECT doc_id AS id_pop,
        |    CAST(doc_id*13 % 90 AS DOUBLE) AS zx, CAST(doc_id*29 % 90 AS DOUBLE) AS zy,
        |    CAST(doc_id % 12 AS DOUBLE) + 4 AS w, CAST(doc_id*3 % 12 AS DOUBLE) + 4 AS h,
        |    CAST((doc_id % 17 + 1)*10 AS DOUBLE) AS pop, CAST(doc_id % 7 + 1 AS DOUBLE) AS pop2
        |  FROM documents WHERE doc_id < 50),
        |i AS (SELECT c.id_grid, z.id_pop, z.pop, z.pop2,
        |    greatest(0.0, least(c.x0+10, z.zx+z.w) - greatest(c.x0, z.zx))
        |  * greatest(0.0, least(c.y0+10, z.zy+z.h) - greatest(c.y0, z.zy)) AS a
        |  FROM cells c JOIN z ON c.x0 <= z.zx+z.w AND z.zx <= c.x0+10
        |    AND c.y0 <= z.zy+z.h AND z.zy <= c.y0+10),
        |sa AS (SELECT id_pop, sum(a) AS sum_area FROM i GROUP BY 1),
        |sh AS (SELECT id_grid, sum(a * pop / sum_area) AS pop,
        |    sum(a * pop2 / sum_area) AS pop2
        |  FROM i JOIN sa USING (id_pop) GROUP BY 1)
        |SELECT c.id_grid, round(sh.pop, 9) AS pop, round(sh.pop2, 9) AS pop2
        |FROM cells c LEFT JOIN sh ON c.id_grid = sh.id_grid
        |ORDER BY c.id_grid""".stripMargin,
    "utrf_classify" -> {
      val votes = RandomForest.classifyVoteSqls(utrfForest, rfFeatSqlMap, UtrfClasses.size)
      val voteCols = votes.zipWithIndex.map { case (v, c) => s"$v AS v$c" }.mkString(", ")
      val argmax = RandomForest.argmaxSql(UtrfClasses.indices.map(c => s"v$c"), UtrfClasses)
      s"""WITH $rfInputSql,
        |v AS (SELECT id_build, $voteCols FROM b)
        |SELECT id_build, $argmax AS typo_maj, CAST(v0 AS BIGINT) AS votes_ba
        |FROM v ORDER BY id_build""".stripMargin
    },
    "rf_height_estimate" -> {
      val reg = RandomForest.regressSql(heightForest, rfFeatSqlMap)
      s"""WITH $rfInputSql
        |SELECT id_build, round($reg, 9) AS height_est FROM b ORDER BY id_build""".stripMargin
    },
    // Category bands: 0 zone, 1 road, 2 rail, 3 veget, 4 water, 5 land,
    // 6 urban. Every filter/threshold replicated; water clusters via
    // recursive-CTE connected components with the reference's asymmetric
    // a.zindex=0 edge rule; strip unions are axis-aligned runs, so the
    // boundary length is 2*(width+height) analytically.
    "geo_tsu_prepare" ->
      """WITH RECURSIVE
        |road_f AS (SELECT i FROM (SELECT range AS i FROM range(0, 40))
        |  WHERE ((i % 2 = 0) OR (CASE WHEN i % 7 = 0 THEN 'bridge' END IN ('bridge', 'crossing')))
        |    AND NOT (['highway','track','residential','service','primary'][CAST(i % 5 AS INT) + 1]
        |      IN ('track','service','path','cycleway','steps','footway','pedestrian','ferry'))
        |    AND (CASE WHEN i % 11 = 0 THEN 1 ELSE 0 END) = 0),
        |rail_f AS (SELECT i FROM (SELECT range AS i FROM range(0, 20))
        |  WHERE (CASE WHEN i % 3 <> 0 THEN 'main' ELSE 'service' END) = 'main'
        |    AND ((i % 2 = 0) OR (CASE WHEN i % 4 = 0 THEN 'bridge' END) = 'bridge')),
        |veg AS (SELECT r, 1 + r % 4 AS klow, r % 4 AS khigh FROM (SELECT range AS r FROM range(0, 10))),
        |veg_rows AS (
        |  SELECT r, 2 * (2 * klow + 2) AS perim FROM veg WHERE 4 * klow >= 10
        |  UNION ALL
        |  SELECT r, 2 * (2 * khigh + 2) AS perim FROM veg WHERE khigh > 0 AND 4 * khigh >= 10),
        |wm AS (SELECT r, j, CASE WHEN (j * j + r) % 5 < 2 THEN 1 ELSE 0 END AS z
        |  FROM (SELECT range AS r FROM range(0, 6)) CROSS JOIN (SELECT range AS j FROM range(0, 5))
        |  WHERE j <= 2 + r % 3),
        |we AS (SELECT a.r, a.j AS src, b.j AS dst FROM wm a JOIN wm b
        |  ON a.r = b.r AND abs(a.j - b.j) = 1 AND a.z = 0),
        |esym AS (SELECT r, src, dst FROM we UNION SELECT r, dst, src FROM we),
        |wreach AS (
        |  SELECT r, j AS a, j AS b FROM wm
        |  UNION
        |  SELECT wr.r, wr.a, e.dst AS b FROM wreach wr JOIN esym e ON wr.r = e.r AND wr.b = e.src),
        |wcomp AS (SELECT r, a AS j, min(b) AS comp FROM wreach GROUP BY 1, 2),
        |wgrp AS (SELECT r, comp, count(*) AS cnt FROM wcomp GROUP BY 1, 2),
        |water_f AS (SELECT r, comp, 2 * (3 * cnt + 3) AS perim FROM wgrp WHERE 9 * cnt >= 20),
        |urb_f AS (SELECT i, 2 * ((4 + i % 5) + 10) AS perim
        |  FROM (SELECT range AS i FROM range(0, 10))
        |  WHERE 10 * (4 + i % 5) >= 60
        |    AND (CASE WHEN i % 4 = 0 THEN 'social_building'
        |              WHEN i % 6 = 5 THEN NULL ELSE 'residential' END)
        |        NOT IN ('social_building'))
        |SELECT CAST(category AS BIGINT) AS category, n_geoms,
        |  round(total_len, 9) AS total_len FROM (
        |  SELECT 0 AS category, CAST(1 AS BIGINT) AS n_geoms, 1200.0 AS total_len
        |  UNION ALL SELECT 1, count(*), CAST(count(*) * 20 AS DOUBLE) FROM road_f
        |  UNION ALL SELECT 2, count(*), CAST(count(*) * 15 AS DOUBLE) FROM rail_f
        |  UNION ALL SELECT 3, count(*), CAST(sum(perim) AS DOUBLE) FROM veg_rows
        |  UNION ALL SELECT 4, count(*), CAST(sum(perim) AS DOUBLE) FROM water_f
        |  UNION ALL SELECT 5, CAST(2 AS BIGINT), 64.0
        |  UNION ALL SELECT 6, count(*), CAST(sum(perim) AS DOUBLE) FROM urb_f
        |) ORDER BY category""".stripMargin)
}
