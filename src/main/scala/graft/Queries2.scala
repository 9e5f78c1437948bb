package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.geom.{GeoFunctions => G}
import graft.index.CellGrid
import graft.indicators.{BlockIndicators, BuildingIndicators, GenericIndicators, GridIndicators, Lcz, RsuIndicators}
import graft.lake.Pages
import graft.operators.{Dedup, Multimodal, Similarity, SpatialJoin, TextAnalysis, Tiling}
import graft.fixtures.GeoFixture

/**
 * Second driver-verified query batch: the remaining SURVEY.md §2 operator
 * families (building neighbors/spacing/likelihood, weighted + type-proportion
 * + distribution-characterization aggregates, block compactness, RSU facade /
 * street / road-direction / roof-distribution indicators, grid LOD pyramid /
 * 8-neighbor / sliding window, LCZ classification on the reference fixture,
 * max-overlap tile assignment on the reference fixture, and the pages
 * end-to-end flagship that verifies the byte-identical-text invariant through
 * the DuckDB oracle).
 *
 * Oracle-exactness rules are the same as Queries.scala: synthetic layers are
 * axis-aligned integer-coordinate rectangles so every JTS measure is
 * recomputable with plain SQL arithmetic; doubles that pass through
 * order-dependent SUMs are rounded (9 decimals) on both sides.
 */
object Queries2 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  private val grid = CellGrid.fixture
  private val Res = 10

  // MinHash+LSH near-dup pairs over the documents table, shared by
  // dedup_minhash_lsh (which RETURNS the pairs) and Queries7's
  // dedup_clusters (which closes them transitively) — the reference-style
  // "compute once, export twice" memoization the e2e chain queries use
  // (SessionMemo rationale). maxBucket engages the hot-bucket census
  // path; 4096 is far above any band-bucket size at driver SFs (max
  // observed ~dup-clique size), so the output is bit-identical to the
  // lossless path while the graded query exercises the capped plan.
  private val lshPairsMemo = new SessionMemo[String, DataFrame]()
  private[graft] def lshPairs(s: SparkSession, dir: String): DataFrame =
    lshPairsMemo(s, dir)(
      Dedup.minhashLsh(t(s, dir, "documents"), "doc_id", "text",
        k = 3, bands = 16, rowsPerBand = 3, threshold = 0.4,
        maxBucket = Some(4096)).localCheckpoint())

  // ---- synthetic non-overlapping building layer ---------------------------
  // Building i sits in its own 5x5 cell (col = i%40, row = i/40) with size
  // w,h in [2,5]; w=5 / h=5 makes it TOUCH the next cell's building, so the
  // intersects self-join has real neighbor structure but zero area overlaps
  // (shared walls are 1-D segments — exactly the reference fixture's shape).
  private def rectLayer(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id").as("id_build"),
      (col("doc_id") % 40 * 5).cast("double").as("x0"),
      (floor(col("doc_id") / 40) * 5).cast("double").as("y0"),
      (col("doc_id") % 4 + 2).cast("double").as("w"),
      (floor(col("doc_id") / 4) % 4 + 2).cast("double").as("h"),
      (col("doc_id") % 10 + 3).cast("double").as("height_wall"),
      (col("doc_id") % 10 + 3 + col("doc_id") % 4).cast("double").as("height_roof"),
      (col("doc_id") % 3 + 1).cast("int").as("nb_lev"),
      when(col("doc_id") % 3 === 0, "residential")
        .when(col("doc_id") % 3 === 1, "commercial")
        .otherwise("industrial").as("type"))
      .withColumn("the_geom",
        G.stMakeBox(col("x0"), col("y0"), col("x0") + col("w"), col("y0") + col("h")))

  private val rectsSql =
    """rects AS (SELECT doc_id AS id_build,
      |  CAST(doc_id % 40 * 5 AS DOUBLE) AS x0, CAST((doc_id // 40) * 5 AS DOUBLE) AS y0,
      |  CAST(doc_id % 4 + 2 AS DOUBLE) AS w, CAST((doc_id // 4) % 4 + 2 AS DOUBLE) AS h,
      |  CAST(doc_id % 10 + 3 AS DOUBLE) AS hw,
      |  CAST(doc_id % 10 + 3 + doc_id % 4 AS DOUBLE) AS hr,
      |  doc_id % 3 + 1 AS lev,
      |  CASE doc_id % 3 WHEN 0 THEN 'residential' WHEN 1 THEN 'commercial' ELSE 'industrial' END AS type,
      |  doc_id // 10 AS id_blk, doc_id % 20 AS id_zone
      |FROM documents)""".stripMargin

  /** Intersecting (touching) ordered pairs + per-building contiguity CTEs.
    * Touch intersection of two non-overlapping rectangles is a segment in
    * exactly one axis (or a corner point, length 0). */
  private val pairsSql =
    """pairs AS (SELECT a.id_build AS ia, b.id_build AS ib,
      |    a.w AS wa, a.h AS ha, a.hw AS hwa, b.hw AS hwb,
      |    greatest(0.0, least(a.x0 + a.w, b.x0 + b.w) - greatest(a.x0, b.x0)) AS xov,
      |    greatest(0.0, least(a.y0 + a.h, b.y0 + b.h) - greatest(a.y0, b.y0)) AS yov
      |  FROM rects a JOIN rects b ON a.id_build <> b.id_build
      |    AND a.x0 <= b.x0 + b.w AND b.x0 <= a.x0 + a.w
      |    AND a.y0 <= b.y0 + b.h AND b.y0 <= a.y0 + a.h),
      |shared AS (SELECT ia, ib, wa, ha, hwa, hwb,
      |    CASE WHEN xov > 0 AND yov = 0 THEN xov
      |         WHEN yov > 0 AND xov = 0 THEN yov ELSE 0.0 END AS slen
      |  FROM pairs),
      |nb AS (SELECT ia AS id_build,
      |    sum(least(hwa, hwb) * slen / ((2*(wa+ha)) * hwa)) AS contiguity,
      |    sum(slen / (2*(wa+ha))) AS cwf,
      |    count(*) AS nbn
      |  FROM shared GROUP BY 1),
      |contig AS (SELECT r.id_build, coalesce(nb.contiguity, 0.0) AS contiguity,
      |    coalesce(nb.cwf, 0.0) AS cwf, coalesce(nb.nbn, 0) AS nbn
      |  FROM rects r LEFT JOIN nb ON r.id_build = nb.id_build)""".stripMargin

  /** 3x3 grid of 50x50 zones over [0,150)² as (id, zx, zy) SQL. */
  private val zones9Sql =
    """z9 AS (SELECT CAST(range AS BIGINT) AS idz,
      |  CAST(range % 3 AS DOUBLE) * 50 AS zx, CAST(range // 3 AS DOUBLE) * 50 AS zy
      |FROM range(0, 9))""".stripMargin

  /** Small rectangles scattered over [0,150)² (cross zone boundaries). */
  private def scatterRects(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id").as("id_build"),
      (col("doc_id") * 7 % 140).cast("double").as("bx"),
      (col("doc_id") * 13 % 140).cast("double").as("by"),
      (col("doc_id") % 6 + 2).cast("double").as("bw"),
      (col("doc_id") * 3 % 6 + 2).cast("double").as("bh"),
      (col("doc_id") % 20 + 1).cast("double").as("height_roof"),
      when(col("doc_id") % 2 === 0, "low").otherwise("high").as("cls"))
      .withColumn("the_geom",
        G.stMakeBox(col("bx"), col("by"), col("bx") + col("bw"), col("by") + col("bh")))

  private val scatterSql =
    """sc AS (SELECT doc_id AS id_build,
      |  CAST(doc_id * 7 % 140 AS DOUBLE) AS bx, CAST(doc_id * 13 % 140 AS DOUBLE) AS by,
      |  CAST(doc_id % 6 + 2 AS DOUBLE) AS bw, CAST(doc_id * 3 % 6 + 2 AS DOUBLE) AS bh,
      |  CAST(doc_id % 20 + 1 AS DOUBLE) AS hr,
      |  CASE WHEN doc_id % 2 = 0 THEN 'low' ELSE 'high' END AS cls
      |FROM documents)""".stripMargin

  // ---- facade-distribution layer/direction config (rect layer, 4 y-bands) --
  private val FacLayers = Seq(0.0, 4.0, 8.0, 12.0)
  private val FacLayerNames = Seq("h0_4", "h4_8", "h8_12", "h12")
  private val FacDirNames = Seq("d0_60", "d60_120", "d120_180")
  private val FacOutNames = for (d <- FacDirNames; l <- FacLayerNames)
    yield s"projected_facade_area_distribution_${l}_$d"

  private def facBands(s: SparkSession): DataFrame =
    s.range(0, 4).toDF("id_rsu").withColumn("the_geom",
      G.stMakeBox(lit(0.0), col("id_rsu") * 20.0, lit(200.0), (col("id_rsu") + 1) * 20.0))

  private def facDist(s: SparkSession, dir: String): DataFrame = {
    val b = rectLayer(s, dir).select("id_build", "the_geom", "height_wall")
    RsuIndicators.projectedFacadeAreaDistribution(b, RsuIndicators.buildingNeighbours(b, grid, Res),
      RsuIndicators.unitPairs(b, facBands(s), "id_rsu", grid, Res), facBands(s),
      FacLayers, numDirection = 6)
  }

  /** The buildings' pairs with the facade bands, kept where the band is the
    * building's own `id_rsu` (the oracle's y0 / 20 correlation). */
  private def ownBandPairs(s: SparkSession, b: DataFrame): DataFrame =
    RsuIndicators.unitPairs(b.drop("id_rsu"), facBands(s), "id_rsu", grid, Res)
      .join(b.select("id_build", "id_rsu"), Seq("id_build", "id_rsu"))

  /** Facade rows of the rect layer as SQL: per-edge free lengths (party
    * intervals subtracted), party-wall strips once (a<b), corner-touch-only
    * buildings dropped (reference quirk), banded by y. */
  private val facadeRowsSql =
    """p3 AS (SELECT a.id_build AS ia, b.id_build AS ib,
      |    a.x0 AS ax, a.y0 AS ay, a.hw AS hwa, b.x0 AS bx, b.y0 AS by2, b.hw AS hwb,
      |    greatest(0.0, least(a.x0 + a.w, b.x0 + b.w) - greatest(a.x0, b.x0)) AS xov,
      |    greatest(0.0, least(a.y0 + a.h, b.y0 + b.h) - greatest(a.y0, b.y0)) AS yov
      |  FROM rects a JOIN rects b ON a.id_build <> b.id_build
      |    AND a.x0 <= b.x0 + b.w AND b.x0 <= a.x0 + a.w
      |    AND a.y0 <= b.y0 + b.h AND b.y0 <= a.y0 + a.h),
      |p4 AS (SELECT *, CASE WHEN xov > 0 AND yov = 0 THEN xov
      |    WHEN yov > 0 AND xov = 0 THEN yov ELSE 0.0 END AS slen,
      |  CASE WHEN yov > 0 AND xov = 0 THEN 1 ELSE 0 END AS isvert FROM p3),
      |dropped AS (SELECT DISTINCT ia AS id_build FROM p4
      |  WHERE ia NOT IN (SELECT DISTINCT ia FROM p4 WHERE slen > 0)),
      |sub AS (SELECT ia AS id_build,
      |    sum(CASE WHEN isvert = 1 AND bx < ax THEN slen ELSE 0 END) AS sl,
      |    sum(CASE WHEN isvert = 1 AND bx > ax THEN slen ELSE 0 END) AS sr,
      |    sum(CASE WHEN isvert = 0 AND slen > 0 AND by2 < ay THEN slen ELSE 0 END) AS sb,
      |    sum(CASE WHEN isvert = 0 AND slen > 0 AND by2 > ay THEN slen ELSE 0 END) AS st
      |  FROM p4 GROUP BY 1),
      |fr AS (
      |  SELECT r.y0 AS ya, NULL AS yc, 0 AS azdeg, r.h - coalesce(s.sl, 0) AS len,
      |    0.0 AS zmin, r.hw AS zmax
      |  FROM rects r LEFT JOIN sub s USING (id_build)
      |  WHERE r.id_build NOT IN (SELECT id_build FROM dropped)
      |  UNION ALL
      |  SELECT r.y0, NULL, 0, r.h - coalesce(s.sr, 0), 0.0, r.hw
      |  FROM rects r LEFT JOIN sub s USING (id_build)
      |  WHERE r.id_build NOT IN (SELECT id_build FROM dropped)
      |  UNION ALL
      |  SELECT NULL, r.y0, 90, r.w - coalesce(s.sb, 0), 0.0, r.hw
      |  FROM rects r LEFT JOIN sub s USING (id_build)
      |  WHERE r.id_build NOT IN (SELECT id_build FROM dropped)
      |  UNION ALL
      |  SELECT NULL, r.y0 + r.h, 90, r.w - coalesce(s.st, 0), 0.0, r.hw
      |  FROM rects r LEFT JOIN sub s USING (id_build)
      |  WHERE r.id_build NOT IN (SELECT id_build FROM dropped)
      |  UNION ALL
      |  SELECT CASE WHEN isvert = 1 THEN greatest(ay, by2) END,
      |    CASE WHEN isvert = 0 THEN greatest(ay, by2) END,
      |    CASE WHEN isvert = 1 THEN 0 ELSE 90 END,
      |    slen, least(hwa, hwb), greatest(hwa, hwb)
      |  FROM p4 WHERE ia < ib AND slen > 0),
      |bands AS (SELECT CAST(range AS BIGINT) AS id_rsu, CAST(range * 20 AS DOUBLE) AS bz
      |  FROM range(0, 4)),
      |fb AS (SELECT b.id_rsu, f.azdeg, f.len, f.zmin, f.zmax
      |  FROM fr f JOIN bands b ON f.len > 0 AND
      |    ((f.azdeg = 0 AND CAST(f.ya AS BIGINT) // 20 = b.id_rsu)
      |     OR (f.azdeg = 90 AND f.yc >= b.bz AND f.yc <= b.bz + 20)))""".stripMargin

  private val facLayerSql: Seq[(String, String)] = Seq(
    "h0_4"  -> "(CASE WHEN zmax <= 0 THEN 0 WHEN zmin >= 4 THEN 0 ELSE 4 - greatest(4 - zmax, 0) - greatest(zmin - 0, 0) END)",
    "h4_8"  -> "(CASE WHEN zmax <= 4 THEN 0 WHEN zmin >= 8 THEN 0 ELSE 4 - greatest(8 - zmax, 0) - greatest(zmin - 4, 0) END)",
    "h8_12" -> "(CASE WHEN zmax <= 8 THEN 0 WHEN zmin >= 12 THEN 0 ELSE 4 - greatest(12 - zmax, 0) - greatest(zmin - 8, 0) END)",
    "h12"   -> "(CASE WHEN zmax >= 12 THEN zmax - greatest(zmin, 12) ELSE 0 END)")

  private def facFactorSql(d: Int): String = {
    val mid = s"(radians(${d * 60}) + radians(30))"
    s"(CASE WHEN radians(azdeg) - $mid > pi()/2 THEN cos(radians(azdeg) - $mid - pi()/2) " +
      s"WHEN radians(azdeg) - $mid < -pi()/2 THEN cos(radians(azdeg) - $mid + pi()/2) " +
      s"ELSE abs(sin(radians(azdeg) - $mid)) END)"
  }

  private val facCellsSql: Seq[String] = for {
    (dn, d) <- FacDirNames.zipWithIndex
    (ln, lexpr) <- facLayerSql
  } yield s"sum(len * $lexpr * ${facFactorSql(d)} / 2) AS __${ln}_$dn"

  // ---- grid cells for the grid indicators ---------------------------------
  private val LczVals = Array(1, 2, 6, 8, 101, 104, 107)

  /** The reference's LOD-mode tiebreak weights (now shared:
    * GridIndicators.ReferenceLczWeights — pinned by the reference's own
    * multiscaleLCZGridTest goldens in MultiscaleLczGoldenSpec). */
  private val RefLczWeights: Map[Int, Int] = GridIndicators.ReferenceLczWeights
  private val RefLczWeightSql =
    "CASE lcz WHEN 101 THEN 14 WHEN 104 THEN 16 WHEN 107 THEN 12 ELSE lcz END"
  private def gridCells(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      (col("doc_id") % 25 + 1).as("id_row"),
      (floor(col("doc_id") / 25).cast("long") + 1).as("id_col"),
      element_at(lit(LczVals), (col("doc_id") % 7 + 1).cast("int")).as("lcz"))

  private val gridCellsSql =
    """cells AS (SELECT doc_id % 25 + 1 AS id_row, doc_id // 25 + 1 AS id_col,
      |  CAST([1,2,6,8,101,104,107][CAST(doc_id % 7 + 1 AS INT)] AS INTEGER) AS lcz
      |FROM documents)""".stripMargin

  // =========================================================================
  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // -- building x building touches: contiguity / common wall / neighbors
    //    (BuildingIndicators.groovy:129-206) --------------------------------
    "bld_neighbors" -> ((s, dir) => {
      BuildingIndicators.neighborsProperties(rectLayer(s, dir), grid, Res)
        .select(col("id_build"),
          round(col("contiguity"), 9).as("contiguity"),
          round(col("common_wall_fraction"), 9).as("common_wall_fraction"),
          col("number_building_neighbor"))
        .orderBy("id_build")
    }),

    // -- bounded min building spacing with self-exclusion
    //    (BuildingIndicators.groovy:300-352) --------------------------------
    "bld_spacing" -> ((s, dir) => {
      BuildingIndicators.minimumBuildingSpacing(rectLayer(s, dir), 12.0, grid, Res)
        .select(col("id_build"),
          round(col("minimum_building_spacing"), 3).as("minimum_building_spacing"))
        .orderBy("id_build")
    }),

    // -- logistic likelihood-of-large-building (BuildingIndicators.groovy:455-495) --
    "bld_likelihood" -> ((s, dir) => {
      val rects = rectLayer(s, dir)
      val nb = BuildingIndicators.neighborsProperties(rects, grid, Res)
        .select("id_build", "number_building_neighbor")
      BuildingIndicators.likelihoodLargeBuilding(rects.join(nb, "id_build"))
        .select(col("id_build"),
          round(col("likelihood_large_building"), 6).as("likelihood_large_building"))
        .orderBy("id_build")
    }),

    // -- weighted mean + weighted std per zone (GenericIndicators.groovy:148-212) --
    "agg_weighted" -> ((s, dir) => {
      val lower = t(s, dir, "documents").select(
        (col("doc_id") % 20).as("id_zone"),
        col("n_chars").cast("double").as("nc"),
        (col("doc_id") % 5 + 1).cast("double").as("wt"))
      val upper = s.range(0, 25).toDF("id_zone")
      GenericIndicators.perUnit(lower, upper, "id_zone")(
        GenericIndicators.weightedAggregatedStatistics(Seq(("nc", "wt"))))
        .select(col("id_zone"),
          round(col("avg_nc_wt_weighted"), 6).as("avg_nc_wt_weighted"),
          round(col("std_nc_wt_weighted"), 6).as("std_nc_wt_weighted"))
        .orderBy("id_zone")
    }),

    // -- per-type area + floor-area fractions (GenericIndicators.groovy:697-800) --
    "agg_type_prop" -> ((s, dir) => {
      val lower = rectLayer(s, dir).withColumn("id_zone", col("id_build") % 20)
      val upper = s.range(0, 25).toDF("id_zone")
      GenericIndicators.perUnit(lower, upper, "id_zone")(GenericIndicators.typeProportion("type",
        areaTypes = Map("residential" -> Seq("residential"),
          "industrial" -> Seq("industrial", "commercial")),
        floorAreaTypes = Map("residential" -> Seq("residential"))))
        .select(col("id_zone"),
          round(col("area_fraction_residential"), 9).as("area_fraction_residential"),
          round(col("area_fraction_industrial"), 9).as("area_fraction_industrial"),
          round(col("floor_area_fraction_residential"), 9).as("floor_area_fraction_residential"))
        .orderBy("id_zone")
    }),

    // -- distribution characterization: Perkins Skill Score / uniqueness /
    //    extremum over an array (GenericIndicators.groovy:448-646) ----------
    "distribution_char" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        array((col("doc_id") % 7).cast("double"),
          (col("doc_id") * 3 % 11).cast("double"),
          (col("doc_id") * 5 % 13).cast("double"),
          (col("doc_id") * 7 % 17).cast("double")).as("dist"))
      GenericIndicators.distributionCharacterization(d, "dist", "doc_id")
        .select(col("doc_id"),
          round(col("equality_value"), 9).as("equality_value"),
          round(col("uniqueness_value"), 9).as("uniqueness_value"),
          col("extremum_index"))
        .orderBy("doc_id")
    }),

    // -- block net compactness from contiguity + volume (BlockIndicators.groovy:87-122) --
    "block_compactness" -> ((s, dir) => {
      val rects = rectLayer(s, dir)
      val nb = BuildingIndicators.neighborsProperties(rects, grid, Res)
        .select("id_build", "contiguity")
      val b = rects.join(nb, "id_build")
        .withColumn("volume", col("w") * col("h") * 0.5 * (col("height_wall") + col("height_roof")))
        .withColumn("id_block", floor(col("id_build") / 10).cast("long"))
      GenericIndicators.perUnit(b, b.select("id_block").distinct(), "id_block")(
        BlockIndicators.netCompactness)
        .select(col("id_block"), round(col("net_compactness"), 9).as("net_compactness"))
        .orderBy("id_block")
    }),

    // -- RSU facade density -> aspect ratio -> street width -> building
    //    surface density chain (RsuIndicators.groovy:53-86, 383-404,
    //    2647-2667, 1890-1916) ----------------------------------------------
    "rsu_facade_street" -> ((s, dir) => {
      import GenericIndicators._
      val rects = rectLayer(s, dir).withColumn("id_rsu", floor(col("id_build") / 10).cast("long"))
      val nb = BuildingIndicators.neighborsProperties(rectLayer(s, dir), grid, Res)
        .select("id_build", "contiguity")
      val b = rects.join(nb, "id_build")
        .withColumn("total_facade_length", (col("w") + col("h")) * 2)
        .withColumn("barea", col("w") * col("h"))
      val zones = rects.select("id_rsu").distinct()
        .withColumn("the_geom", G.stMakeBox(lit(0.0), lit(0.0),
          lit(10.0) + col("id_rsu") % 7, lit(10.0) + col("id_rsu") % 3))
      val zi = perUnit(b, zones, "id_rsu")(RsuIndicators.freeExternalFacadeDensity,
        unweightedOperationFromLowerScale("id_build",
          Map("barea" -> Seq(OpDens), "height_roof" -> Seq(OpAvg))))
      val ar = RsuIndicators.aspectRatio(zi, "free_external_facade_density", "barea_density")
      val withAr = zi.join(ar, "id_rsu")
      val sw = RsuIndicators.streetWidth(withAr, "avg_height_roof", "aspect_ratio")
      val bsd = RsuIndicators.buildingSurfaceDensity(zi, "barea_density", "free_external_facade_density")
      withAr.join(sw, "id_rsu").join(bsd, "id_rsu")
        .select(col("id_rsu"),
          round(col("free_external_facade_density"), 9).as("free_external_facade_density"),
          round(col("aspect_ratio"), 9).as("aspect_ratio"),
          round(col("street_width"), 9).as("street_width"),
          round(col("building_surface_density"), 9).as("building_surface_density"))
        .orderBy("id_rsu")
    }),

    // -- road clip + direction buckets + length density per RSU
    //    (RsuIndicators.groovy:1060-1227) -----------------------------------
    "rsu_road_density" -> ((s, dir) => {
      val zones = Tiling.makeGrid(s, 0, 0, 150, 150, 50, 50)
        .select(col("id_grid").as("id_rsu"), col("the_geom"))
      val d = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") * 11 % 150).cast("double").as("rx"),
        (col("doc_id") * 17 % 150).cast("double").as("ry"),
        (col("doc_id") % 20 + 5).cast("double").as("len"))
      val wkt = when(col("doc_id") % 2 === 0,
        concat(lit("LINESTRING("), col("rx"), lit(" "), col("ry"), lit(", "),
          col("rx") + col("len"), lit(" "), col("ry"), lit(")")))
        .otherwise(
          concat(lit("LINESTRING("), col("rx"), lit(" "), col("ry"), lit(", "),
            col("rx"), lit(" "), col("ry") + col("len"), lit(")")))
      val roads = d.withColumn("the_geom", G.stGeomFromWkt(wkt))
      RsuIndicators.linearRoadOperations(zones, roads, angleRange = 90, grid, Res)
        .select(col("id_rsu"),
          round(col("road_direction_distribution_d0_90"), 9).as("road_direction_distribution_d0_90"),
          round(col("road_direction_distribution_d90_180"), 9).as("road_direction_distribution_d90_180"),
          round(col("linear_road_density"), 9).as("linear_road_density"))
        .orderBy("id_rsu")
    }),

    // -- roof area fractions per height layer, buildings clipped to RSUs,
    //    all layers fused in one aggregate (RsuIndicators.groovy:1938-2063) --
    "rsu_roof_fractions" -> ((s, dir) => {
      val zones = Tiling.makeGrid(s, 0, 0, 150, 150, 50, 50)
        .select(col("id_grid").as("id_rsu"), col("the_geom"))
      val pieces = RsuIndicators.unitPairs(scatterRects(s, dir).select("the_geom", "height_roof"),
          zones, "id_rsu", grid, Res)
        .withColumn("area", G.stIntersectionArea(col("unit_geom"), col("the_geom")))
      RsuIndicators.roofFractionDistributionExact(zones, pieces,
        Seq((0.0, 5.0), (5.0, 12.0), (12.0, 50.0)))
        .select(col("id_rsu"),
          round(col("roof_fraction_distribution_h0_5"), 9).as("roof_fraction_distribution_h0_5"),
          round(col("roof_fraction_distribution_h5_12"), 9).as("roof_fraction_distribution_h5_12"),
          round(col("roof_fraction_distribution_h12_50"), 9).as("roof_fraction_distribution_h12_50"))
        .orderBy("id_rsu")
    }),

    // -- pivoted zonal area fractions by class (raster<->vector zonal agg —
    //    GenericIndicators.groovy:997-1124) ---------------------------------
    "geo_zonal_frac" -> ((s, dir) => {
      val zones = Tiling.makeGrid(s, 0, 0, 150, 150, 50, 50)
        .select(col("id_grid").as("id_zone"), col("the_geom"))
      val veg = scatterRects(s, dir).select(col("the_geom").as("vgeom"), col("cls"))
      Tiling.zonalAreaStats(zones, "id_zone", "the_geom", veg, "vgeom", "cls",
        Seq("low", "high"), grid, Res)
        .select(col("id_zone"),
          round(col("area_fraction_low"), 9).as("area_fraction_low"),
          round(col("area_fraction_high"), 9).as("area_fraction_high"))
        .orderBy("id_zone")
    }),

    // -- per-cell distance to the containing polygon's boundary
    //    (GridIndicators.groovy:293-329 gridDistances) -----------------------
    "grid_distances" -> ((s, dir) => {
      val cells = Tiling.makeGrid(s, 0, 0, 200, 80, 5, 5)
        .select(col("id_grid"), col("the_geom"))
      GridIndicators.gridDistances(facBands(s).select(col("the_geom")), cells, grid, Res)
        .select(col("id_grid"), round(col("distance"), 9).as("distance"))
        .orderBy("id_grid")
    }),

    // -- grid LOD pyramid: weighted mode with count/weight tiebreak
    //    (GridIndicators.groovy:126-280). Weights replicate the reference's
    //    weight_lcz CASE (GridIndicators.groovy:199-206): urban classes keep
    //    their LCZ value (1-10), rural remap 105->11, 107->12, 106->13,
    //    101->14, 102->15, 103/104->16; tiebreak is weight ASC, so LOW urban
    //    LCZ wins count ties over rural. ------------------------------------
    "grid_lod_mode" -> ((s, dir) => {
      GridIndicators.lodMode(gridCells(s, dir), "lcz", RefLczWeights, level = 1)
        .orderBy("lod_row", "lod_col")
    }),

    // -- LOD-1 mode cells with 8-neighbor mode stats (the reference computes
    //    neighbor LCZ at every LOD — GridIndicators.groovy:238-280) ---------
    "grid_lod_neighbors" -> ((s, dir) => {
      val lod = GridIndicators.lodMode(gridCells(s, dir), "lcz", RefLczWeights, level = 1)
        .select((col("lod_row") + 1).as("id_row"), (col("lod_col") + 1).as("id_col"),
          col("lcz_mode").as("lcz"))
      GridIndicators.neighborStats(lod, "lcz")
        .orderBy("id_row", "id_col")
    }),

    // -- grid 8-neighbor aggregate (GridIndicators.groovy:238-254) ----------
    "grid_neighbors" -> ((s, dir) => {
      GridIndicators.neighborStats(gridCells(s, dir), "lcz")
        .orderBy("id_row", "id_col")
    }),

    // -- grid sliding-window warm-LCZ count (GridIndicators.groovy:450-496) --
    "grid_sliding_warm" -> ((s, dir) => {
      GridIndicators.slidingWindowCount(gridCells(s, dir),
        col("lcz").isin(1, 2, 8), size = 2, outCol = "warm_count")
        .orderBy("id_row", "id_col")
    }),

    // -- LCZ classification on the reference fixture; oracle = the reference
    //    test suite's own golden classes (identifyLczTypeTest) --------------
    "lcz_classify" -> ((s, dir) => {
      Lcz.identifyLczType(GeoFixture.lczIndicsDf(s), GeoFixture.rsuAllIndicsLczDf(s))
        .where(col("id_rsu").isin(1, 2, 3, 4, 5, 6, 7, 18, 19, 20))
        .select(col("id_rsu"), col("lcz_primary"))
        .orderBy("id_rsu")
    }),

    // -- max-overlap tile assignment on the reference fixture; oracle = the
    //    reference's block_build_corr table (data_for_tests.sql:80-81) ------
    "fixture_block_assign" -> ((s, dir) => {
      val ids = GeoFixture.blockBuildCorr.map(_._2)
      val b = GeoFixture.buildingDf(s).select(col("id_build"), col("the_geom"))
        .where(col("id_build").isin(ids: _*))
      SpatialJoin.assignMaxOverlap(b, "id_build", "the_geom",
        GeoFixture.blockDf(s), "id_block", "the_geom", grid, Res)
        .orderBy("id_build")
    }),

    // -- the pages end-to-end flagship: synth -> html text extraction
    //    (byte-identity verified via n_text_ok == cnt in the oracle) ->
    //    geocode -> cell-equijoin PIP -> tile assignment -> per-tile agg ----
    "pages_e2e" -> ((s, dir) => {
      val pages = Pages.synth(s, 20000)
        .withColumn("text_ok", (Pages.extractText(col("html")) === col("text")).cast("long"))
      val geo = Pages.geocode(pages)
      val rsu = GeoFixture.rsuDf(s).select("id_rsu", "the_geom")
      SpatialJoin.pointInPolygon(geo, "x", "y", rsu, "the_geom", grid, Res)
        .groupBy(col("id_rsu").cast("long").as("id_rsu"),
          Tiling.tileCol(col("x"), 0.0, 10.0).as("id_col"),
          Tiling.tileRow(col("y"), 0.0, 10.0).as("id_row"))
        .agg(count(lit(1)).as("cnt"), sum(col("text_ok")).as("n_text_ok"),
          sum(length(col("text"))).as("sum_text_len"))
        .orderBy("id_rsu", "id_col", "id_row")
    }),

    // -- population disaggregation: zone population spread over residential
    //    floor area (BuildingIndicators.groovy:507-577) ---------------------
    "bld_population" -> ((s, dir) => {
      val b = rectLayer(s, dir).withColumnRenamed("type", "main_use")
      val zones = s.range(0, 4).toDF("z").select(
        col("z").as("id_pop"),
        ((col("z") + 1) * 1000).cast("double").as("pop"),
        G.stMakeBox(lit(0.0), col("z") * 20.0, lit(200.0), (col("z") + 1) * 20.0).as("the_geom"))
      BuildingIndicators.buildingPopulation(b, zones, Seq("residential"), grid, Res)
        .select(col("id_build"), round(col("pop"), 9).as("pop"))
        .orderBy("id_build")
    }),

    // -- population at RSU scale: building population summed per RSU
    //    (RsuIndicators.groovy:2325-2382, multiScalePopulation chain) -------
    "rsu_population" -> ((s, dir) => {
      val b = rectLayer(s, dir).withColumnRenamed("type", "main_use")
      val zones = s.range(0, 4).toDF("z").select(
        col("z").as("id_pop"),
        ((col("z") + 1) * 1000).cast("double").as("pop"),
        G.stMakeBox(lit(0.0), col("z") * 20.0, lit(200.0), (col("z") + 1) * 20.0).as("the_geom"))
      val perBuilding = BuildingIndicators.buildingPopulation(b, zones, Seq("residential"), grid, Res)
        .join(rectLayer(s, dir).select(col("id_build"),
          floor(col("y0") / 20).cast("long").as("id_rsu")), "id_build")
      val upper = s.range(0, 6).toDF("id_rsu")
      upper.join(perBuilding.groupBy("id_rsu").agg(sum(col("pop")).as("pop")), Seq("id_rsu"), "left")
        .select(col("id_rsu"), round(coalesce(col("pop"), lit(0.0)), 9).as("pop"))
        .orderBy("id_rsu")
    }),

    // -- surface-fraction superposition: building x high-vegetation atoms per
    //    RSU (smallestCommunGeometry + surfaceFractions output semantics —
    //    RsuIndicators.groovy:1473-1590, 1744-1869) -------------------------
    "rsu_surface_fractions" -> ((s, dir) => {
      val zones = Tiling.makeGrid(s, 0, 0, 150, 150, 50, 50)
        .select(col("id_grid").as("id_rsu"), col("the_geom"))
      val b = rectLayer(s, dir).select("the_geom")
      val veg = t(s, dir, "documents").where(col("doc_id") < 400).select(
        (col("doc_id") % 20 * 7).cast("double").as("vx"),
        (floor(col("doc_id") / 20) % 20 * 7).cast("double").as("vy"),
        (col("doc_id") % 5 + 2).cast("double").as("vw"),
        (col("doc_id") * 3 % 5 + 2).cast("double").as("vh"))
        .withColumn("the_geom",
          G.stMakeBox(col("vx"), col("vy"), col("vx") + col("vw"), col("vy") + col("vh")))
        .select("the_geom")
      RsuIndicators.surfaceFractionsTwoLayer(zones, b, veg, grid, Res)
        .select(col("id_rsu"),
          round(col("building_fraction"), 9).as("building_fraction"),
          round(col("high_vegetation_building_fraction"), 9).as("high_vegetation_building_fraction"),
          round(col("high_vegetation_fraction"), 9).as("high_vegetation_fraction"),
          round(col("undefined_fraction"), 9).as("undefined_fraction"))
        .orderBy("id_rsu")
    }),

    // -- projected facade area distribution (RsuIndicators.groovy:424-612):
    //    party-wall removal, per-layer vertical clipping, per-direction
    //    sin-projection, summed per RSU band ---------------------------------
    "rsu_facade_distribution" -> ((s, dir) => {
      facDist(s, dir)
        .select(col("id_rsu") +: FacOutNames.map(n => round(col(n), 6).as(n)): _*)
        .orderBy("id_rsu")
    }),

    // -- directional projected facade density (RsuIndicators.groovy:988-1034):
    //    per-direction layer sums over RSU area -----------------------------
    "rsu_facade_density_dir" -> ((s, dir) => {
      val withGeom = facDist(s, dir).join(facBands(s), "id_rsu")
      RsuIndicators.projectedFacadeDensityDir(withGeom, FacLayerNames, FacDirNames)
        .select(col("id_rsu") +: FacDirNames.map(d =>
          round(col(s"projected_facade_density_dir_$d"), 6)
            .as(s"projected_facade_density_dir_$d")): _*)
        .orderBy("id_rsu")
    }),

    // -- effective terrain roughness length z0 (RsuIndicators.groovy:901-957):
    //    lambda_f from the facade distribution, Hanna&Britter piecewise ------
    "rsu_roughness_length" -> ((s, dir) => {
      import GenericIndicators._
      val lower = rectLayer(s, dir)
        .where(col("y0") < 80)
        .select(floor(col("y0") / 20).cast("long").as("id_rsu"),
          col("height_wall"), col("id_build"))
      val gm = perUnit(lower, facBands(s), "id_rsu")(unweightedOperationFromLowerScale("id_build",
        Map("height_wall" -> Seq(OpGeomAvg))))
      val joined = facDist(s, dir).join(gm, "id_rsu")
      RsuIndicators.effectiveTerrainRoughnessLength(joined, FacOutNames, "geom_avg_height_wall")
        .select(col("id_rsu"),
          round(col("effective_terrain_roughness_length"), 6).as("effective_terrain_roughness_length"))
        .orderBy("id_rsu")
    }),

    // -- schema-aligning union with null padding (DataUtils.groovy:195-210
    //    unionTables -> unionByName(allowMissingColumns)) -------------------
    "set_union_pad" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val a = d.select(col("doc_id"), col("n_chars"))
      val b = d.select((col("doc_id") + 1000000).as("doc_id"), col("lang"))
      a.unionByName(b, allowMissingColumns = true).orderBy("doc_id")
    }),

    // -- frontal area index distribution (RsuIndicators.groovy:2092-2313):
    //    negative shared-facade rows, orientation-aware sin projection ------
    "rsu_frontal_index" -> ((s, dir) => {
      val b = rectLayer(s, dir)
        .withColumn("id_rsu", floor(col("y0") / 20).cast("long"))
        .where(col("id_rsu") < 4 &&
          !(col("y0") % 20 === 0 || (col("y0") % 20 === 15 && col("h") === 5)))
        .select("id_build", "id_rsu", "the_geom", "height_wall")
      val names = for (l <- Seq("h0_5", "h5_10", "h10_13"); k <- 0 until 4)
        yield s"frontal_area_index_${l}_d${k * 90}_${(k + 1) * 90}"
      RsuIndicators.frontalAreaIndexDistribution(ownBandPairs(s, b), facBands(s), grid, Res,
          Seq(0, 5, 10), 4)
        .select(col("id_rsu") +: names.map(n => round(col(n), 6).as(n)): _*)
        .orderBy("id_rsu")
    }),

    // -- OSM-style way assembly: node/way tables -> geometries
    //    (osmtools Transform.groovy toPolygons/toLines) ---------------------
    "osm_way_assembly" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 40 * 5).cast("double").as("x0"),
        (floor(col("doc_id") / 40) * 5).cast("double").as("y0"),
        (col("doc_id") % 4 + 2).cast("double").as("w"),
        (floor(col("doc_id") / 4) % 4 + 2).cast("double").as("h"))
      // 5 ordered ring nodes per way; node ids unique per (way, corner)
      val corners = d.select(col("doc_id").as("way_id"), explode(array(
        struct(lit(0).as("pos"), col("x0").as("x"), col("y0").as("y")),
        struct(lit(1).as("pos"), (col("x0") + col("w")).as("x"), col("y0").as("y")),
        struct(lit(2).as("pos"), (col("x0") + col("w")).as("x"), (col("y0") + col("h")).as("y")),
        struct(lit(3).as("pos"), col("x0").as("x"), (col("y0") + col("h")).as("y")),
        struct(lit(4).as("pos"), col("x0").as("x"), col("y0").as("y")))).as("c"))
      val nodes = corners.select(
        (col("way_id") * 8 + col("c.pos")).as("node_id"), col("c.x").as("x"), col("c.y").as("y"))
      val wayNodes = corners.select(col("way_id"), col("c.pos").as("pos"),
        (col("way_id") * 8 + col("c.pos")).as("node_id"))
      graft.sources.OsmAssembly.assembleWays(wayNodes, nodes)
        .select(col("way_id"),
          round(G.stArea(col("the_geom")), 9).as("area"),
          round(G.stPerimeter(col("the_geom")), 9).as("perimeter"))
        .orderBy("way_id")
    }),

    // -- full overlay: smallestCommonGeometry atoms + priority/superposition
    //    surface fractions (RsuIndicators.groovy:1473-1590, 1744-1869) ------
    "rsu_overlay_fractions" -> ((s, dir) => {
      val zones = Tiling.makeGrid(s, 0, 0, 150, 150, 50, 50)
        .select(col("id_grid").as("id_rsu"), col("the_geom"))
      val b = RsuIndicators.unitPairs(rectLayer(s, dir).select("the_geom"), zones, "id_rsu", grid, Res)
      val veg = t(s, dir, "documents").where(col("doc_id") < 400).select(
        (col("doc_id") % 20 * 7).cast("double").as("vx"),
        (floor(col("doc_id") / 20) % 20 * 7).cast("double").as("vy"),
        (col("doc_id") % 5 + 2).cast("double").as("vw"),
        (col("doc_id") * 3 % 5 + 2).cast("double").as("vh"))
        .select(G.stMakeBox(col("vx"), col("vy"), col("vx") + col("vw"), col("vy") + col("vh"))
          .as("the_geom"))
      val water = t(s, dir, "documents").where(col("doc_id") < 169).select(
        (col("doc_id") % 13 * 11).cast("double").as("wx"),
        (floor(col("doc_id") / 13) % 13 * 11).cast("double").as("wy"),
        (col("doc_id") % 7 + 2).cast("double").as("ww"),
        (col("doc_id") * 7 % 7 + 2).cast("double").as("wh"))
        .select(G.stMakeBox(col("wx"), col("wy"), col("wx") + col("ww"), col("wy") + col("wh"))
          .as("the_geom"))
      val scg = RsuIndicators.smallestCommonGeometry(zones,
        Seq("water" -> water, "building" -> b, "high_vegetation" -> veg), grid, Res)
      RsuIndicators.surfaceFractions(scg, zones,
        Map("high_vegetation" -> Seq("water", "building")),
        Seq("water", "building", "high_vegetation"))
        .select(col("id_rsu"),
          round(col("high_vegetation_fraction"), 9).as("high_vegetation_fraction"),
          round(col("high_vegetation_water_fraction"), 9).as("high_vegetation_water_fraction"),
          round(col("high_vegetation_building_fraction"), 9).as("high_vegetation_building_fraction"),
          round(col("water_fraction"), 9).as("water_fraction"),
          round(col("building_fraction"), 9).as("building_fraction"),
          round(col("undefined_fraction"), 9).as("undefined_fraction"))
        .orderBy("id_rsu")
    }),

    // -- TSU creation: node + polygonize a line mesh into faces
    //    (SpatialUnits.groovy:108-146, reference golden = 9 faces for the
    //    fixture roads; here a 4x4 grid mesh with exactly known faces) ------
    "geo_tsu_polygonize" -> ((s, dir) => {
      import s.implicits._
      val wkts = (0 to 3).map(i => s"LINESTRING(${i * 20} 0, ${i * 20} 60)") ++
        (0 to 3).map(j => s"LINESTRING(0 ${j * 20}, 60 ${j * 20})")
      val lines = wkts.toDF("wkt")
        .select(lit(1).as("id_zone"), G.stGeomFromWkt(col("wkt")).as("the_geom"))
      graft.operators.SpatialUnits.createTSU(lines, "id_zone", "the_geom")
        .select(col("id_rsu"),
          round(G.stArea(col("the_geom")), 2).as("area"),
          round(G.stX(G.stCentroid(col("the_geom"))), 2).as("cx"),
          round(G.stY(G.stCentroid(col("the_geom"))), 2).as("cy"))
        .orderBy("id_rsu")
    }),

    // -- simplified ground sky view factor = 1 - extended free facade
    //    fraction over the 10m-buffered RSU (the default workflow's
    //    svfSimplified=true path — WorkflowGeoIndicators.groovy:666-674) ----
    "rsu_svf_simplified" -> ((s, dir) => {
      val rects = rectLayer(s, dir)
      val nb = BuildingIndicators.neighborsProperties(rects, grid, Res)
        .select("id_build", "contiguity")
      val b = rects.join(nb, "id_build")
        .withColumn("total_facade_length", (col("w") + col("h")) * 2)
      RsuIndicators.groundSkyViewFactorSimplified(b, facBands(s), 10.0, grid, Res)
        .select(col("id_rsu"),
          round(col("ground_sky_view_factor"), 6).as("ground_sky_view_factor"))
        .orderBy("id_rsu")
    }),

    // -- exact free external facade density with snap-tolerance shared-wall
    //    subtraction (RsuIndicators.groovy:108-214) -------------------------
    "rsu_exact_facade_density" -> ((s, dir) => {
      val b = rectLayer(s, dir)
        .withColumn("id_rsu", floor(col("y0") / 20).cast("long"))
        .where(col("id_rsu") < 4)
        .select("id_build", "id_rsu", "the_geom", "height_wall")
      RsuIndicators.freeExternalFacadeDensityExact(ownBandPairs(s, b), facBands(s))
        .select(col("id_rsu"),
          round(col("free_external_facade_density"), 9).as("free_external_facade_density"))
        .orderBy("id_rsu")
    }),

    // -- gable-roof area distribution per height layer + densities
    //    (RsuIndicators.groovy:661-862) -------------------------------------
    "rsu_roof_distribution" -> ((s, dir) => {
      val b = rectLayer(s, dir)
        .withColumn("id_rsu", floor(col("y0") / 20).cast("long"))
        .where(col("id_rsu") < 4)
        .select("id_build", "id_rsu", "the_geom", "height_wall", "height_roof")
      val names = Seq("non_vert_roof_area_h0_5", "non_vert_roof_area_h5_10",
        "non_vert_roof_area_h10", "vert_roof_area_h0_5", "vert_roof_area_h5_10",
        "vert_roof_area_h10", "vert_roof_density", "non_vert_roof_density")
      val geom = b.drop("id_rsu")
      RsuIndicators.roofAreaDistribution(facBands(s), b,
          RsuIndicators.unitPairs(geom, facBands(s), "id_rsu", grid, Res),
          RsuIndicators.buildingNeighbours(geom, grid, Res), Seq(0, 5, 10))
        .select(col("id_rsu") +: names.map(n => round(col(n), 6).as(n)): _*)
        .orderBy("id_rsu")
    }),

    // -- SMBR building direction distribution + characterization
    //    (GenericIndicators.groovy:291-411) ---------------------------------
    "bld_direction" -> ((s, dir) => {
      val b = rectLayer(s, dir).withColumn("id_zone", col("id_build") % 20)
      val upper = s.range(0, 25).toDF("id_zone")
      GenericIndicators.perUnit(b, upper, "id_zone")(GenericIndicators.buildingDirectionDistribution(15))
        .select(col("id_zone"), col("main_building_direction"),
          round(col("building_direction_equality"), 9).as("building_direction_equality"),
          round(col("building_direction_uniqueness"), 9).as("building_direction_uniqueness"))
        .orderBy("id_zone")
    }),

    // -- embedding-cosine near-dup pairs (exact; broadcast self-join,
    //    IVF-bucketed at scale — see Similarity.cosinePairs) ----------------
    "dedup_embedding_cosine" -> ((s, dir) => {
      Similarity.cosinePairs(t(s, dir, "embeddings"), "vec_id", "embedding", 0.4)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 9).as("cosine"))
        .orderBy("id_a", "id_b")
    }),

    // -- the flagship's polygon half: footprints extracted from html,
    //    max-overlap-assigned to the fixture RSU polygons (the north star's
    //    "extracted footprint polygons joined against reference polygons") --
    "pages_footprints" -> ((s, dir) => {
      val pages = Pages.synth(s, 20000)
        .withColumn("wkt", Pages.extractFootprintWkt(col("html")))
        .where(col("wkt").isNotNull)
        .withColumn("fp", G.stGeomFromWkt(col("wkt")))
      val rsu = GeoFixture.rsuDf(s).select("id_rsu", "the_geom")
      SpatialJoin.assignMaxOverlap(pages, "i", "fp", rsu, "id_rsu", "the_geom", grid, Res)
        .groupBy(col("id_rsu").cast("long").as("id_rsu"))
        .agg(count(lit(1)).as("n_pages"))
        .orderBy("id_rsu")
    }),

    // MinHash+LSH near-dup pairs (banded signature equi-join on id-only
    // keys + exact shingle-set verify). The ORACLE is the exact all-pairs
    // trigram-set jaccard >= threshold: LSH jaccard over 64-bit shingle
    // hashes equals string-shingle jaccard (xxhash collisions aside), and
    // at these SFs every true pair sits at j >= 0.8 where 16x3 banding
    // recalls with P(miss) ~ 1e-5 per pair — so the gate checks BOTH the
    // verify math and the candidate recall.
    "dedup_minhash_lsh" -> ((s, dir) => {
      lshPairs(s, dir)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 9).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // SimHash near-dup pairs (16-bit chunk candidates + Hamming verify).
    // Pigeonhole candidates are LOSSLESS at maxHamming<=3, so the output is
    // a pure function of the word hash; the md5-based hash (Dedup.md5WordHash)
    // is bit-replicable in DuckDB — full oracle, not rows-only.
    "dedup_simhash" -> ((s, dir) => {
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3,
          wordHash = Dedup.Md5WordHasher, maxBucket = Some(4096))
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b")
    }),

    // IVF approximate nearest neighbors (bucketed scan path): centroids =
    // first-k vectors, map-side argmax assignment, nProbe buckets probed.
    // Deterministic end-to-end -> replicated exactly in the DuckDB oracle.
    "ann_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id").isin(1L, 7L, 42L, 99L, 123L))
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      // one Lloyd refinement pass over the first-k seed (the scale path's
      // bucket-balance option; oracle replicates the mean + reassignment)
      Similarity.ivfTopK(emb, "vec_id", "embedding", queries, k = 10,
        numCentroids = 8, nProbe = 3, refineIterations = 1)
        .select(col("qid"), col("rank").cast("long").as("rank"), col("vec_id"))
        .orderBy("qid", "rank")
    }),

    // Multimodal feature extraction (stub codec; real batching/schema).
    // The stub features are byte-bucket sums scaled by 1/255 in float32;
    // scaling back by 255 and rounding recovers EXACT integer byte sums
    // (float error << 0.5), so the oracle is pure integer arithmetic.
    "multimodal_feats" -> ((s, dir) => {
      Multimodal.extractFeatures(Multimodal.synthMedia(s, 500), dim = 8)
        .toDF()
        .select(col("mediaId").as("media_id"), col("kind"),
          round(aggregate(col("features"), lit(0.0), (a, x) => a + x.cast("double")) * 255.0)
            .cast("long").as("feat_sum_scaled"),
          round(element_at(col("features"), 1).cast("double") * 255.0)
            .cast("long").as("feat0_scaled"))
        .orderBy("media_id")
    }),

    // Order-sensitive rolling document fingerprint (md5-based word hash —
    // same 31-bit field fold replicated in DuckDB via list_reduce).
    "text_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text"), Dedup.md5WordHash).as("fingerprint"))
        .orderBy("doc_id")
    }))

  // =========================================================================
  val oracles: Map[String, String] = Map(
    "bld_neighbors" ->
      s"""WITH $rectsSql, $pairsSql
        |SELECT id_build, round(contiguity, 9) AS contiguity,
        |  round(cwf, 9) AS common_wall_fraction,
        |  nbn AS number_building_neighbor
        |FROM contig ORDER BY id_build""".stripMargin,
    "bld_spacing" ->
      s"""WITH $rectsSql,
        |d AS (SELECT a.id_build,
        |    sqrt(power(greatest(b.x0 - (a.x0 + a.w), a.x0 - (b.x0 + b.w), 0.0), 2)
        |       + power(greatest(b.y0 - (a.y0 + a.h), a.y0 - (b.y0 + b.h), 0.0), 2)) AS dist
        |  FROM rects a JOIN rects b ON a.id_build <> b.id_build),
        |m AS (SELECT id_build, min(dist) AS md FROM d WHERE dist <= 12.0 GROUP BY 1)
        |SELECT r.id_build, round(coalesce(m.md, 12.0), 3) AS minimum_building_spacing
        |FROM rects r LEFT JOIN m ON r.id_build = m.id_build ORDER BY r.id_build""".stripMargin,
    "bld_likelihood" ->
      s"""WITH $rectsSql, $pairsSql
        |SELECT id_build,
        |  round(CASE WHEN c.nbn > 0 THEN 0.0
        |    ELSE 1.0 / (1.0 + exp(6.5) * exp(-0.25 * sqrt(r.w*r.w + r.h*r.h))) END, 6)
        |    AS likelihood_large_building
        |FROM contig c JOIN rects r USING (id_build) ORDER BY id_build""".stripMargin,
    "agg_weighted" ->
      """WITH z AS (SELECT CAST(range AS BIGINT) AS id_zone FROM range(0, 25)),
        |l AS (SELECT doc_id % 20 AS id_zone, CAST(n_chars AS DOUBLE) AS v,
        |    CAST(doc_id % 5 + 1 AS DOUBLE) AS wt FROM documents),
        |g AS (SELECT id_zone, sum(v * wt) AS sw, sum(v * v * wt) AS sww, sum(wt) AS sumw
        |  FROM l GROUP BY 1)
        |SELECT z.id_zone,
        |  round(CASE WHEN g.sumw IS NULL OR g.sumw = 0 THEN 0.0 ELSE g.sw / g.sumw END, 6)
        |    AS avg_nc_wt_weighted,
        |  round(CASE WHEN g.sumw IS NULL OR g.sumw = 0 THEN 0.0
        |    ELSE sqrt(greatest(g.sww / g.sumw - (g.sw / g.sumw) * (g.sw / g.sumw), 0.0)) END, 6)
        |    AS std_nc_wt_weighted
        |FROM z LEFT JOIN g ON z.id_zone = g.id_zone ORDER BY z.id_zone""".stripMargin,
    "agg_type_prop" ->
      s"""WITH $rectsSql,
        |z AS (SELECT CAST(range AS BIGINT) AS id_zone FROM range(0, 25)),
        |g AS (SELECT id_zone, sum(w * h) AS area,
        |    sum(CASE WHEN type = 'residential' THEN w * h ELSE NULL END) AS a_res,
        |    sum(CASE WHEN type IN ('industrial', 'commercial') THEN w * h ELSE NULL END) AS a_ind,
        |    sum(w * h * lev) AS farea,
        |    sum(CASE WHEN type = 'residential' THEN w * h * lev ELSE NULL END) AS f_res
        |  FROM rects GROUP BY 1)
        |SELECT z.id_zone,
        |  round(CASE WHEN g.area IS NULL OR g.area = 0 THEN 0.0
        |    ELSE coalesce(g.a_res / g.area, 0.0) END, 9) AS area_fraction_residential,
        |  round(CASE WHEN g.area IS NULL OR g.area = 0 THEN 0.0
        |    ELSE coalesce(g.a_ind / g.area, 0.0) END, 9) AS area_fraction_industrial,
        |  round(CASE WHEN g.farea IS NULL OR g.farea = 0 THEN 0.0
        |    ELSE coalesce(g.f_res / g.farea, 0.0) END, 9) AS floor_area_fraction_residential
        |FROM z LEFT JOIN g ON z.id_zone = g.id_zone ORDER BY z.id_zone""".stripMargin,
    "distribution_char" ->
      """WITH v AS (SELECT doc_id,
        |    CAST(doc_id % 7 AS DOUBLE) AS a, CAST(doc_id * 3 % 11 AS DOUBLE) AS b,
        |    CAST(doc_id * 5 % 13 AS DOUBLE) AS c, CAST(doc_id * 7 % 17 AS DOUBLE) AS d
        |  FROM documents),
        |m AS (SELECT doc_id, a, b, c, d, a + b + c + d AS tot,
        |    greatest(a, b, c, d) AS x1,
        |    greatest(least(a,b), least(a,c), least(a,d), least(b,c), least(b,d), least(c,d)) AS x2
        |  FROM v)
        |SELECT doc_id,
        |  round(CASE WHEN tot = 0 THEN NULL
        |    ELSE (least(a, tot/4) + least(b, tot/4) + least(c, tot/4) + least(d, tot/4)) / tot
        |    END, 9) AS equality_value,
        |  round(CASE WHEN x1 + x2 = 0 THEN 0.0 ELSE abs(x1 - x2) / (x1 + x2) END, 9)
        |    AS uniqueness_value,
        |  CAST(CASE WHEN a >= b AND a >= c AND a >= d THEN 1
        |    WHEN b >= c AND b >= d THEN 2 WHEN c >= d THEN 3 ELSE 4 END AS INTEGER)
        |    AS extremum_index
        |FROM m ORDER BY doc_id""".stripMargin,
    "block_compactness" ->
      s"""WITH $rectsSql, $pairsSql
        |SELECT r.id_blk AS id_block,
        |  round(sum(c.contiguity * (2*(r.w + r.h)) * r.hw)
        |      / power(sum(r.w * r.h * 0.5 * (r.hw + r.hr)), 2.0/3.0), 9) AS net_compactness
        |FROM contig c JOIN rects r USING (id_build)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "rsu_facade_street" ->
      s"""WITH $rectsSql, $pairsSql,
        |za AS (SELECT DISTINCT id_build // 10 AS id_rsu FROM rects),
        |zb AS (SELECT id_rsu, (10.0 + id_rsu % 7) * (10.0 + id_rsu % 3) AS zarea FROM za),
        |f AS (SELECT r.id_build // 10 AS id_rsu,
        |    sum((1.0 - c.contiguity) * (2*(r.w + r.h)) * r.hw) AS s,
        |    sum(r.w * r.h) AS ba, avg(r.hr) AS ahr
        |  FROM contig c JOIN rects r USING (id_build) GROUP BY 1)
        |SELECT zb.id_rsu,
        |  round(f.s / zb.zarea, 9) AS free_external_facade_density,
        |  round(CASE WHEN f.ba = zb.zarea THEN NULL
        |    ELSE 0.5 * (f.s / zb.zarea) / (1.0 - f.ba / zb.zarea) END, 9) AS aspect_ratio,
        |  round(CASE WHEN f.ba = zb.zarea THEN NULL
        |    ELSE f.ahr / (0.5 * (f.s / zb.zarea) / (1.0 - f.ba / zb.zarea)) END, 9) AS street_width,
        |  round(f.ba / zb.zarea + f.s / zb.zarea, 9) AS building_surface_density
        |FROM zb JOIN f USING (id_rsu) ORDER BY id_rsu""".stripMargin,
    "rsu_road_density" ->
      s"""WITH $zones9Sql,
        |roads AS (SELECT doc_id,
        |    CAST(doc_id * 11 % 150 AS DOUBLE) AS rx, CAST(doc_id * 17 % 150 AS DOUBLE) AS ry,
        |    CAST(doc_id % 20 + 5 AS DOUBLE) AS len, doc_id % 2 AS vert
        |  FROM documents),
        |clips AS (SELECT z.idz, r.vert,
        |    CASE WHEN r.vert = 0 THEN
        |      (CASE WHEN r.ry >= z.zy AND r.ry <= z.zy + 50
        |        THEN greatest(0.0, least(r.rx + r.len, z.zx + 50) - greatest(r.rx, z.zx)) ELSE 0.0 END)
        |    ELSE
        |      (CASE WHEN r.rx >= z.zx AND r.rx <= z.zx + 50
        |        THEN greatest(0.0, least(r.ry + r.len, z.zy + 50) - greatest(r.ry, z.zy)) ELSE 0.0 END)
        |    END AS clen
        |  FROM z9 z CROSS JOIN roads r),
        |agg AS (SELECT idz, sum(CASE WHEN vert = 1 THEN clen ELSE 0.0 END) AS d0,
        |    sum(CASE WHEN vert = 0 THEN clen ELSE 0.0 END) AS d90
        |  FROM clips GROUP BY 1)
        |SELECT z.idz AS id_rsu,
        |  round(coalesce(a.d0, 0.0), 9) AS road_direction_distribution_d0_90,
        |  round(coalesce(a.d90, 0.0), 9) AS road_direction_distribution_d90_180,
        |  round((coalesce(a.d0, 0.0) + coalesce(a.d90, 0.0)) / 2500.0, 9) AS linear_road_density
        |FROM z9 z LEFT JOIN agg a ON z.idz = a.idz ORDER BY id_rsu""".stripMargin,
    "rsu_roof_fractions" ->
      s"""WITH $scatterSql, $zones9Sql,
        |ov AS (SELECT z.idz, sc.hr,
        |      greatest(0.0, least(sc.bx + sc.bw, z.zx + 50) - greatest(sc.bx, z.zx))
        |    * greatest(0.0, least(sc.by + sc.bh, z.zy + 50) - greatest(sc.by, z.zy)) AS a
        |  FROM z9 z CROSS JOIN sc),
        |g AS (SELECT idz,
        |    sum(CASE WHEN hr >= 0 AND hr < 5 THEN a ELSE 0.0 END) AS l0,
        |    sum(CASE WHEN hr >= 5 AND hr < 12 THEN a ELSE 0.0 END) AS l1,
        |    sum(CASE WHEN hr >= 12 AND hr < 50 THEN a ELSE 0.0 END) AS l2,
        |    sum(a) AS tot
        |  FROM ov GROUP BY 1)
        |SELECT z.idz AS id_rsu,
        |  round(coalesce(g.l0 / nullif(g.tot, 0.0), 0.0), 9) AS roof_fraction_distribution_h0_5,
        |  round(coalesce(g.l1 / nullif(g.tot, 0.0), 0.0), 9) AS roof_fraction_distribution_h5_12,
        |  round(coalesce(g.l2 / nullif(g.tot, 0.0), 0.0), 9) AS roof_fraction_distribution_h12_50
        |FROM z9 z LEFT JOIN g ON z.idz = g.idz ORDER BY id_rsu""".stripMargin,
    "geo_zonal_frac" ->
      s"""WITH $scatterSql, $zones9Sql,
        |ov AS (SELECT z.idz, sc.cls,
        |      greatest(0.0, least(sc.bx + sc.bw, z.zx + 50) - greatest(sc.bx, z.zx))
        |    * greatest(0.0, least(sc.by + sc.bh, z.zy + 50) - greatest(sc.by, z.zy)) AS a
        |  FROM z9 z CROSS JOIN sc),
        |g AS (SELECT idz, sum(CASE WHEN cls = 'low' THEN a ELSE 0.0 END) AS a_low,
        |    sum(CASE WHEN cls = 'high' THEN a ELSE 0.0 END) AS a_high
        |  FROM ov WHERE a > 0 GROUP BY 1)
        |SELECT z.idz AS id_zone,
        |  round(coalesce(g.a_low, 0.0) / 2500.0, 9) AS area_fraction_low,
        |  round(coalesce(g.a_high, 0.0) / 2500.0, 9) AS area_fraction_high
        |FROM z9 z LEFT JOIN g ON z.idz = g.idz ORDER BY id_zone""".stripMargin,
    "grid_distances" ->
      """WITH cells AS (SELECT CAST(range AS BIGINT) AS id_grid,
        |    CAST(range % 40 AS DOUBLE) * 5 + 2.5 AS cx,
        |    CAST(range // 40 AS DOUBLE) * 5 + 2.5 AS cy
        |  FROM range(0, 640)),
        |bands AS (SELECT CAST(range * 20 AS DOUBLE) AS b0, CAST(range * 20 + 20 AS DOUBLE) AS b1
        |  FROM range(0, 4))
        |SELECT c.id_grid,
        |  round(least(c.cx - 0.0, 200.0 - c.cx, c.cy - b.b0, b.b1 - c.cy), 9) AS distance
        |FROM cells c JOIN bands b ON c.cy > b.b0 AND c.cy < b.b1
        |ORDER BY c.id_grid""".stripMargin,
    "grid_lod_mode" ->
      s"""WITH $gridCellsSql,
        |lod AS (SELECT (id_row - 1) // 3 AS lod_row, (id_col - 1) // 3 AS lod_col, lcz FROM cells),
        |cnts AS (SELECT lod_row, lod_col, lcz, count(*) AS cnt FROM lod GROUP BY 1, 2, 3),
        |w AS (SELECT *, $RefLczWeightSql AS wt FROM cnts),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lod_row, lod_col
        |    ORDER BY cnt DESC, wt, lcz) AS rn FROM w)
        |SELECT lod_row, lod_col, lcz AS lcz_mode, cnt FROM r WHERE rn = 1
        |ORDER BY lod_row, lod_col""".stripMargin,
    "grid_lod_neighbors" ->
      s"""WITH $gridCellsSql,
        |lod AS (SELECT (id_row - 1) // 3 AS lod_row, (id_col - 1) // 3 AS lod_col, lcz FROM cells),
        |cnts AS (SELECT lod_row, lod_col, lcz, count(*) AS cnt FROM lod GROUP BY 1, 2, 3),
        |w AS (SELECT *, $RefLczWeightSql AS wt FROM cnts),
        |m AS (SELECT lod_row + 1 AS id_row, lod_col + 1 AS id_col, lcz FROM (
        |    SELECT *, row_number() OVER (PARTITION BY lod_row, lod_col
        |      ORDER BY cnt DESC, wt, lcz) AS rn FROM w) WHERE rn = 1),
        |n AS (SELECT a.id_row, a.id_col, count(*) AS nn, sum(b.lcz) AS sl
        |  FROM m a JOIN m b
        |    ON abs(a.id_row - b.id_row) <= 1 AND abs(a.id_col - b.id_col) <= 1
        |    AND NOT (a.id_row = b.id_row AND a.id_col = b.id_col)
        |  GROUP BY 1, 2)
        |SELECT c.id_row, c.id_col, coalesce(n.nn, 0) AS n_neighbors,
        |  CAST(coalesce(n.sl, 0) AS BIGINT) AS sum_neighbors
        |FROM m c LEFT JOIN n ON c.id_row = n.id_row AND c.id_col = n.id_col
        |ORDER BY c.id_row, c.id_col""".stripMargin,
    "grid_neighbors" ->
      s"""WITH $gridCellsSql,
        |n AS (SELECT a.id_row, a.id_col, count(*) AS nn, sum(b.lcz) AS sl
        |  FROM cells a JOIN cells b
        |    ON abs(a.id_row - b.id_row) <= 1 AND abs(a.id_col - b.id_col) <= 1
        |    AND NOT (a.id_row = b.id_row AND a.id_col = b.id_col)
        |  GROUP BY 1, 2)
        |SELECT c.id_row, c.id_col, coalesce(n.nn, 0) AS n_neighbors,
        |  CAST(coalesce(n.sl, 0) AS BIGINT) AS sum_neighbors
        |FROM cells c LEFT JOIN n ON c.id_row = n.id_row AND c.id_col = n.id_col
        |ORDER BY c.id_row, c.id_col""".stripMargin,
    "grid_sliding_warm" ->
      s"""WITH $gridCellsSql,
        |wc AS (SELECT id_row, id_col FROM cells WHERE lcz IN (1, 2, 8)),
        |n AS (SELECT a.id_row, a.id_col, count(*) AS wn
        |  FROM cells a JOIN wc b
        |    ON abs(a.id_row - b.id_row) <= 2 AND abs(a.id_col - b.id_col) <= 2
        |  GROUP BY 1, 2)
        |SELECT c.id_row, c.id_col, coalesce(n.wn, 0) AS warm_count
        |FROM cells c LEFT JOIN n ON c.id_row = n.id_row AND c.id_col = n.id_col
        |ORDER BY c.id_row, c.id_col""".stripMargin,
    "bld_population" ->
      s"""WITH $rectsSql,
        |res AS (SELECT id_build, w * h * lev AS wt, CAST(y0 AS BIGINT) // 20 AS zb
        |  FROM rects WHERE type = 'residential' AND y0 < 80),
        |zw AS (SELECT zb, sum(wt) AS sw FROM res GROUP BY 1),
        |sh AS (SELECT id_build, (zb + 1) * 1000.0 * wt / sw AS pop
        |  FROM res JOIN zw USING (zb))
        |SELECT r.id_build, round(coalesce(sh.pop, 0.0), 9) AS pop
        |FROM rects r LEFT JOIN sh USING (id_build) ORDER BY id_build""".stripMargin,
    "rsu_population" ->
      s"""WITH $rectsSql,
        |res AS (SELECT id_build, w * h * lev AS wt, CAST(y0 AS BIGINT) // 20 AS zb
        |  FROM rects WHERE type = 'residential' AND y0 < 80),
        |zw AS (SELECT zb, sum(wt) AS sw FROM res GROUP BY 1),
        |sh AS (SELECT id_build, zb, (zb + 1) * 1000.0 * wt / sw AS pop
        |  FROM res JOIN zw USING (zb)),
        |g AS (SELECT zb AS id_rsu, sum(pop) AS pop FROM sh GROUP BY 1),
        |u AS (SELECT CAST(range AS BIGINT) AS id_rsu FROM range(0, 6))
        |SELECT u.id_rsu, round(coalesce(g.pop, 0.0), 9) AS pop
        |FROM u LEFT JOIN g ON u.id_rsu = g.id_rsu ORDER BY u.id_rsu""".stripMargin,
    "rsu_surface_fractions" ->
      s"""WITH $rectsSql, $zones9Sql,
        |veg AS (SELECT CAST(doc_id % 20 * 7 AS DOUBLE) AS vx,
        |    CAST((doc_id // 20) % 20 * 7 AS DOUBLE) AS vy,
        |    CAST(doc_id % 5 + 2 AS DOUBLE) AS vw, CAST(doc_id * 3 % 5 + 2 AS DOUBLE) AS vh
        |  FROM documents WHERE doc_id < 400),
        |ab AS (SELECT z.idz, sum(greatest(0.0, least(r.x0 + r.w, z.zx + 50) - greatest(r.x0, z.zx))
        |    * greatest(0.0, least(r.y0 + r.h, z.zy + 50) - greatest(r.y0, z.zy))) AS a
        |  FROM z9 z CROSS JOIN rects r GROUP BY 1),
        |av AS (SELECT z.idz, sum(greatest(0.0, least(v.vx + v.vw, z.zx + 50) - greatest(v.vx, z.zx))
        |    * greatest(0.0, least(v.vy + v.vh, z.zy + 50) - greatest(v.vy, z.zy))) AS a
        |  FROM z9 z CROSS JOIN veg v GROUP BY 1),
        |abv AS (SELECT z.idz,
        |    sum(greatest(0.0, least(r.x0 + r.w, v.vx + v.vw, z.zx + 50) - greatest(r.x0, v.vx, z.zx))
        |      * greatest(0.0, least(r.y0 + r.h, v.vy + v.vh, z.zy + 50) - greatest(r.y0, v.vy, z.zy))) AS a
        |  FROM z9 z CROSS JOIN rects r CROSS JOIN veg v GROUP BY 1)
        |SELECT z.idz AS id_rsu,
        |  round((coalesce(ab.a, 0.0) - coalesce(abv.a, 0.0)) / 2500.0, 9) AS building_fraction,
        |  round(coalesce(abv.a, 0.0) / 2500.0, 9) AS high_vegetation_building_fraction,
        |  round((coalesce(av.a, 0.0) - coalesce(abv.a, 0.0)) / 2500.0, 9) AS high_vegetation_fraction,
        |  round(1.0 - (coalesce(ab.a, 0.0) - coalesce(abv.a, 0.0)) / 2500.0
        |    - coalesce(abv.a, 0.0) / 2500.0
        |    - (coalesce(av.a, 0.0) - coalesce(abv.a, 0.0)) / 2500.0, 9) AS undefined_fraction
        |FROM z9 z LEFT JOIN ab ON z.idz = ab.idz LEFT JOIN av ON z.idz = av.idz
        |LEFT JOIN abv ON z.idz = abv.idz ORDER BY id_rsu""".stripMargin,
    "rsu_facade_distribution" -> {
      val outer = FacOutNames.map { n =>
        val inner = "__" + n.stripPrefix("projected_facade_area_distribution_")
        s"round(coalesce(g.$inner, 0.0), 6) AS $n"
      }.mkString(",\n  ")
      s"""WITH $rectsSql, $facadeRowsSql,
        |g AS (SELECT id_rsu, ${facCellsSql.mkString(", ")} FROM fb GROUP BY 1)
        |SELECT b.id_rsu,
        |  $outer
        |FROM bands b LEFT JOIN g ON b.id_rsu = g.id_rsu ORDER BY b.id_rsu""".stripMargin
    },
    "rsu_facade_density_dir" -> {
      val dirSums = FacDirNames.map { dn =>
        val cells = FacLayerNames.map(ln => s"coalesce(g.__${ln}_$dn, 0.0)").mkString(" + ")
        s"round(($cells) / 4000.0, 6) AS projected_facade_density_dir_$dn"
      }.mkString(",\n  ")
      s"""WITH $rectsSql, $facadeRowsSql,
        |g AS (SELECT id_rsu, ${facCellsSql.mkString(", ")} FROM fb GROUP BY 1)
        |SELECT b.id_rsu,
        |  $dirSums
        |FROM bands b LEFT JOIN g ON b.id_rsu = g.id_rsu ORDER BY b.id_rsu""".stripMargin
    },
    "rsu_roughness_length" ->
      s"""WITH $rectsSql, $facadeRowsSql,
        |g AS (SELECT id_rsu, ${facCellsSql.mkString(", ")} FROM fb GROUP BY 1),
        |lf AS (SELECT b.id_rsu,
        |    (${FacOutNames.map(n => "coalesce(g.__" + n.stripPrefix("projected_facade_area_distribution_") + ", 0.0)").mkString(" + ")})
        |      / (3 * 4000.0) AS l
        |  FROM bands b LEFT JOIN g ON b.id_rsu = g.id_rsu),
        |gm AS (SELECT CAST(y0 AS BIGINT) // 20 AS id_rsu, exp(avg(ln(hw))) AS h
        |  FROM rects WHERE y0 < 80 GROUP BY 1)
        |SELECT lf.id_rsu,
        |  round(CASE WHEN lf.l < 0.15
        |    THEN (CASE WHEN lf.l * gm.h > 3 THEN 3.0 ELSE lf.l * gm.h END)
        |    ELSE (CASE WHEN 0.15 * gm.h > 3 THEN 3.0 ELSE 0.15 * gm.h END) END, 6)
        |    AS effective_terrain_roughness_length
        |FROM lf JOIN gm ON lf.id_rsu = gm.id_rsu ORDER BY lf.id_rsu""".stripMargin,
    // Own boundary edges carry the ring orientation of stMakeBox (CCW:
    // bottom=east pi/2, right=north 0, top=west 3pi/2, left=south pi);
    // JTS intersection linework follows the FIRST operand's traversal, so a
    // negative shared row cancels in the same direction bucket as its
    // building's own edge (probed empirically, pinned by FrontalSpec).
    "rsu_frontal_index" -> {
      val dirs = (0 until 4).map(k => (k, s"(($k + 0.5) * pi() / 2)"))
      val layers = Seq(
        ("h0_5", "hw > 0", "(CASE WHEN hw >= 5 THEN 1.0 ELSE (hw - 0) / 5.0 END)"),
        ("h5_10", "hw > 5", "(CASE WHEN hw >= 10 THEN 1.0 ELSE (hw - 5) / 5.0 END)"),
        ("h10_13", "hw > 10", "((hw - 10) / 3.0)"))
      val cells = for {
        (ln, cond, hf) <- layers
        (k, v) <- dirs
      } yield {
        val proj = s"(CASE WHEN $v > az AND $v - az < pi() THEN len * sin($v - az) * $hf " +
          s"WHEN $v - az < -pi() THEN len * sin($v + 2 * pi() - az) * $hf ELSE 0.0 END)"
        s"round(coalesce(sum(CASE WHEN $cond THEN $proj ELSE 0.0 END), 0.0) / 4000.0, 6)" +
          s" AS frontal_area_index_${ln}_d${k * 90}_${(k + 1) * 90}"
      }
      val outs = (for { (ln, _, _) <- layers; k <- 0 until 4 } yield {
        val n = s"frontal_area_index_${ln}_d${k * 90}_${(k + 1) * 90}"
        s"coalesce(g.$n, 0.0) AS $n"
      }).mkString(",\n  ")
      s"""WITH $rectsSql,
        |ini AS (SELECT id_build, CAST(y0 AS BIGINT) // 20 AS id_rsu, x0, y0, w, h, hw
        |  FROM rects WHERE y0 < 80
        |    AND NOT (CAST(y0 AS BIGINT) % 20 = 0 OR (CAST(y0 AS BIGINT) % 20 = 15 AND h = 5))),
        |own AS (
        |  SELECT id_rsu, w AS len, pi()/2 AS az, hw FROM ini
        |  UNION ALL SELECT id_rsu, h, 0.0, hw FROM ini
        |  UNION ALL SELECT id_rsu, w, 3*pi()/2, hw FROM ini
        |  UNION ALL SELECT id_rsu, h, pi(), hw FROM ini),
        |tch AS (SELECT a.id_rsu, a.x0 AS ax, a.y0 AS ay, b.x0 AS bx, b.y0 AS by2,
        |    least(a.hw, b.hw) AS hw,
        |    greatest(0.0, least(a.x0+a.w, b.x0+b.w) - greatest(a.x0, b.x0)) AS xov,
        |    greatest(0.0, least(a.y0+a.h, b.y0+b.h) - greatest(a.y0, b.y0)) AS yov
        |  FROM ini a JOIN ini b ON a.id_rsu = b.id_rsu AND a.id_build <> b.id_build
        |    AND a.x0 <= b.x0 + b.w AND b.x0 <= a.x0 + a.w
        |    AND a.y0 <= b.y0 + b.h AND b.y0 <= a.y0 + a.h),
        |prs AS (SELECT id_rsu,
        |    -(CASE WHEN yov > 0 AND xov = 0 THEN yov ELSE xov END) AS len,
        |    (CASE WHEN yov > 0 AND xov = 0 THEN (CASE WHEN bx > ax THEN 0.0 ELSE pi() END)
        |      ELSE (CASE WHEN by2 > ay THEN 3*pi()/2 ELSE pi()/2 END) END) AS az,
        |    hw
        |  FROM tch WHERE (yov > 0 AND xov = 0) OR (xov > 0 AND yov = 0)),
        |rows_all AS (SELECT * FROM own UNION ALL SELECT * FROM prs WHERE len < 0),
        |bands AS (SELECT CAST(range AS BIGINT) AS id_rsu FROM range(0, 4)),
        |g AS (SELECT id_rsu, ${cells.mkString(",\n  ")} FROM rows_all GROUP BY 1)
        |SELECT b.id_rsu, $outs
        |FROM bands b LEFT JOIN g ON b.id_rsu = g.id_rsu ORDER BY b.id_rsu""".stripMargin
    },
    "osm_way_assembly" ->
      s"""WITH $rectsSql
        |SELECT id_build AS way_id, round(w * h, 9) AS area,
        |  round(2 * (w + h), 9) AS perimeter
        |FROM rects ORDER BY way_id""".stripMargin,
    // inclusion-exclusion over three non-self-overlapping rect layers; each
    // term is a sum of 1-D interval-overlap products with the zone box
    "rsu_overlay_fractions" ->
      s"""WITH $rectsSql, $zones9Sql,
        |veg AS (SELECT CAST(doc_id % 20 * 7 AS DOUBLE) AS vx,
        |    CAST((doc_id // 20) % 20 * 7 AS DOUBLE) AS vy,
        |    CAST(doc_id % 5 + 2 AS DOUBLE) AS vw, CAST(doc_id * 3 % 5 + 2 AS DOUBLE) AS vh
        |  FROM documents WHERE doc_id < 400),
        |wat AS (SELECT CAST(doc_id % 13 * 11 AS DOUBLE) AS wx,
        |    CAST((doc_id // 13) % 13 AS DOUBLE) * 11 AS wy,
        |    CAST(doc_id % 7 + 2 AS DOUBLE) AS ww, CAST(doc_id * 7 % 7 + 2 AS DOUBLE) AS wh
        |  FROM documents WHERE doc_id < 169),
        |ab AS (SELECT z.idz, sum(greatest(0.0, least(r.x0+r.w, z.zx+50) - greatest(r.x0, z.zx))
        |    * greatest(0.0, least(r.y0+r.h, z.zy+50) - greatest(r.y0, z.zy))) AS a
        |  FROM z9 z CROSS JOIN rects r GROUP BY 1),
        |av AS (SELECT z.idz, sum(greatest(0.0, least(v.vx+v.vw, z.zx+50) - greatest(v.vx, z.zx))
        |    * greatest(0.0, least(v.vy+v.vh, z.zy+50) - greatest(v.vy, z.zy))) AS a
        |  FROM z9 z CROSS JOIN veg v GROUP BY 1),
        |aw AS (SELECT z.idz, sum(greatest(0.0, least(w.wx+w.ww, z.zx+50) - greatest(w.wx, z.zx))
        |    * greatest(0.0, least(w.wy+w.wh, z.zy+50) - greatest(w.wy, z.zy))) AS a
        |  FROM z9 z CROSS JOIN wat w GROUP BY 1),
        |abv AS (SELECT z.idz,
        |    sum(greatest(0.0, least(r.x0+r.w, v.vx+v.vw, z.zx+50) - greatest(r.x0, v.vx, z.zx))
        |      * greatest(0.0, least(r.y0+r.h, v.vy+v.vh, z.zy+50) - greatest(r.y0, v.vy, z.zy))) AS a
        |  FROM z9 z CROSS JOIN rects r CROSS JOIN veg v GROUP BY 1),
        |abw AS (SELECT z.idz,
        |    sum(greatest(0.0, least(r.x0+r.w, w.wx+w.ww, z.zx+50) - greatest(r.x0, w.wx, z.zx))
        |      * greatest(0.0, least(r.y0+r.h, w.wy+w.wh, z.zy+50) - greatest(r.y0, w.wy, z.zy))) AS a
        |  FROM z9 z CROSS JOIN rects r CROSS JOIN wat w GROUP BY 1),
        |avw AS (SELECT z.idz,
        |    sum(greatest(0.0, least(v.vx+v.vw, w.wx+w.ww, z.zx+50) - greatest(v.vx, w.wx, z.zx))
        |      * greatest(0.0, least(v.vy+v.vh, w.wy+w.wh, z.zy+50) - greatest(v.vy, w.wy, z.zy))) AS a
        |  FROM z9 z CROSS JOIN veg v CROSS JOIN wat w GROUP BY 1),
        |abvw AS (SELECT z.idz,
        |    sum(greatest(0.0, least(r.x0+r.w, v.vx+v.vw, w.wx+w.ww, z.zx+50) - greatest(r.x0, v.vx, w.wx, z.zx))
        |      * greatest(0.0, least(r.y0+r.h, v.vy+v.vh, w.wy+w.wh, z.zy+50) - greatest(r.y0, v.vy, w.wy, z.zy))) AS a
        |  FROM z9 z CROSS JOIN rects r CROSS JOIN veg v CROSS JOIN wat w GROUP BY 1)
        |SELECT z.idz AS id_rsu,
        |  round((av.a - avw.a - abv.a + abvw.a) / 2500.0, 9) AS high_vegetation_fraction,
        |  round(avw.a / 2500.0, 9) AS high_vegetation_water_fraction,
        |  round((abv.a - abvw.a) / 2500.0, 9) AS high_vegetation_building_fraction,
        |  round((aw.a - avw.a) / 2500.0, 9) AS water_fraction,
        |  round((ab.a - abw.a - abv.a + abvw.a) / 2500.0, 9) AS building_fraction,
        |  round(1.0 - ((av.a - avw.a - abv.a + abvw.a) + avw.a + (abv.a - abvw.a)
        |    + (aw.a - avw.a) + (ab.a - abw.a - abv.a + abvw.a)) / 2500.0, 9) AS undefined_fraction
        |FROM z9 z JOIN ab ON z.idz = ab.idz JOIN av ON z.idz = av.idz JOIN aw ON z.idz = aw.idz
        |JOIN abv ON z.idz = abv.idz JOIN abw ON z.idz = abw.idz JOIN avw ON z.idz = avw.idz
        |JOIN abvw ON z.idz = abvw.idz ORDER BY id_rsu""".stripMargin,
    "geo_tsu_polygonize" ->
      """SELECT id_rsu, CAST(area AS DOUBLE) AS area,
        |  CAST(cx AS DOUBLE) AS cx, CAST(cy AS DOUBLE) AS cy
        |FROM (VALUES (1, 400.0, 10.0, 10.0), (2, 400.0, 10.0, 30.0), (3, 400.0, 10.0, 50.0),
        |  (4, 400.0, 30.0, 10.0), (5, 400.0, 30.0, 30.0), (6, 400.0, 30.0, 50.0),
        |  (7, 400.0, 50.0, 10.0), (8, 400.0, 50.0, 30.0), (9, 400.0, 50.0, 50.0))
        |  AS t(id_rsu, area, cx, cy) ORDER BY id_rsu""".stripMargin,
    // Buffered band area: 4000 (rect) + 440*10 (edges) + 4 quarter-fans of
    // radius 10 with quad_segs=2 (two 45-degree triangles each): 4*100*sin(pi/4).
    "rsu_svf_simplified" ->
      s"""WITH $rectsSql, $pairsSql,
        |bandsx AS (SELECT CAST(range AS BIGINT) AS id_rsu,
        |    CAST(range * 20 - 10 AS DOUBLE) AS b0, CAST(range * 20 + 30 AS DOUBLE) AS b1
        |  FROM range(0, 4)),
        |cj AS (SELECT bd.id_rsu, bd.b0, bd.b1, r.y0, r.h, r.w, r.hw, c.contiguity
        |  FROM bandsx bd CROSS JOIN rects r JOIN contig c ON r.id_build = c.id_build),
        |fa AS (SELECT id_rsu, sum(CASE WHEN y0 >= b0 AND y0 + h <= b1
        |    THEN (1.0 - contiguity) * 2 * (w + h) * hw ELSE 0.0 END) AS fa
        |  FROM cj GROUP BY 1),
        |fb AS (SELECT id_rsu, sum(CASE WHEN y0 < b1 AND y0 + h > b0
        |      AND NOT (y0 >= b0 AND y0 + h <= b1)
        |    THEN (2 * (least(y0 + h, b1) - greatest(y0, b0))
        |      + (CASE WHEN y0 >= b0 AND y0 <= b1 THEN w ELSE 0.0 END)
        |      + (CASE WHEN y0 + h >= b0 AND y0 + h <= b1 THEN w ELSE 0.0 END)) * hw
        |    ELSE 0.0 END) AS fb
        |  FROM cj GROUP BY 1),
        |buf AS (SELECT 4000.0 + 440.0 * 10.0 + 4 * 100.0 * sin(pi() / 4) AS barea)
        |SELECT fa.id_rsu,
        |  round(1.0 - (fa.fa + fb.fb) / (fa.fa + fb.fb + buf.barea), 6)
        |    AS ground_sky_view_factor
        |FROM fa JOIN fb ON fa.id_rsu = fb.id_rsu CROSS JOIN buf
        |ORDER BY fa.id_rsu""".stripMargin,
    "rsu_exact_facade_density" ->
      s"""WITH $rectsSql,
        |ini AS (SELECT id_build, CAST(y0 AS BIGINT) // 20 AS id_rsu, x0, y0, w, h, hw
        |  FROM rects WHERE y0 < 80),
        |fa AS (SELECT id_rsu, sum(2 * (w + h) * hw) AS fac FROM ini GROUP BY 1),
        |pr AS (SELECT a.id_rsu,
        |    (CASE WHEN greatest(0.0, least(a.x0 + a.w, b.x0 + b.w) - greatest(a.x0, b.x0)) > 0
        |        AND greatest(0.0, least(a.y0 + a.h, b.y0 + b.h) - greatest(a.y0, b.y0)) = 0
        |      THEN greatest(0.0, least(a.x0 + a.w, b.x0 + b.w) - greatest(a.x0, b.x0))
        |      WHEN greatest(0.0, least(a.y0 + a.h, b.y0 + b.h) - greatest(a.y0, b.y0)) > 0
        |        AND greatest(0.0, least(a.x0 + a.w, b.x0 + b.w) - greatest(a.x0, b.x0)) = 0
        |      THEN greatest(0.0, least(a.y0 + a.h, b.y0 + b.h) - greatest(a.y0, b.y0))
        |      ELSE 0.0 END) * least(a.hw, b.hw) AS sa
        |  FROM ini a JOIN ini b ON a.id_rsu = b.id_rsu AND a.id_build <> b.id_build
        |    AND a.x0 <= b.x0 + b.w AND b.x0 <= a.x0 + a.w
        |    AND a.y0 <= b.y0 + b.h AND b.y0 <= a.y0 + a.h),
        |sh AS (SELECT id_rsu, sum(sa) AS shared FROM pr GROUP BY 1),
        |bands AS (SELECT CAST(range AS BIGINT) AS id_rsu FROM range(0, 4))
        |SELECT b.id_rsu,
        |  round(coalesce((fa.fac - coalesce(sh.shared, 0.0)) / 4000.0, 0.0), 9)
        |    AS free_external_facade_density
        |FROM bands b LEFT JOIN fa ON b.id_rsu = fa.id_rsu
        |LEFT JOIN sh ON b.id_rsu = sh.id_rsu ORDER BY b.id_rsu""".stripMargin,
    "rsu_roof_distribution" ->
      s"""WITH $rectsSql,
        |ini AS (SELECT id_build, CAST(y0 AS BIGINT) // 20 AS id_rsu, x0, y0, w, h,
        |    hw AS zmin, hr AS zmax, hr - hw AS dh, w * h AS area,
        |    power(power(w * h, 2) + 4 * w * h * power(hr - hw, 2), 0.5) AS nonvert,
        |    power(w * h, 0.5) * (hr - hw) AS vert
        |  FROM rects WHERE y0 < 80),
        |pr AS (SELECT b.id_build AS idb, a.area AS area_a, b.area AS area_b, b.dh AS dh_b
        |  FROM ini a JOIN ini b ON a.id_build <> b.id_build
        |    AND a.x0 <= b.x0 + b.w AND b.x0 <= a.x0 + a.w
        |    AND a.y0 <= b.y0 + b.h AND b.y0 <= a.y0 + a.h
        |    AND a.zmin >= b.zmax),
        |rm AS (SELECT idb AS id_build,
        |    sum(CASE WHEN area_b > area_a THEN power(area_a, 0.5)
        |      ELSE power(area_b, 0.5) END * dh_b / 2) AS rm
        |  FROM pr GROUP BY 1),
        |cl AS (SELECT i.id_rsu, i.zmin, i.zmax, i.dh, i.nonvert AS nv,
        |    (i.vert - coalesce(rm.rm, 0.0)) * 1.0 AS vv
        |  FROM ini i LEFT JOIN rm ON i.id_build = rm.id_build),
        |lay AS (SELECT id_rsu,
        |  CASE WHEN zmax <= 0 THEN 0 WHEN zmax <= 5 THEN
        |      (CASE WHEN dh = 0 THEN nv ELSE nv * (zmax - greatest(0, zmin)) / dh END)
        |    WHEN zmin < 5 THEN nv * (5 - greatest(0, zmin)) / dh ELSE 0 END AS nv1,
        |  CASE WHEN zmax <= 5 THEN 0 WHEN zmax <= 10 THEN
        |      (CASE WHEN dh = 0 THEN nv ELSE nv * (zmax - greatest(5, zmin)) / dh END)
        |    WHEN zmin < 10 THEN nv * (10 - greatest(5, zmin)) / dh ELSE 0 END AS nv2,
        |  CASE WHEN zmax <= 10 THEN 0 WHEN dh = 0 THEN nv
        |    ELSE nv * (zmax - greatest(10, zmin)) / dh END AS nv3,
        |  CASE WHEN zmax <= 0 THEN 0 WHEN zmax <= 5 THEN
        |      (CASE WHEN dh = 0 THEN 0 ELSE vv * power((zmax - greatest(0, zmin)) / dh, 2) END)
        |    WHEN zmin < 5 THEN
        |      (CASE WHEN zmin > 0 THEN vv * (1 - power((zmax - 5) / dh, 2))
        |        ELSE vv * (power((zmax - 0) / dh, 2) - power((zmax - 5) / dh, 2)) END)
        |    ELSE 0 END AS v1,
        |  CASE WHEN zmax <= 5 THEN 0 WHEN zmax <= 10 THEN
        |      (CASE WHEN dh = 0 THEN 0 ELSE vv * power((zmax - greatest(5, zmin)) / dh, 2) END)
        |    WHEN zmin < 10 THEN
        |      (CASE WHEN zmin > 5 THEN vv * (1 - power((zmax - 10) / dh, 2))
        |        ELSE vv * (power((zmax - 5) / dh, 2) - power((zmax - 10) / dh, 2)) END)
        |    ELSE 0 END AS v2,
        |  CASE WHEN zmax <= 10 THEN 0 WHEN dh = 0 THEN vv
        |    ELSE vv * (zmax - greatest(10, zmin)) / dh END AS v3
        |  FROM cl),
        |g AS (SELECT id_rsu, sum(nv1) AS s1, sum(nv2) AS s2, sum(nv3) AS s3,
        |    sum(v1) AS t1, sum(v2) AS t2, sum(v3) AS t3 FROM lay GROUP BY 1),
        |bands AS (SELECT CAST(range AS BIGINT) AS id_rsu FROM range(0, 4))
        |SELECT b.id_rsu,
        |  round(coalesce(g.s1, 0.0), 6) AS non_vert_roof_area_h0_5,
        |  round(coalesce(g.s2, 0.0), 6) AS non_vert_roof_area_h5_10,
        |  round(coalesce(g.s3, 0.0), 6) AS non_vert_roof_area_h10,
        |  round(coalesce(g.t1, 0.0), 6) AS vert_roof_area_h0_5,
        |  round(coalesce(g.t2, 0.0), 6) AS vert_roof_area_h5_10,
        |  round(coalesce(g.t3, 0.0), 6) AS vert_roof_area_h10,
        |  round((coalesce(g.s1, 0.0) + coalesce(g.s2, 0.0) + coalesce(g.s3, 0.0)) / 4000.0, 6)
        |    AS vert_roof_density,
        |  round((coalesce(g.t1, 0.0) + coalesce(g.t2, 0.0) + coalesce(g.t3, 0.0)) / 4000.0, 6)
        |    AS non_vert_roof_density
        |FROM bands b LEFT JOIN g ON b.id_rsu = g.id_rsu ORDER BY b.id_rsu""".stripMargin,
    // For an axis-aligned rect, JTS MinimumDiameter(minimumRectangle) puts
    // the y-side length in the [0,15) bucket (ang7_5) and the x-side length
    // in the [90,105) bucket (ang97_5) — verified empirically and pinned by
    // DirectionSpec against the reference goldens.
    "bld_direction" ->
      s"""WITH $rectsSql,
        |g AS (SELECT id_zone, sum(h) AS v0, sum(w) AS v6 FROM rects GROUP BY 1),
        |z AS (SELECT CAST(range AS BIGINT) AS id_zone FROM range(0, 25))
        |SELECT z.id_zone,
        |  CASE WHEN g.v0 IS NULL THEN 'unknown'
        |    WHEN g.v0 >= g.v6 THEN 'ang7_5' ELSE 'ang97_5' END AS main_building_direction,
        |  round(CASE WHEN g.v0 IS NULL THEN -1.0
        |    ELSE (least(g.v0, (g.v0 + g.v6)/12) + least(g.v6, (g.v0 + g.v6)/12)) / (g.v0 + g.v6)
        |    END, 9) AS building_direction_equality,
        |  round(CASE WHEN g.v0 IS NULL THEN -1.0
        |    ELSE abs(greatest(g.v0, g.v6) - least(g.v0, g.v6)) / (g.v0 + g.v6) END, 9)
        |    AS building_direction_uniqueness
        |FROM z LEFT JOIN g ON z.id_zone = g.id_zone ORDER BY z.id_zone""".stripMargin,
    "dedup_embedding_cosine" ->
      """WITH p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
        |      / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
        |       * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS c
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(c, 9) AS cosine FROM p WHERE c >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,
    "set_union_pad" ->
      """SELECT doc_id, n_chars, NULL AS lang FROM documents
        |UNION ALL
        |SELECT doc_id + 1000000 AS doc_id, NULL AS n_chars, lang FROM documents
        |ORDER BY doc_id""".stripMargin,
    // golden classes from the reference's identifyLczTypeTest asserts
    // (TypologyClassificationTests.groovy) — urban 1/5/4, rural 101-107, LCZ8.
    "lcz_classify" ->
      """SELECT * FROM (VALUES (1, 1), (2, 5), (3, 107), (4, 102), (5, 101),
        |  (6, 104), (7, 105), (18, 107), (19, 8), (20, 4))
        |  AS t(id_rsu, lcz_primary) ORDER BY id_rsu""".stripMargin,
    // golden correlation from the reference fixture block_build_corr
    // (data_for_tests.sql:80-81)
    "fixture_block_assign" -> {
      val rows = GeoFixture.blockBuildCorr
        .map { case (blk, b) => s"($b, $blk)" }.sorted.mkString(", ")
      s"""SELECT * FROM (VALUES $rows) AS t(id_build, id_block) ORDER BY id_build"""
    },
    "pages_footprints" ->
      s"""WITH p AS (SELECT i,
        |    round(CASE WHEN i % 100 < 20 THEN 29.0 + ((i*1103515245 + 12345) % 2147483648) % 2000 / 1000.0
        |      ELSE ((i*1103515245 + 12345) % 2147483648) % 55000 / 1000.0 + 0.0005 END, 4) AS x,
        |    round(CASE WHEN i % 100 < 20 THEN 29.0 + ((i*69069 + 1) % 2147483648) % 2000 / 1000.0
        |      ELSE ((i*69069 + 1) % 2147483648) % 55000 / 1000.0 - 15.0 + 0.0005 END, 4) AS y
        |  FROM (SELECT range AS i FROM range(0, 20000)) WHERE i % 10 < 3),
        |${Queries.rsuRectsSql},
        |ov AS (SELECT p.i, r.id_rsu,
        |      greatest(0.0, least(p.x + 2.0, r.xmax) - greatest(p.x, r.xmin))
        |    * greatest(0.0, least(p.y + 2.0, r.ymax) - greatest(p.y, r.ymin)) AS ia
        |  FROM p JOIN rsu r ON p.x + 2.0 > r.xmin AND p.x < r.xmax
        |    AND p.y + 2.0 > r.ymin AND p.y < r.ymax),
        |best AS (SELECT i, id_rsu FROM (
        |    SELECT i, id_rsu, row_number() OVER (PARTITION BY i ORDER BY ia DESC, id_rsu DESC) AS rn
        |    FROM ov WHERE ia > 0) WHERE rn = 1)
        |SELECT CAST(id_rsu AS BIGINT) AS id_rsu, count(*) AS n_pages
        |FROM best GROUP BY 1 ORDER BY 1""".stripMargin,
    "pages_e2e" ->
      s"""WITH p AS (SELECT i,
        |    CASE WHEN i % 100 < 20 THEN 29.0 + ((i*1103515245 + 12345) % 2147483648) % 2000 / 1000.0
        |      ELSE ((i*1103515245 + 12345) % 2147483648) % 55000 / 1000.0 + 0.0005 END AS x,
        |    CASE WHEN i % 100 < 20 THEN 29.0 + ((i*69069 + 1) % 2147483648) % 2000 / 1000.0
        |      ELSE ((i*69069 + 1) % 2147483648) % 55000 / 1000.0 - 15.0 + 0.0005 END AS y,
        |    length('Deterministic page body number ' || i
        |      || ' with some repeated filler words to give the text a realistic shape '
        |      || 'lorem ipsum dolor sit amet ' || (i % 7)) AS tlen
        |  FROM (SELECT range AS i FROM range(0, 20000))),
        |${Queries.rsuRectsSql}
        |SELECT CAST(id_rsu AS BIGINT) AS id_rsu,
        |  CAST(floor(x / 10.0) AS BIGINT) + 1 AS id_col,
        |  CAST(floor(y / 10.0) AS BIGINT) + 1 AS id_row,
        |  count(*) AS cnt, count(*) AS n_text_ok, CAST(sum(tlen) AS BIGINT) AS sum_text_len
        |FROM p JOIN rsu ON x > xmin AND x < xmax AND y > ymin AND y < ymax
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // LSH jaccard over 64-bit shingle hashes == string-shingle set jaccard
    // (collisions aside), and every true pair here sits at j >= 0.8 where
    // 16x3 banding recalls with P(miss) ~ 1e-5 — so the exact all-pairs
    // jaccard is a legitimate full oracle for the LSH output.
    "dedup_minhash_lsh" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |idx AS (SELECT doc_id, w, unnest(range(0, len(w)-2)) AS g FROM toks WHERE len(w) >= 3),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(w[g+1:g+3], ' ') AS tri FROM idx),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.tri = b.tri AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b, round(CAST(inter AS DOUBLE)/(sa.sz + sb.sz - inter), 9) AS jaccard
        |FROM pairs JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |WHERE CAST(inter AS DOUBLE)/(sa.sz + sb.sz - inter) >= 0.4
        |ORDER BY 1, 2""".stripMargin,

    // Bit-exact replication of the md5-word-hash SimHash: 60-bit word hash
    // = first 15 md5 hex chars (Spark conv(substr(md5,1,15),16,10)); votes,
    // chunk candidates (pigeonhole — lossless at hamming<=3), exact verify.
    "dedup_simhash" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |h AS (SELECT doc_id, CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) AS wh FROM w),
        |bits AS (SELECT doc_id, j,
        |    CASE WHEN sum(CASE WHEN (wh >> j) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS bit
        |  FROM h CROSS JOIN (SELECT unnest(range(0, 64)) AS j) t GROUP BY doc_id, j),
        |sh AS (SELECT doc_id, CAST(sum(bit << j) AS BIGINT) AS h FROM bits GROUP BY doc_id),
        |ck AS (SELECT doc_id, h, c, (h >> (CAST(c AS INT)*16)) & 65535 AS key
        |  FROM (SELECT doc_id, h, unnest(range(0,4)) AS c FROM sh)),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.h AS h_a, b.h AS h_b
        |  FROM ck a JOIN ck b ON a.c = b.c AND a.key = b.key AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(bit_count(xor(h_a, h_b)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(h_a, h_b)) <= 3 ORDER BY 1, 2""".stripMargin,

    // Full IVF replication: centroids = first 8 vectors (vec_id is dense
    // from 0, so centroid_id == vec_id), argmax assignment with (sim DESC,
    // centroid_id ASC) ties, 3 probed buckets, exact top-10 rank.
    "ann_ivf_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cents AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 8),
        |s0 AS (SELECT e.vec_id, e.v, c.centroid_id,
        |    list_dot_product(e.v, c.cv)/(sqrt(list_dot_product(e.v,e.v))*sqrt(list_dot_product(c.cv,c.cv))) AS sim
        |  FROM e CROSS JOIN cents c),
        |asgn0 AS (SELECT vec_id, v, centroid_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) rn FROM s0) WHERE rn=1),
        |-- one Lloyd pass: per-(centroid, dim) means, cast to the float
        |-- element type exactly like the engine, empty clusters keep seeds
        |dims AS (SELECT unnest(range(1, 65)) AS pos),
        |m AS (SELECT centroid_id, pos, CAST(avg(v[CAST(pos AS INTEGER)]) AS REAL) AS mv
        |  FROM asgn0 CROSS JOIN dims GROUP BY 1, 2),
        |cents1 AS (SELECT centroid_id, CAST(list(mv ORDER BY pos) AS DOUBLE[]) AS cv
        |  FROM m GROUP BY 1
        |  UNION ALL SELECT c.centroid_id, c.cv FROM cents c
        |  WHERE c.centroid_id NOT IN (SELECT centroid_id FROM m)),
        |s1 AS (SELECT e.vec_id, e.v, c.centroid_id,
        |    list_dot_product(e.v, c.cv)/(sqrt(list_dot_product(e.v,e.v))*sqrt(list_dot_product(c.cv,c.cv))) AS sim
        |  FROM e CROSS JOIN cents1 c),
        |asgn AS (SELECT vec_id, v, centroid_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) rn FROM s1) WHERE rn=1),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN (1,7,42,99,123)),
        |qp AS (SELECT qid, qv, centroid_id FROM (
        |    SELECT q.qid, q.qv, c.centroid_id,
        |      row_number() OVER (PARTITION BY q.qid ORDER BY
        |        list_dot_product(q.qv,c.cv)/(sqrt(list_dot_product(q.qv,q.qv))*sqrt(list_dot_product(c.cv,c.cv))) DESC,
        |        c.centroid_id) rn
        |    FROM q CROSS JOIN cents1 c) WHERE rn <= 3),
        |cand AS (SELECT qp.qid, a.vec_id,
        |    list_dot_product(a.v, qp.qv)/(sqrt(list_dot_product(a.v,a.v))*sqrt(list_dot_product(qp.qv,qp.qv))) AS sim
        |  FROM qp JOIN asgn a ON a.centroid_id = qp.centroid_id AND a.vec_id <> qp.qid)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id FROM (
        |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM cand)
        |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,

    // Stub-decode features are byte-bucket sums / 255 in float32; scaling
    // by 255 and rounding recovers the EXACT integer byte sums (float error
    // << 0.5), so the oracle is pure integer arithmetic on the synth spec.
    "multimodal_feats" ->
      """WITH m AS (SELECT range AS i FROM range(0, 500)),
        |v AS (SELECT i, j, (i*31 + j*7) % 256 AS byte
        |  FROM (SELECT i, unnest(range(0, 64 + i % 64)) AS j FROM m)),
        |agg AS (SELECT i, CAST(sum(byte) AS BIGINT) AS feat_sum_scaled,
        |    CAST(sum(CASE WHEN j % 8 = 0 THEN byte ELSE 0 END) AS BIGINT) AS feat0_scaled
        |  FROM v GROUP BY 1)
        |SELECT i AS media_id,
        |  CASE WHEN i%3=0 THEN 'image' WHEN i%3=1 THEN 'audio' ELSE 'video' END AS kind,
        |  feat_sum_scaled, feat0_scaled FROM agg ORDER BY media_id""".stripMargin,

    // Same 31-bit-field polynomial fold as TextAnalysis.fingerprint with
    // the md5 word hash; list_reduce seeds with a prepended 0.
    "text_fingerprint" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |SELECT doc_id, list_reduce(
        |    list_prepend(CAST(0 AS BIGINT), list_transform(ws,
        |      w -> CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % 2147483647)),
        |    (a, b) -> (a * 1000003 + b) % 2147483647) AS fingerprint
        |FROM t ORDER BY doc_id""".stripMargin)
}
