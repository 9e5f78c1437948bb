package graft.fixtures

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.locationtech.jts.geom.util.AffineTransformation
import graft.geom.Geo

/**
 * The reference's indicator test fixture, ported verbatim (geometry WKT +
 * attribute values byte-for-byte) from
 * geoindicators/src/test/resources/org/orbisgis/geoclimate/geoindicators/data_for_tests.sql
 * (:36-70 building_test, :72-79 block_test, :80-81 block_build_corr,
 *  :82-100 rsu_test, :101-106 rsu_build_corr, :107-113 road_test,
 *  :114-119 veget_test, :120-121 hydro_test). `st_translate` calls in the SQL
 * are applied here with a JTS AffineTransformation.
 *
 * This is DATA (test inputs + golden values), not code — the engine itself is
 * built from scratch (see builder contract).
 */
object GeoFixture {
  private def tr(wkt: String, dx: Double, dy: Double): String =
    Geo.toWkt(AffineTransformation.translationInstance(dx, dy).transform(Geo.fromWkt(wkt)))

  private val B = "POLYGON((1020 1000, 1040 1000, 1040 1100, 1020 1100, 1020 1000))"
  private val R = "POLYGON((1000 1000, 1100 1000, 1100 1100, 1000 1100, 1000 1000))"
  private val R13 = "POLYGON((1200 1200, 1300 1200, 1300 1300, 1200 1300, 1200 1200))"

  /** (id_build, id_block, id_rsu, zindex, wkt, height_wall, height_roof,
    *  nb_lev, type) — area/perimeter/facade/neighbor/contiguity columns are
    * goldens asserted in tests, not inputs. Integer -1 encodes SQL NULL for
    * id_block/id_rsu/nb_lev (converted to null in df()). */
  val buildings: Seq[(Int, Int, Int, Int, String, Double, Double, Int, String)] = Seq(
    (1, 1, 1, 0, "POLYGON((4 4, 10 4, 10 30, 4 30, 4 4))", 8, 8, 2, "industrial"),
    (2, 2, 1, 0, "POLYGON((12 4, 20 4, 20 9, 12 9, 12 4))", 10, 13, 3, "detached"),
    (3, 3, 1, 0, "POLYGON((25 4, 45 4, 45 9, 25 9, 25 4))", 8, 14, 4, "residential"),
    (4, 4, 1, 0, "POLYGON((25 25, 40 25, 40 37, 25 37, 25 25))", 5, 8, 2, "residential"),
    (5, 4, 1, 0, "POLYGON((12 25, 25 25, 25 35, 12 35, 12 25))", 12, 12, 4, "residential"),
    (6, 5, 2, 0, "POLYGON((52 2, 54 2, 54 10, 52 10, 52 2))", 15, 18, 5, "residential"),
    (7, 6, 3, 0, "POLYGON((0 -5, 10 -5, 10 0, 0 0, 0 -5), (1 -4, 2 -4, 2 -1, 1 -1, 1 -4))", 3, 3, 1, "residential"),
    (8, 4, 1, 0, "POLYGON((30 25, 40 15, 45 20, 40 25, 30 25))", 4, 4, 1, "residential"),
    (9, -1, 4, 0, B, 20, 20, -1, "residential"),
    (10, -1, 4, 0, tr(B, 40, 0), 20, 20, -1, "residential"),
    (11, -1, 5, 0, tr(B, 100, 0), 20, 20, -1, "residential"),
    (12, -1, 5, 0, tr(B, 140, 0), 20, 20, -1, "residential"),
    (13, -1, 6, 0, tr(B, 200, 0), 20, 20, -1, "residential"),
    (14, -1, 6, 0, tr(B, 240, 0), 20, 20, -1, "residential"),
    (15, -1, 7, 0, tr(B, 0, 100), 20, 20, -1, "residential"),
    (16, -1, 7, 0, tr(B, 40, 100), 20, 20, -1, "residential"),
    (17, -1, 8, 0, tr(B, 100, 100), 20, 20, -1, "residential"),
    (18, -1, 8, 0, tr(B, 140, 100), 20, 20, -1, "residential"),
    (19, -1, 9, 0, tr(B, 200, 100), 20, 20, -1, "residential"),
    (20, -1, 9, 0, tr(B, 240, 100), 20, 20, -1, "residential"),
    (21, -1, 10, 0, tr(B, 0, 200), 20, 20, -1, "residential"),
    (22, -1, 10, 0, tr(B, 40, 200), 20, 20, -1, "residential"),
    (23, -1, 11, 0, tr(B, 100, 200), 20, 20, -1, "residential"),
    (24, -1, 11, 0, tr(B, 140, 200), 20, 20, -1, "residential"),
    (25, -1, 12, 0, tr(B, 200, 200), 20, 20, -1, "residential"),
    (26, -1, 12, 0, tr(B, 240, 200), 20, 20, -1, "residential"),
    (27, -1, 13, 0, tr("POLYGON((1210 1190, 1230 1210, 1230 1230, 1210 1230, 1210 1190))", 200, 200), 5, 15, 4, "residential"),
    (28, -1, 13, 0, tr("POLYGON((1310 1190, 1330 1210, 1330 1230, 1280 1230, 1310 1190))", 200, 200), 18, 32, 10, "residential"),
    (29, 7, 3, 0, "POLYGON((20 -2, 21 -2, 21 1, 20 1, 20 -2))", 3, 5, 1, "residential"),
    (30, -1, -1, 0, "POLYGON((4 36, 6 36, 6 40, 4 40, 4 39, 5 39, 5 38, 4 38, 4 36))", 3, 5, -1, "residential"),
    (31, 8, -1, 0, "POLYGON((5 -145, 20 -145, 20 -105, 5 -105, 5 -145),(10 -130, 15 -130, 15 -110, 10 -110, 10 -130))", 10, 10, -1, "residential"),
    (32, 8, -1, 0, "POLYGON((20 -110, 45 -110, 45 -105, 20 -105, 20 -110))", 15, 17, -1, "residential"),
    (33, 8, -1, 0, "POLYGON((35 -145, 45 -145, 45 -110, 35 -110, 35 -145))", 12, 12, -1, "residential"),
    (34, 8, -1, 0, "POLYGON((20 -145, 35 -145, 35 -140, 15 -130, 20 -145))", 12, 15, -1, "residential"),
    (35, -1, -1, 0, "POLYGON((-31 10, -29 10, -29 20, -31 20, -31 10))", 20, 20, -1, "residential"),
    (36, -1, -1, 0, tr(R13, 300, 300), 20, 20, -1, "residential"),
    (37, -1, 18, 0, "POLYGON((10000 10000, 10100 10000, 10100 10100, 10000 10100, 10000 10000))", 20, 20, -1, "residential"))

  val blocks: Seq[(Int, String)] = Seq(
    (1, "POLYGON((4 4, 10 4, 10 30, 4 30, 4 4))"),
    (2, "POLYGON((12 4, 20 4, 20 9, 12 9, 12 4))"),
    (3, "POLYGON((25 4, 45 4, 45 9, 25 9, 25 4))"),
    (4, "POLYGON((25 25, 30 25, 40 15, 45 20, 40 25, 40 37, 25 37, 25 35, 12 35, 12 25, 25 25))"),
    (5, "POLYGON((52 2, 54 2, 54 10, 52 10, 52 2))"),
    (6, "POLYGON((0 -5, 10 -5, 10 0, 0 0, 0 -5), (1 -4, 2 -4, 2 -1, 1 -1, 1 -4))"),
    (7, "POLYGON((20 -2, 21 -2, 21 1, 20 1, 20 -2))"),
    (8, "POLYGON((5 -145, 45 -145, 45 -105, 5 -105, 5 -145), (10 -130, 15 -130, 15 -110, 10 -110, 10 -130), (20 -140, 35 -140, 35 -110, 20 -110, 20 -140))"))

  val blockBuildCorr: Seq[(Int, Int)] = Seq(
    (1, 1), (2, 2), (3, 3), (4, 4), (4, 5), (5, 6), (6, 7), (4, 8), (7, 29),
    (8, 31), (8, 32), (8, 33), (8, 34))

  /** (id_rsu, wkt, rsu_area, rsu_building_density, rsu_free_external_facade_density);
    * NaN encodes SQL NULL. */
  val rsus: Seq[(Int, String, Double, Double, Double)] = Seq(
    (1, "POLYGON((0 0, 50 0, 50 40, 0 40, 0 0))", 2000, 0.303, 0.937),
    (2, "POLYGON((50 0, 55 0, 55 30, 50 30, 50 0))", 150, 16.0 / 150, 2),
    (3, "POLYGON((0 0, 0 -15, 25 -15, 25 0, 0 0))", 375, 47.0 / 375, 0.304),
    (4, R, 10000, 0.4, Double.NaN),
    (5, tr(R, 100, 0), 10000, 0.4, Double.NaN),
    (6, tr(R, 200, 0), 10000, 0.4, Double.NaN),
    (7, tr(R, 0, 100), 10000, 0.4, Double.NaN),
    (8, tr(R, 100, 100), 10000, 0.4, Double.NaN),
    (9, tr(R, 200, 100), 10000, 0.4, Double.NaN),
    (10, tr(R, 0, 200), 10000, 0.4, Double.NaN),
    (11, tr(R, 100, 200), 10000, 0.4, Double.NaN),
    (12, tr(R, 200, 200), 10000, 0.4, Double.NaN),
    (13, tr(R13, 200, 200), 10000, 0.4, Double.NaN),
    (14, "POLYGON((0 100, 50 100, 50 150, 0 150, 0 100))", 2500, 0, 0),
    (15, "POLYGON((0 99, 50 99, 50 100, 0 100, 0 99))", 50, 0, 0),
    (16, "POLYGON((0 -150, 50 -150, 50 -100, 0 -100, 0 -150))", 2500, 0, 0),
    (17, tr(R13, 300, 300), 10000, 1.0, Double.NaN),
    (18, "POLYGON((10000 10000, 10100 10000, 10100 10100, 10000 10100, 10000 10000))", Double.NaN, Double.NaN, Double.NaN))

  /** (id_rsu, id_build, rsu_mean_building_height); NaN = NULL. */
  val rsuBuildCorr: Seq[(Int, Int, Double)] = Seq(
    (1, 1, 10.178217821), (1, 2, 10.178217821), (1, 3, 10.178217821), (1, 4, 10.178217821),
    (1, 5, 10.178217821), (2, 6, 18), (3, 7, 3), (1, 8, 10.178217821),
    (4, 9, Double.NaN), (4, 10, Double.NaN), (5, 11, Double.NaN), (5, 12, Double.NaN),
    (6, 13, Double.NaN), (6, 14, Double.NaN), (7, 15, Double.NaN), (7, 16, Double.NaN),
    (8, 17, Double.NaN), (8, 18, Double.NaN), (9, 19, Double.NaN), (9, 20, Double.NaN),
    (10, 21, Double.NaN), (10, 22, Double.NaN), (11, 23, Double.NaN), (11, 24, Double.NaN),
    (12, 25, Double.NaN), (12, 26, Double.NaN), (13, 27, Double.NaN), (13, 28, Double.NaN),
    (3, 29, Double.NaN), (18, 37, Double.NaN))

  val roads: Seq[(Int, String, Double, Int, String, String)] = Seq(
    (1, "LINESTRING(120 60, 120 -10)", 10, 0, null, "highway"),
    (2, "LINESTRING (86 19, 170 20)", 5, 0, null, "highway"),
    (3, "LINESTRING (93 53, 149 54, 145 -5)", 5, 0, null, "highway"),
    (4, "LINESTRING (85 60, 85 -1, 155 1, 148 54, 92 50, 96 -12, 119 -11, 117 -4, 78 -5)", 10, 0, null, "highway"),
    (5, "LINESTRING (20 100, 25 100, 25 120, 20 120)", 6, 0, null, "highway"),
    (6, "LINESTRING (50 105, 47 99)", 6, -1, null, "highway"))

  val vegets: Seq[(Int, String, String, Int)] = Seq(
    (1, "POLYGON((35 98, 36 98, 36 104, 35 104, 35 98))", "low", 0),
    (2, "POLYGON((20 140, 25 140, 25 145, 20 145, 20 140))", "high", 0),
    (3, "POLYGON((45 130, 55 130, 55 135, 45 135, 45 130))", "high", 0),
    (4, "POLYGON((1000 1050, 1100 1050, 1100 1100, 1000 1100, 1000 1050))", "high", 0),
    (5, "POLYGON((1000 1000, 1050 1000, 1050 1100, 1000 1100, 1000 1000))", "low", 0))

  val hydros: Seq[(Int, String, Int, Boolean)] = Seq(
    (1, "POLYGON((-2 95, 2 95, 2 105, -2 105, -2 95))", 0, true),
    (2, "POLYGON((1050 1000, 1100 1000, 1100 1050, 1050 1050, 1050 1000))", 0, false))

  /** rsu_test_all_indics_for_lcz (data_for_tests.sql:122-139), 20 rows;
    * NaN encodes SQL NULL. Column order as in the INSERT. */
  val rsuAllIndicsLcz: Seq[(Int, Double, Double, Double, Double, Double, Double, Double,
      Double, Double, Double, Double, Double, Double, Double, Double, Double, Double)] = Seq(
    (1, 0.3, 4, 0.5, 0.5, 0.05, 30, 3, 0, 0, 0, 0.5, 0, 0.3, 0.7, 11.2, 0.3, 0.0),
    (2, 0.9, 0.4, 0.4, 0.45, 0.1, 5.5, 0.250, 0, 0, 0, 0.45, 0, 0.1, 0.6, Double.NaN, 0.6, 0.3),
    (3, 0.9, 0.08, 0.09, 0.1, 0.9, 30, 3, 0.2, 0.2, 0.5, 0.1, 0, 0, 1.0, 5.1, 0.9, 0.0),
    (4, 1.0, 0.0, 0.0, 0.1, 0.9, 5.5, 0.250, 0.2, 0.6, 0.2, 0.1, 0, 0, 1.0, 6.4, 1.0, 0.0),
    (5, 0.95, 0.08, 0.09, 0.1, 0.9, 30, 3, 0.9, 0.0, 0.0, 0.1, 0, 0, 1.0, 1.8, 0.95, 0.0),
    (6, 1.0, 0.0, 0.0, 0.0, 1.0, 5.5, 0.250, 0.03, 0.6, 0.2, 0.0, 0, 0, 1.0, 2.8, 1.0, 0.0),
    (7, 1.0, 0.0, 0.0, 0.45, 0.3, 5.5, 0.250, 0.05, 0.05, 0.2, 0.45, 0, 0, 1.0, 1.9, 1.0, 0.0),
    (8, 1.0, 0.0, 0.0, 0.0, 0.0, 5.5, 0.250, 0.0, 0.0, 0.0, 0.0, 0, 0, 1.0, 2.3, 1.0, 0.0),
    (9, 1.0, 0.0, 0.0, 0.22, 0.38, 0, 0.19, 0.0, 0.0, 0.19, 0.15, 0, 0, 1.0, 5.6, 1.0, 0.0),
    (10, 1.0, 0.0, 0.0, 0.0, 0.77, 0, 0.250, 0.76, 0.01, 0.0, 0.0, 0, 0, 1.0, 9.8, 1.0, 0.0),
    (11, 1.0, 0.0, 0.0, 0.0, 0.12, 0, 0.250, 0.12, 0.08, 0.0, 0.0, 0, 0, 1.0, 1.8, 1.0, 0.0),
    (12, 1.0, 0.0, 0.15, 0.0, 0.12, 0, 0.250, 0.12, 0.08, 0.0, 0.0, 0.35, 0, 1.0, Double.NaN, 1.0, 0.0),
    (13, 0.687, 1.111, 0.288, 0.058, 0.103, 5.66, 0.849, 0.116, 0.0, 0.0, 0.0, Double.NaN, 0, 1.0, 2.1, 0.687, 0.0),
    (14, 0.83, 0.36, 0.21, 0, 0, 6.44, 0.58, 0, 0, 0, 0, Double.NaN, 0, 1.0, 3.3, 0.83, 0.0),
    (15, 0.701, 1.38, 0.156, 0, 0, 21.95, 3, 0, 0, 0, 0, Double.NaN, 0, 1.0, 4.6, 0.701, 0.0),
    (16, 0.820, 0.56, 0.22, 0, 0, 5.28, 0.726, 0, 0, 0, 0, Double.NaN, 0, 1.0, 7.6, 0.820, 0.0),
    (17, 0.0, 0.0, 0.0, 0.10, 0.42, 0.0, 0.0, 0.42, 0, 0, 0, Double.NaN, 0, 1.0, 0.8, 0.0, 0.0),
    (18, 1, 0, 0, 0, 0.999, 0.0, 0.0, 0.999, 0, 0.999, 0, 0, 0, 1.0, 2.3, 1, 0.0),
    (19, 0.8, 0.2, 0.4, 0.45, 0.16, 5, 0.25, 0.19, 0, 0.19, 0, 0.4, 0.41, 0.19, 2.8, 0.8, 0.0),
    (20, 0.3, 4, 0.5, 0.5, 0.05, 30, 3, 0, 0, 0, 0.5, 0, 0.3, 0.7, 8.8, 0.3, 0.0))

  // ---- DataFrame builders (geom as WKB BinaryType, like the engine) -------
  import org.apache.spark.sql.functions._

  private def geomify(df: DataFrame): DataFrame =
    df.withColumn("the_geom", graft.geom.GeoFunctions.stGeomFromWkt(col("wkt"))).drop("wkt")

  def buildingDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val df = buildings.toDF("id_build", "id_block", "id_rsu", "zindex", "wkt",
      "height_wall", "height_roof", "nb_lev", "type")
    geomify(df)
      .withColumn("id_block", when(col("id_block") === -1, lit(null)).otherwise(col("id_block")))
      .withColumn("id_rsu", when(col("id_rsu") === -1, lit(null)).otherwise(col("id_rsu")))
      .withColumn("nb_lev", when(col("nb_lev") === -1, lit(null)).otherwise(col("nb_lev")))
  }
  def blockDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    geomify(blocks.toDF("id_block", "wkt"))
  }
  def rsuDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    geomify(rsus.toDF("id_rsu", "wkt", "rsu_area", "rsu_building_density",
      "rsu_free_external_facade_density"))
      .withColumn("rsu_area", when(isnan(col("rsu_area")), lit(null)).otherwise(col("rsu_area")))
      .withColumn("rsu_building_density", when(isnan(col("rsu_building_density")), lit(null)).otherwise(col("rsu_building_density")))
      .withColumn("rsu_free_external_facade_density", when(isnan(col("rsu_free_external_facade_density")), lit(null)).otherwise(col("rsu_free_external_facade_density")))
  }
  def rsuBuildCorrDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    rsuBuildCorr.toDF("id_rsu", "id_build", "rsu_mean_building_height")
      .withColumn("rsu_mean_building_height",
        when(isnan(col("rsu_mean_building_height")), lit(null)).otherwise(col("rsu_mean_building_height")))
  }
  def roadDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    geomify(roads.toDF("id_road", "wkt", "width", "zindex", "crossing", "type"))
  }
  def vegetDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    geomify(vegets.toDF("id_veget", "wkt", "height_class", "zindex"))
  }
  def hydroDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    geomify(hydros.toDF("id_water", "wkt", "zindex", "intermittent"))
  }

  private val lczAllCols = Seq("id_rsu", "sky_view_factor", "aspect_ratio",
    "building_fraction_lcz", "impervious_fraction_lcz", "pervious_fraction_lcz",
    "geom_avg_height_roof", "effective_terrain_roughness_length",
    "high_vegetation_fraction_lcz", "low_vegetation_fraction_lcz",
    "water_fraction_lcz", "impervious_fraction",
    "area_fraction_heavy_industry_lcz", "area_fraction_commercial_lcz",
    "area_fraction_residential_lcz", "avg_nb_lev_area_weighted",
    "ground_sky_view_factor", "area_fraction_light_industry_lcz")

  def rsuAllIndicsLczDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val df = rsuAllIndicsLcz.toDF(lczAllCols: _*)
    lczAllCols.drop(1).foldLeft(df) { (d, c) =>
      d.withColumn(c, when(isnan(col(c)), lit(null)).otherwise(col(c)))
    }
  }

  /** rsu_test_lcz_indics (data_for_tests.sql:140-145): the 7 LCZ distance
    * indicators renamed from the all-indics table. */
  def lczIndicsDf(spark: SparkSession): DataFrame =
    rsuAllIndicsLczDf(spark).select(
      col("id_rsu"), col("sky_view_factor"), col("aspect_ratio"),
      col("building_fraction_lcz").as("building_surface_fraction"),
      col("impervious_fraction_lcz").as("impervious_surface_fraction"),
      col("pervious_fraction_lcz").as("pervious_surface_fraction"),
      col("geom_avg_height_roof").as("height_of_roughness_elements"),
      col("effective_terrain_roughness_length").as("terrain_roughness_length"))
}
