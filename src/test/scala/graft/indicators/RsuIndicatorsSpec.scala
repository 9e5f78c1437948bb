package graft.indicators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.fixtures.GeoFixture
import graft.index.CellGrid

/** Goldens from RsuIndicatorsTests.groovy. */
class RsuIndicatorsSpec extends SparkTestBase {
  val grid = CellGrid.fixture
  val Res = 10

  private def facadeDistribution(building: DataFrame): DataFrame = {
    val b = building.select("id_build", "the_geom", "height_wall")
    val rsu = GeoFixture.rsuDf(spark)
    RsuIndicators.projectedFacadeAreaDistribution(b, RsuIndicators.buildingNeighbours(b, grid, Res),
      RsuIndicators.unitPairs(b, rsu, "id_rsu", grid, Res), rsu, Seq(0, 10, 20, 30, 40, 50),
      numDirection = 4)
  }
  private def roofFractions(rsu: DataFrame, building: DataFrame): DataFrame =
    RsuIndicators.roofFractionDistributionExact(rsu,
      RsuIndicators.unitPairs(building.select("the_geom", "height_roof"), rsu, "id_rsu", grid, Res)
        .withColumn("area", graft.geom.GeoFunctions.stIntersectionArea(col("unit_geom"), col("the_geom"))),
      Seq((0.0, 10.0), (10.0, 20.0)))

  test("projected facade area distribution: reference goldens (rsu1, buildings 1-5, nDir=4)") {
    import spark.implicits._
    val out = facadeDistribution(GeoFixture.buildingDf(spark).where($"id_build" < 6))
    val r1 = out.where($"id_rsu" === 1).head()
    def v(n: String) = math.round(r1.getAs[Double](n) * 100) / 100.0
    // RsuIndicatorsTests.groovy projectedFacadeAreaDistributionTest golden
    assert(v("projected_facade_area_distribution_h0_10_d0_90") == 637.10)
    assert(v("projected_facade_area_distribution_h0_10_d90_180") == 637.10)
    assert(v("projected_facade_area_distribution_h10_20_d0_90") == 32.53)
    assert(v("projected_facade_area_distribution_h10_20_d90_180") == 32.53)
    for (l <- Seq("h20_30", "h30_40", "h40_50", "h50"); d <- Seq("d0_90", "d90_180"))
      assert(v(s"projected_facade_area_distribution_${l}_$d") == 0.0)
  }

  test("projected facade area distribution: empty building set -> all zeros") {
    import spark.implicits._
    val out = facadeDistribution(GeoFixture.buildingDf(spark).where($"id_build" < 1))
    val r1 = out.where($"id_rsu" === 1).head()
    (1 until r1.length).foreach(i => assert(r1.getDouble(i) == 0.0))
  }

  test("freeExternalFacadeDensity golden (rsu1 = 0.947 on buildings 1-7)") {
    val b = GeoFixture.buildingDf(spark).where(col("id_build") < 8)
    val nb = BuildingIndicators.neighborsProperties(b, grid, Res)
    val size = BuildingIndicators.sizeProperties(b)
    val enriched = b.select("id_build", "id_rsu", "height_wall")
      .join(nb.select("id_build", "contiguity"), "id_build")
      .join(size.select("id_build", "total_facade_length"), "id_build")
    val out = GenericIndicators.perUnit(enriched, GeoFixture.rsuDf(spark).select("id_rsu", "the_geom"),
        "id_rsu")(RsuIndicators.freeExternalFacadeDensity)
      .collect().map(r => r.getAs[Int]("id_rsu") -> r.getAs[Double]("free_external_facade_density")).toMap
    assert(math.abs(out(1) - 0.947) < 5e-4)
    assert(out(14) == 0.0) // empty RSU default
  }

  test("aspectRatio goldens (rsu1 = 0.672, rsu17 null when density=1)") {
    val out = RsuIndicators.aspectRatio(GeoFixture.rsuDf(spark),
      "rsu_free_external_facade_density", "rsu_building_density")
      .collect().map(r => r.getAs[Int]("id_rsu") -> r.get(1)).toMap
    assert(math.abs(out(1).asInstanceOf[Double] - 0.672) < 1e-3)
    assert(out(17) == null)
  }

  test("streetWidth golden (rsu1 = 7.5)") {
    val out = RsuIndicators.streetWidth(GeoFixture.rsuAllIndicsLczDf(spark),
      "geom_avg_height_roof", "aspect_ratio")
      .collect().map(r => r.getAs[Int]("id_rsu") -> r.getAs[Double]("street_width")).toMap
    assert(math.abs(out(1) - 7.5) < 1e-3)
  }

  test("effectiveTerrainRoughnessClass goldens (2.3->8, 0.1->4, null->null)") {
    import spark.implicits._
    val rsu = Seq((1, 2.3), (2, 0.1), (3, Double.NaN)).toDF("id_rsu", "l")
      .withColumn("l", when(isnan(col("l")), lit(null)).otherwise(col("l")))
    val out = RsuIndicators.effectiveTerrainRoughnessClass(rsu, "l")
      .collect().map(r => r.getAs[Int]("id_rsu") -> r.get(1)).toMap
    assert(out(1) == 8 && out(2) == 4 && out(3) == null)
  }

  test("linearRoadOperations goldens (rsu14: d0_30=25.59, d90_120=10, density=0.0142)") {
    val out = RsuIndicators.linearRoadOperations(GeoFixture.rsuDf(spark),
      GeoFixture.roadDf(spark), 30, grid, Res)
      .collect().map(r => r.getAs[Int]("id_rsu") -> r).toMap
    val r14 = out(14)
    assert(math.abs(r14.getAs[Double]("road_direction_distribution_d0_30") - 25.59) < 5e-3)
    assert(math.abs(r14.getAs[Double]("road_direction_distribution_d90_120") - 10.0) < 1e-9)
    assert(math.abs(r14.getAs[Double]("linear_road_density") - 0.0142) < 5e-5)
  }

  test("roofFractionDistributionExact: building areas attributed to height layers") {
    val rsu = GeoFixture.rsuDf(spark).where(col("id_rsu") === 1)
    val b = GeoFixture.buildingDf(spark).where(col("id_build") <= 8)
    val out = roofFractions(rsu, b).head()
    // rsu1 buildings (clipped = full): areas 156,40,100,180,130,75 w/ roofs 8,13,14,8,12,4
    // layer 0-10: 156+180+75=411; layer 10-20: 40+100+130=270; total 681
    assert(math.abs(out.getAs[Double]("roof_fraction_distribution_h0_10") - 411.0 / 681) < 1e-9)
    assert(math.abs(out.getAs[Double]("roof_fraction_distribution_h10_20") - 270.0 / 681) < 1e-9)
  }

  test("roofFractionDistributionExact: an RSU met only along its edge gets 0.0, no DIVIDE_BY_ZERO") {
    import spark.implicits._
    val geom = graft.geom.GeoFunctions.stGeomFromWkt(col("wkt"))
    val rsu = Seq((1, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")).toDF("id_rsu", "wkt")
      .select(col("id_rsu"), geom.as("the_geom"))
    val b = Seq(("POLYGON ((10 0, 20 0, 20 10, 10 10, 10 0))", 8.0)).toDF("wkt", "height_roof")
      .select(geom.as("the_geom"), col("height_roof"))
    val out = roofFractions(rsu, b).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Double]("roof_fraction_distribution_h0_10") == 0.0)
    assert(out.head.getAs[Double]("roof_fraction_distribution_h10_20") == 0.0)
  }
}
