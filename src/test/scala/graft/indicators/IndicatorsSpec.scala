package graft.indicators

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.fixtures.GeoFixture
import graft.index.CellGrid

/** Golden values copied from the reference's own unit tests
  * (BuildingIndicatorsTests.groovy, BlockIndicatorsTests.groovy). */
class IndicatorsSpec extends SparkTestBase {
  val grid = CellGrid.fixture
  val Res = 10

  lazy val buildings = GeoFixture.buildingDf(spark)

  test("sizeProperties goldens (building 7: 141/47/38/0)") {
    val r = BuildingIndicators.sizeProperties(buildings.where(col("id_build") === 7)).head()
    assert(r.getAs[Double]("volume") == 141.0)
    assert(r.getAs[Double]("floor_area") == 47.0)
    assert(r.getAs[Double]("total_facade_length") == 38.0)
    assert(r.getAs[Double]("passive_volume_ratio") == 0.0)
  }

  test("formProperties goldens (buildings 1,2,7,30)") {
    val out = BuildingIndicators.formProperties(
      buildings.where(col("id_build") < 8 || col("id_build") === 30))
      .collect().map(r => r.getAs[Int]("id_build") -> r).toMap
    // BuildingIndicatorsTests.groovy:115-119
    assert(out(1).getAs[Double]("area_concavity") == 1.0)
    assert(math.abs(out(7).getAs[Double]("area_concavity") - 0.94) < 1e-9)
    assert(math.abs(out(1).getAs[Double]("form_factor") - 0.0380859375) < 1e-9)
    assert(math.abs(out(7).getAs[Double]("form_factor") - 0.0522222222222222) < 1e-9)
    assert(math.abs(out(2).getAs[Double]("raw_compactness") - 5.607) < 5e-4)
    assert(out(1).getAs[Double]("perimeter_convexity") == 1.0)
    assert(math.abs(out(7).getAs[Double]("perimeter_convexity") - 0.78947) < 5e-6)
    assert(math.abs(out(30).getAs[Double]("perimeter_convexity") - 0.85714) < 5e-6)
  }

  test("neighborsProperties goldens (buildings 1,5 of first six)") {
    val out = BuildingIndicators.neighborsProperties(
      buildings.where(col("id_build") < 7), grid, Res)
      .collect().map(r => r.getAs[Int]("id_build") -> r).toMap
    // BuildingIndicatorsTests.groovy:85-89: b1 contiguity 0, b5 50/552;
    // common_wall_fraction b1 0, b5 10/46; neighbors 0 and 1
    assert(out(1).getAs[Double]("contiguity") == 0.0)
    assert(math.abs(out(5).getAs[Double]("contiguity") - 50.0 / 552) < 5e-6)
    assert(out(1).getAs[Double]("common_wall_fraction") == 0.0)
    assert(math.abs(out(5).getAs[Double]("common_wall_fraction") - 10.0 / 46) < 5e-6)
    assert(out(1).getAs[Long]("number_building_neighbor") == 0L)
    assert(out(5).getAs[Long]("number_building_neighbor") == 1L)
  }

  test("minimumBuildingSpacing goldens (b2->2, b4->0, b6->7)") {
    val out = BuildingIndicators.minimumBuildingSpacing(
      buildings.where(col("id_build") < 7), 100.0, grid, Res)
      .collect().map(r => r.getAs[Int]("id_build") -> r.getAs[Double]("minimum_building_spacing")).toMap
    assert(out(2) == 2.0 && out(4) == 0.0 && out(6) == 7.0)
  }

  test("roadDistance goldens (b6->23.9556, b33->100)") {
    val roads = GeoFixture.roadDf(spark).where(col("id_road") < 5)
    val out = BuildingIndicators.roadDistance(buildings, roads, 100.0, grid, Res)
      .collect().map(r => r.getAs[Int]("id_build") -> r.getAs[Double]("road_distance")).toMap
    assert(math.abs(out(6) - 23.9556) < 5e-5)
    assert(out(33) == 100.0)
  }

  test("likelihoodLargeBuilding goldens (b4->0.00, b7->0.02, b28->1.00)") {
    val withNb = BuildingIndicators.neighborsProperties(
        buildings.where(col("id_build") < 29), grid, Res)
      .join(buildings.select("id_build", "the_geom"), "id_build")
    val out = BuildingIndicators.likelihoodLargeBuilding(withNb)
      .collect().map(r => r.getAs[Int]("id_build") -> r.getAs[Double]("likelihood_large_building")).toMap
    assert(math.abs(out(4) - 0.0) < 5e-3)
    assert(math.abs(out(7) - 0.02) < 5e-3)
    assert(math.abs(out(28) - 1.0) < 5e-3)
  }

  test("block holeAreaDensity golden (block 6 = 3/47)") {
    val out = GenericIndicators.perUnit(buildings,
      GeoFixture.blockDf(spark).where(col("id_block") === 6).select("id_block", "the_geom"),
      "id_block")(BlockIndicators.holeAreaDensity)
      .agg(sum("hole_area_density")).head().getDouble(0)
    assert(math.abs(out - 3.0 / 47) < 1e-5)
  }

  test("block netCompactness golden (block 4 -> 0.51195)") {
    // reference test context: buildings id<8 only (BlockIndicatorsTests.groovy:65-89)
    val subset = buildings.where(col("id_build") < 8)
    val size = BuildingIndicators.sizeProperties(subset)
    val nb = BuildingIndicators.neighborsProperties(subset, grid, Res)
    val enriched = subset.select("id_build", "id_block", "the_geom", "height_wall")
      .join(size.select("id_build", "volume"), "id_build")
      .join(nb.select("id_build", "contiguity"), "id_build")
      .where(col("id_block").isNotNull)
    val out = GenericIndicators.perUnit(enriched, enriched.select("id_block").distinct(),
        "id_block")(BlockIndicators.netCompactness)
      .collect().map(r => r.getAs[Int]("id_block") -> r.getAs[Double]("net_compactness")).toMap
    assert(math.abs(out(4) - 0.51195) < 1e-5)
  }

  test("block closingness golden (block 8 encloses hole not covered by building holes)") {
    val out = GenericIndicators.perUnit(
      buildings.where(col("id_build").isNotNull && col("id_block").isNotNull),
      GeoFixture.blockDf(spark).select("id_block", "the_geom"), "id_block")(BlockIndicators.closingness)
      .collect().map(r => r.getAs[Int]("id_block") -> r.getAs[Double]("closingness")).toMap
    // block 6 = building 7: holes cancel -> 0
    assert(out(6) == 0.0)
    // block 8 holes: 5x20 + 15x30 = 550; building 31 hole 5x20=100 (b32-34 none)
    assert(out(8) == 450.0)
  }

  test("unweightedOperationFromLowerScale: avg/sum/dens vs hand computation") {
    import graft.indicators.GenericIndicators._
    val corr = GeoFixture.rsuBuildCorrDf(spark).select("id_rsu", "id_build")
    val lower = buildings.drop("id_rsu").join(corr, "id_build").where(col("id_build") <= 8)
    val upper = GeoFixture.rsuDf(spark).select("id_rsu", "the_geom")
    val out = perUnit(lower, upper, "id_rsu")(unweightedOperationFromLowerScale("id_build",
      Map("height_wall" -> Seq(OpAvg, OpSum, OpStd, OpGeomAvg, OpNbDens))))
      .collect().map(r => r.getAs[Int]("id_rsu") -> r).toMap
    // rsu 1 holds buildings 1..5,8: heights 8,10,8,5,12,4
    val hs = Seq(8.0, 10.0, 8.0, 5.0, 12.0, 4.0)
    assert(math.abs(out(1).getAs[Double]("avg_height_wall") - hs.sum / 6) < 1e-12)
    assert(out(1).getAs[Double]("sum_height_wall") == hs.sum)
    val mean = hs.sum / 6
    val stdExp = math.sqrt(hs.map(h => (h - mean) * (h - mean)).sum / 6)
    assert(math.abs(out(1).getAs[Double]("std_height_wall") - stdExp) < 1e-12)
    val geomAvg = math.exp(hs.map(math.log).sum / 6)
    assert(math.abs(out(1).getAs[Double]("geom_avg_height_wall") - geomAvg) < 1e-9)
    assert(math.abs(out(1).getAs[Double]("height_wall_number_density") - 6.0 / 2000) < 1e-12)
    // empty rsu keeps 0 defaults
    assert(out(14).getAs[Double]("sum_height_wall") == 0.0)
  }

  test("weightedAggregatedStatistics: area-weighted height mean/std") {
    val lower = buildings.where(col("id_build") <= 8).where(col("id_rsu").isNotNull)
      .withColumn("area", graft.geom.GeoFunctions.stArea(col("the_geom")))
    val upper = GeoFixture.rsuDf(spark).select("id_rsu")
    val out = GenericIndicators.perUnit(lower, upper, "id_rsu")(
      GenericIndicators.weightedAggregatedStatistics(Seq(("height_wall", "area"))))
      .collect().map(r => r.getAs[Int]("id_rsu") -> r).toMap
    // rsu1: buildings 1-5,8 areas 156,40,100,180,130,75; heights 8,10,8,5,12,4
    val aw = Seq((156.0, 8.0), (40.0, 10.0), (100.0, 8.0), (180.0, 5.0), (130.0, 12.0), (75.0, 4.0))
    val mean = aw.map { case (a, h) => a * h }.sum / aw.map(_._1).sum
    val std = math.sqrt(aw.map { case (a, h) => a * (h - mean) * (h - mean) }.sum / aw.map(_._1).sum)
    assert(math.abs(out(1).getAs[Double]("avg_height_wall_area_weighted") - mean) < 1e-12)
    assert(math.abs(out(1).getAs[Double]("std_height_wall_area_weighted") - std) < 1e-9)
    assert(out(14).getAs[Double]("avg_height_wall_area_weighted") == 0.0)
  }

  test("typeProportion: residential/industrial area fractions in rsu 1") {
    val lower2 = buildings.drop("id_rsu").join(GeoFixture.rsuBuildCorrDf(spark).select("id_rsu", "id_build"), "id_build")
      .where(col("id_build") <= 8)
    val upper = GeoFixture.rsuDf(spark).select(col("id_rsu"))
    val out = GenericIndicators.perUnit(lower2, upper, "id_rsu")(GenericIndicators.typeProportion(
      "type", Map("residential" -> Seq("residential"), "industrial" -> Seq("industrial"),
        "undefined" -> Seq("detached"))))
      .collect().map(r => r.getAs[Int]("id_rsu") -> r).toMap
    // rsu1 areas: res 100+180+130+75=485, industrial 156, detached 40; tot 681
    assert(math.abs(out(1).getAs[Double]("area_fraction_residential") - 485.0 / 681) < 1e-12)
    assert(math.abs(out(1).getAs[Double]("area_fraction_industrial") - 156.0 / 681) < 1e-12)
    assert(out(14).getAs[Double]("area_fraction_residential") == 0.0)
  }
}
