package graft.indicators

import graft.SparkTestBase
import graft.fixtures.GeoFixture
import graft.index.CellGrid

/** roofAreaDistribution vs the reference's own goldens
  * (RsuIndicatorsTests.groovy:265-318). */
class RoofSpec extends SparkTestBase {
  import spark.implicits._
  private val grid = CellGrid.fixture

  test("reference goldens rsu1 + rsu13 + density sums") {
    val b = GeoFixture.buildingDf(spark)
      .where(($"id_build" < 6 || ($"id_build" < 29 && $"id_build" > 26)) && $"id_rsu".isNotNull)
    val geom = b.select("id_build", "the_geom", "height_wall", "height_roof")
    val out = RsuIndicators.roofAreaDistribution(GeoFixture.rsuDf(spark), b,
      RsuIndicators.unitPairs(geom, GeoFixture.rsuDf(spark), "id_rsu", grid, 10),
      RsuIndicators.buildingNeighbours(geom, grid, 10), Seq(0, 10, 20, 30, 40, 50))
    def row(id: Int) = out.where($"id_rsu" === id).head()
    def v(id: Int, n: String) = math.round(row(id).getAs[Double](n) * 100) / 100.0

    assert(v(1, "non_vert_roof_area_h0_10") == 405.25)
    assert(v(1, "vert_roof_area_h0_10") == 56.48)
    assert(v(1, "non_vert_roof_area_h10_20") == 289.27)
    assert(v(1, "vert_roof_area_h10_20") == 45.64)
    assert(v(1, "non_vert_roof_area_h20_30") == 0.0)

    assert(v(13, "non_vert_roof_area_h0_10") == 355.02)
    assert(v(13, "vert_roof_area_h0_10") == 163.23)
    assert(v(13, "non_vert_roof_area_h10_20") == 404.01)
    assert(v(13, "vert_roof_area_h10_20") == 141.88)
    assert(v(13, "non_vert_roof_area_h20_30") == 244.92)
    assert(v(13, "vert_roof_area_h20_30") == 235.50)
    assert(v(13, "non_vert_roof_area_h30_40") == 48.98)
    assert(v(13, "vert_roof_area_h30_40") == 6.73)

    val r1 = row(1); val r13 = row(13)
    val d1 = r1.getAs[Double]("vert_roof_density") + r1.getAs[Double]("non_vert_roof_density")
    val d13 = r13.getAs[Double]("vert_roof_density") + r13.getAs[Double]("non_vert_roof_density")
    assert(math.abs(d1 - 796.64 / 2000) < 0.001)
    assert(math.abs(d13 - 1600.27 / 10000) < 0.001)
  }
}
