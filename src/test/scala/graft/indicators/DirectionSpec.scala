package graft.indicators

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.fixtures.GeoFixture

/** buildingDirectionDistribution vs the reference's own goldens
  * (GenericIndicatorsTests.groovy:182-222). */
class DirectionSpec extends SparkTestBase {
  import spark.implicits._

  test("block 4 goldens: equality 4/12, main ang97_5, uniqueness 6/50") {
    val b = GeoFixture.buildingDf(spark).where($"id_build" < 9 && $"id_block".isNotNull)
    val blocks = GeoFixture.blockDf(spark)
    val out = GenericIndicators.perUnit(b, blocks.select("id_block"), "id_block")(
        GenericIndicators.buildingDirectionDistribution(15))
      .where($"id_block" === 4).head()
    assert(math.abs(out.getAs[Double]("building_direction_equality") - 4.0 / 12) < 1e-4)
    assert(out.getAs[String]("main_building_direction") == "ang97_5")
    assert(math.abs(out.getAs[Double]("building_direction_uniqueness") - 6.0 / 50) < 1e-4)
  }

  test("empty upper unit -> -1 / unknown") {
    val b = GeoFixture.buildingDf(spark).where($"id_build" < 9 && $"id_rsu".isNotNull)
    val out = GenericIndicators.perUnit(b, GeoFixture.rsuDf(spark).select("id_rsu"), "id_rsu")(
        GenericIndicators.buildingDirectionDistribution(15))
      .where($"id_rsu" === 14).head()
    assert(out.getAs[Double]("building_direction_equality") == -1.0)
    assert(out.getAs[String]("main_building_direction") == "unknown")
    assert(out.getAs[Double]("building_direction_uniqueness") == -1.0)
  }
}
