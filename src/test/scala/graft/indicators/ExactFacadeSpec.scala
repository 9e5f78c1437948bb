package graft.indicators

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.geom.{GeoFunctions => G}
import graft.index.CellGrid

/** freeExternalFacadeDensityExact vs the reference's goldens
  * (RsuIndicatorsTests.groovy:77-133). The building↔RSU correlation is the
  * all-intersecting-pairs relation, like the reference's spatialJoin. */
class ExactFacadeSpec extends SparkTestBase {
  import spark.implicits._
  private val grid = CellGrid.fixture

  private def run(bld: Seq[(Int, String, Double)], rsus: Seq[(Int, String)]): Map[Int, Double] = {
    val b = bld.toDF("id_build", "wkt", "height_wall")
      .withColumn("the_geom", G.stGeomFromWkt($"wkt")).drop("wkt")
    val r = rsus.toDF("id_rsu", "wkt")
      .withColumn("the_geom", G.stGeomFromWkt($"wkt")).drop("wkt")
    RsuIndicators.freeExternalFacadeDensityExact(RsuIndicators.unitPairs(b, r, "id_rsu", grid, 8), r)
      .collect().map(x => x.getInt(0) -> x.getDouble(1)).toMap
  }

  test("golden 1: two nested buildings over 4 RSUs") {
    val out = run(
      Seq((1, "POLYGON((50 50, 150 50, 150 150, 140 150, 140 60, 60 60, 60 150, 50 150, 50 50))", 20.0),
        (2, "POLYGON((60 60, 140 60, 140 110, 60 110, 60 60))", 10.0)),
      Seq((1, "POLYGON((0 0, 100 0, 100 100, 0 100, 0 0))"),
        (2, "POLYGON((100 0, 200 0, 200 100, 100 100, 100 0))"),
        (3, "POLYGON((0 100, 100 100, 100 200, 0 200, 0 100))"),
        (4, "POLYGON((100 100, 200 100, 200 200, 100 200, 100 100))"),
        (5, "POLYGON((200 200, 300 200, 300 300, 200 300, 200 200))")))
    assert(math.abs(out(1) - 0.28) < 1e-9)
    assert(math.abs(out(2) - 0.28) < 1e-9)
    assert(math.abs(out(3) - 0.25) < 1e-9)
    assert(math.abs(out(4) - 0.25) < 1e-9)
    assert(out(5) == 0.0)
  }

  test("golden 2: touching buildings") {
    val out = run(
      Seq((1, "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))", 10.0),
        (2, "POLYGON((10 0, 20 0, 20 20, 10 20, 10 0))", 10.0),
        (3, "POLYGON((30 30, 50 30, 50 50, 30 50, 30 30))", 10.0),
        (4, "POLYGON((120 60, 130 60, 130 50, 120 50, 120 60))", 10.0)),
      Seq((1, "POLYGON((0 0, 100 0, 100 100, 0 100, 0 0))"),
        (2, "POLYGON((100 100, 200 100, 200 0, 100 0, 100 100))")))
    assert(math.abs(out(1) - 0.16) < 1e-9)
    assert(math.abs(out(2) - 0.04) < 1e-9)
  }
}
