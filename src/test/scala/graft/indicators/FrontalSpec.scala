package graft.indicators

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.geom.{GeoFunctions => G}
import graft.index.CellGrid

/** frontalAreaIndexDistribution vs the reference goldens
  * (RsuIndicatorsTests.groovy:771-804). */
class FrontalSpec extends SparkTestBase {
  import spark.implicits._

  test("reference goldens: rsu1 h0_5/h50_61 d30_60, rsu4 sliver, rsu5 zero") {
    val b = Seq(
      (1, "POLYGON((-50 -50, 50 -50, 50 50, -50 50, -50 -50))", 3.0),
      (2, "POLYGON((50 -50, 150 -50, 150 50, 50 50, 50 -50))", 21.0),
      (3, "POLYGON((50 50, 100 50, 100 150, 50 150, 50 50))", 60.0))
      .toDF("id_build", "wkt", "height_wall")
      .withColumn("the_geom", G.stGeomFromWkt($"wkt")).drop("wkt")
    val r = Seq(
      (1, "POLYGON((0 0, 100 0, 100 100, 0 100, 0 0))"),
      (2, "POLYGON((100 0, 200 0, 200 100, 100 100, 100 0))"),
      (3, "POLYGON((0 100, 100 100, 100 200, 0 200, 0 100))"),
      (4, "POLYGON((100 100, 200 100, 200 200, 100 200, 100 100))"),
      (5, "POLYGON((200 200, 300 200, 300 300, 200 300, 200 200))"))
      .toDF("id_rsu", "wkt")
      .withColumn("the_geom", G.stGeomFromWkt($"wkt")).drop("wkt")
    val pairs = RsuIndicators.unitPairs(b, r, "id_rsu", CellGrid.fixture, 8)
    val out = RsuIndicators.frontalAreaIndexDistribution(pairs, r, CellGrid.fixture, 8)
      .collect().map(x => x.get(0).toString.toInt -> x).toMap
    def v(id: Int, n: String) = out(id).getAs[Double](n)
    assert(math.abs(v(1, "frontal_area_index_h0_5_d30_60") - 0.00566) < 1e-5)
    assert(math.abs(v(1, "frontal_area_index_h50_61_d30_60") - 0.00321) < 1e-5)
    assert(math.abs(v(4, "frontal_area_index_h50_61_d30_60") - 0.00321) < 1e-5)
    assert(v(5, "frontal_area_index_h0_5_d30_60") == 0.0)
  }

  test("a dense unit: the padded-envelope prefilter gives the all-pairs output") {
    // 12 × 12 buildings split by the unit edge x = 52; walls touch along y
    // and stand 0.005 apart along x, inside the 0.01 snap tolerance. Each
    // gap ends on a res-12 cell edge (cells are 8 wide), so only the padded
    // envelopes of two x-neighbours share a cell
    val b = (for (i <- 0 until 12; j <- 0 until 12) yield {
      val x0 = 8.0 + i * 8; val x1 = x0 + 7.995; val y0 = 8.0 + j * 8
      (i * 12 + j, s"POLYGON(($x0 $y0,$x1 $y0,$x1 ${y0 + 8},$x0 ${y0 + 8},$x0 $y0))",
        ((i * 7 + j * 3) % 15 + 3).toDouble)
    }).toDF("id_build", "wkt", "height_wall")
      .withColumn("the_geom", G.stGeomFromWkt($"wkt")).drop("wkt")
    val r = Seq((1, "POLYGON((0 0, 52 0, 52 200, 0 200, 0 0))"),
      (2, "POLYGON((52 0, 200 0, 200 200, 52 200, 52 0))"))
      .toDF("id_rsu", "wkt")
      .withColumn("the_geom", G.stGeomFromWkt($"wkt")).drop("wkt")
    val pairs = RsuIndicators.unitPairs(b, r, "id_rsu", CellGrid.fixture, 12)
    val got = RsuIndicators.frontalAreaIndexDistribution(pairs, r, CellGrid.fixture, 12)
    val ref = OverlayReference.frontal(pairs.select("id_build", "id_rsu", "the_geom", "height_wall"), r)
    val bad = OverlayReference.mismatches(got, ref, "id_rsu")
    assert(bad.isEmpty, bad.take(10).mkString("\n"))
    assert(got.columns.filter(_.startsWith("frontal_")).exists(c =>
      got.where(col("id_rsu") === 2).head().getAs[Double](c) > 0))
  }
}
