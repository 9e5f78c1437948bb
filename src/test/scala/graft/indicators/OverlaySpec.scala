package graft.indicators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, Geometry}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.SparkTestBase
import graft.geom.{Geo, GeoFunctions => G}
import graft.index.CellGrid
import graft.indicators.GenericIndicators._
import graft.operators.{SpatialJoin, Tiling}
import graft.workflow.{WorkflowChain, WorkflowRunner}

/** Each spatial family that reads the building × unit pairs against its old
  * self-joining form ([[OverlayReference]]): at the RSU scale through
  * `computeRsuIndicators`, at the grid scale through `rasterizeIndicators`.
  * The fixture holds two crossing L-shapes, a building across two units, a
  * building that meets a unit only along an edge, buildings sharing a wall
  * or a corner, a building with a hole and an empty unit; a property adds
  * the random L-shapes and lines of `SpatialJoinProps`. */
class OverlaySpec extends SparkTestBase {
  import spark.implicits._
  private val grid = CellGrid.fixture
  private val Res = 10

  private def box(x0: Int, y0: Int, x1: Int, y1: Int) = s"POLYGON(($x0 $y0,$x1 $y0,$x1 $y1,$x0 $y1,$x0 $y0))"

  /** Unit 5 holds no building. */
  private def units(id: String): DataFrame = Seq(
      1 -> box(0, 0, 200, 200), 2 -> box(200, 0, 400, 200), 3 -> box(0, 200, 200, 400),
      4 -> box(200, 200, 400, 400), 5 -> box(600, 600, 700, 700))
    .toDF(id, "wkt").select(col(id), G.stGeomFromWkt(col("wkt")).as("the_geom"))
  private lazy val rsus = units("id_rsu")
  private lazy val cells = units("id_grid")

  private lazy val buildings: DataFrame = {
    val df = Seq(
      (1, "POLYGON((10 10,300 10,300 30,30 30,30 300,10 300,10 10))", 9.0, 12.0),    // L over 3 units
      (2, "POLYGON((295 25,315 25,315 330,20 330,20 310,295 310,295 25))", 14.0, 14.0), // L across 1
      (3, box(150, 50, 250, 80), 6.0, 9.0),   // across units 1 and 2
      (4, box(400, 50, 420, 80), 5.0, 7.0),   // meets unit 2 along its edge only
      (5, box(50, 100, 80, 130), 20.0, 25.0), // shares a wall with 6, above its roof
      (6, box(80, 100, 110, 130), 8.0, 12.0),
      (7, box(110, 130, 130, 150), 11.0, 13.0), // meets 6 at a corner
      (8, "POLYGON((250 250,330 250,330 330,250 330,250 250),(260 260,320 260,320 320,260 320,260 260))",
        16.0, 21.0))
      .toDF("id_build", "wkt", "height_wall", "height_roof")
      .select(col("id_build"), G.stGeomFromWkt(col("wkt")).as("the_geom"),
        col("height_wall"), col("height_roof"))
    spark.createDataFrame(df.rdd, df.schema) // an RDD source: nothing folds at planning
  }

  private def assertSame(got: DataFrame, ref: DataFrame, id: String): Unit = {
    val bad = OverlayReference.mismatches(got, ref, id)
    assert(bad.isEmpty, bad.take(10).mkString("\n"))
  }
  private def asRsu(df: DataFrame) = df.withColumnRenamed("id_grid", "id_rsu")
  private def asGrid(df: DataFrame) = df.withColumnRenamed("id_rsu", "id_grid")
  private val roofBounds = Seq(0.0, 5.0, 10.0, 15.0, 20.0, 25.0, 30.0, 35.0, 40.0, 45.0, 50.0)
    .sliding(2).collect { case Seq(a, b) => (a, b) }.toSeq
  private def buildingFractions(units: DataFrame, building: DataFrame): DataFrame =
    RsuIndicators.surfaceFractions(RsuIndicators.smallestCommonGeometry(units,
      Seq("building" -> building.select("the_geom")), grid, Res), units, Map.empty, Seq("building"))

  test("RSU scale: computeRsuIndicators' spatial families equal their old self-joining forms") {
    // building 4 has no overlap with any RSU, so it is assigned none
    val bu = buildings.join(SpatialJoin.assignMaxOverlap(buildings, "id_build", "the_geom",
        rsus, "id_rsu", "the_geom", grid, Res), "id_build")
      .withColumn("area", G.stArea(col("the_geom")))
      .withColumn("contiguity", lit(0.0))
      .withColumn("total_facade_length", G.stPerimeter(col("the_geom")))
    assert(bu.select("id_build").as[Int].collect().sorted.toSeq == Seq(1, 2, 3, 5, 6, 7, 8))
    val got = WorkflowChain.computeRsuIndicators(bu, rsus, None, None, None, None, None,
      Seq("LCZ", "TEB"), svfSimplified = false, grid, Res)
    val bottoms = Seq(0.0, 10.0, 20.0, 30.0, 40.0, 50.0)
    val ref = rsus.select("id_rsu")
      .join(OverlayReference.roofFraction(rsus, bu, roofBounds, grid, Res), "id_rsu")
      .join(OverlayReference.roofArea(rsus,
        bu.select("id_build", "id_rsu", "the_geom", "height_wall", "height_roof"), bottoms, grid, Res), "id_rsu")
      .join(OverlayReference.projectedFacade(bu.select("id_build", "the_geom", "height_wall"), rsus,
        grid, Res, bottoms, 12), "id_rsu")
      .join(OverlayReference.svf(rsus, bu.select("the_geom", "height_wall"), grid, Res), "id_rsu")
      .join(buildingFractions(rsus, bu), "id_rsu")
    assertSame(got, ref, "id_rsu")
    val empty = got.where(col("id_rsu") === 5).head()
    assert(empty.getAs[Double]("roof_fraction_distribution_h0_5") == 0.0)
    assert(empty.getAs[Double]("ground_sky_view_factor") == 1.0)
  }

  test("grid scale: rasterizeIndicators' building families equal their old self-joining forms") {
    val inds = Seq("BUILDING_HEIGHT_DISTRIBUTION", "FRONTAL_AREA_INDEX",
      "FREE_EXTERNAL_FACADE_DENSITY", "SVF", "LAND_TYPE_FRACTION")
    val got = WorkflowRunner.rasterizeIndicators(
      WorkflowRunner.Layers(zone = rsus, building = buildings), cells, inds, grid, Res)
    val rel = OverlayReference.rel(cells, buildings, grid, Res)
      .select("id_build", "id_grid", "the_geom", "height_wall")
    val cut = OverlayReference.cutBuilding(cells, buildings, grid, Res)
    assert(cut.where(col("id_build") === 3).select("id_grid").as[Int].collect().sorted.toSeq == Seq(1, 2))
    assert(cut.where(col("id_build") === 4).count() == 0 && rel.where(col("id_build") === 4).count() == 1)
    val ref = cells.select("id_grid")
      .join(asGrid(OverlayReference.roofFraction(asRsu(cells), cut, roofBounds, grid, Res)), "id_grid")
      .join(asGrid(OverlayReference.frontal(asRsu(rel), asRsu(cells))), "id_grid")
      .join(OverlayReference.facadeDensityExact(rel, cells, "id_grid", grid, Res), "id_grid")
      .join(asGrid(OverlayReference.svf(asRsu(cells), buildings, grid, Res))
        .withColumnRenamed("ground_sky_view_factor", "svf"), "id_grid")
      .join(asGrid(buildingFractions(asRsu(cells), buildings)), "id_grid")
    assertSame(got, ref, "id_grid")
  }

  // ---- random L-shapes and lines (the shapes of SpatialJoinProps) ---------

  private def poly(cs: (Double, Double)*): Geometry =
    Geo.factory.createPolygon((cs :+ cs.head).map { case (x, y) => new Coordinate(x, y) }.toArray)
  private val lShape = for {
    x <- Gen.choose(-300.0, 300.0); y <- Gen.choose(-300.0, 300.0)
    w <- Gen.choose(70.0, 300.0); h <- Gen.choose(70.0, 300.0)
    t <- Gen.choose(5.0, 30.0); rot <- Gen.choose(0, 3)
  } yield {
    val turn: ((Double, Double)) => (Double, Double) = { case (dx, dy) =>
      rot match {
        case 0 => (x + dx, y + dy); case 1 => (x - dy, y + dx)
        case 2 => (x - dx, y - dy); case _ => (x + dy, y - dx)
      }
    }
    poly(Seq((0.0, 0.0), (w, 0.0), (w, t), (t, t), (t, h), (0.0, h)).map(turn): _*)
  }
  private val line = for {
    x <- Gen.choose(-300.0, 300.0); y <- Gen.choose(-300.0, 300.0)
    len <- Gen.choose(90.0, 400.0); a <- Gen.choose(0.0, 2 * math.Pi)
  } yield Geo.factory.createLineString(Array(new Coordinate(x, y),
    new Coordinate(x + len * math.cos(a), y + len * math.sin(a)))).asInstanceOf[Geometry]

  test("grid scale over random L-shapes and lines: the pairs and the cut pieces' areas " +
    "equal the old relation and the pieces re-joined to the cells") {
    val cells = Tiling.makeGrid(spark, -300, -300, 600, 600, 150, 150).select("id_grid", "the_geom")
      .localCheckpoint()
    val prop = Prop.forAllNoShrink(Gen.listOfN(20, Gen.frequency(3 -> lShape, 1 -> line))) { shapes =>
      val b = shapes.zipWithIndex.map { case (g, i) => (i.toLong, Geo.toWkb(g), (i % 7 + 3).toDouble) }
        .toDF("id_build", "the_geom", "height_roof").withColumn("height_wall", col("height_roof"))
      val got = WorkflowRunner.rasterizeIndicators(WorkflowRunner.Layers(zone = cells, building = b),
        cells, Seq("BUILDING_HEIGHT", "BUILDING_HEIGHT_DISTRIBUTION"), grid, Res)
      val ref = perUnit(OverlayReference.rel(cells, b, grid, Res), cells, "id_grid")(
          unweightedOperationFromLowerScale("id_build", Map("height_roof" -> Seq(OpAvg, OpStd))))
        .join(asGrid(OverlayReference.roofFraction(asRsu(cells),
          OverlayReference.cutBuilding(cells, b, grid, Res), roofBounds, grid, Res)), "id_grid")
      val bad = OverlayReference.mismatches(got, ref, "id_grid")
      Prop(bad.isEmpty) :| bad.take(5).mkString("\n")
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(r.passed, r.status.toString)
  }
}
