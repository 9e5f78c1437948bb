package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.geom.{GeoFunctions => G}

/**
 * BDTopo v2 building path end-to-end on the reference's REAL sample commune
 * (shapefiles → loading merge → formatting), asserting the reference's own
 * formatting invariants (bdtopo InputDataFormattingTest: no zero
 * heights/levels, types always set, zindex in range, no empty geometries).
 */
class BdTopoSpec extends SparkTestBase {

  private val dir =
    "/root/reference/bdtopo/src/test/resources/org/orbisgis/geoclimate/bdtopo/v2/sample_12174"

  test("load + format the sample commune's buildings") {
    val raw = BdTopo.loadBuildings(spark, dir).withColumn("id_zone", lit(1))
    // three BATI layers merged; HAUTEUR>=0 drops nothing here (all present)
    assert(raw.count() == 10481 + 655 + 66) // indifferencie + industriel + remarquable
    val out = BdTopo.formatBuildingLayer(raw, "id_zone").localCheckpoint()
    val n = out.count()
    assert(n > 10000)
    // reference invariants (InputDataFormattingTest v2 :100-103)
    assert(out.where(col("height_wall") === 0 || col("height_roof") === 0
      || col("nb_lev") === 0).count() == 0)
    assert(out.where(col("type").isNull || col("main_use").isNull).count() == 0)
    assert(out.where(!col("zindex").between(-4, 4)).count() == 0)
    assert(out.where(G.stIsEmpty(col("the_geom"))).count() == 0)
    assert(out.where(col("height_roof") < col("height_wall")).count() == 0)
    // dictionary applied: the indifferencie mass is residential; the
    // industrial layer's NATURE values map through the dictionary
    val types = out.groupBy("type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(types("residential") > 10000)
    assert(types.keySet.exists(t => t != "residential"))
    // ids dense 1..n
    assert(out.agg(min("id_build"), max("id_build")).head() match {
      case r => r.getInt(0) == 1 && r.getInt(1) == n.toInt
    })
    // zero-HAUTEUR buildings are estimated at their type's default level
    val est = out.where(col("estimated")).count()
    assert(est > 0 && est < n)
  }

  // the reference's two-step zone handling: rows are FILTERED by the
  // commune polygon at load (BDTopoV2Workflow.groovy:129 geomToExtract),
  // then geometry is CLIPPED to zone_extended = ST_EXPAND(commune, 0) — the
  // envelope — at format time (InputDataLoading.groovy:215,
  // BDTopoV2Workflow.groovy:268-276); part explosion follows the bbox clip
  private def commune = Shapefile.read(spark, s"$dir/COMMUNE.shp")
    .select(G.stMakeValid(col("the_geom")).as("the_geom")).localCheckpoint()
  private def polygonFiltered(df: org.apache.spark.sql.DataFrame) = {
    val z = broadcast(commune.select(col("the_geom").as("__cg")))
    df.crossJoin(z).where(G.stIntersects(col("__cg"), col("the_geom"))).drop("__cg")
  }
  private def communeEnv = commune.select(G.stMakeBox(G.stXMin(col("the_geom")),
    G.stYMin(col("the_geom")), G.stXMax(col("the_geom")), G.stYMax(col("the_geom"))).as("the_geom"))
  /** The line-layer clip to the zone (BDTopoV2Workflow queryMapper: `&& +
    * ST_INTERSECTS` keep, contained kept verbatim, the rest clipped to the
    * line components of the intersection). */
  private def clipLinesToZone(raw: org.apache.spark.sql.DataFrame, zone: org.apache.spark.sql.DataFrame) = {
    val z = broadcast(zone.select(col("the_geom").as("__zg")))
    raw.crossJoin(z)
      .where(G.stIntersects(col("__zg"), col("the_geom")))
      .withColumn("the_geom",
        when(G.stContains(col("__zg"), col("the_geom")), col("the_geom"))
          .otherwise(G.stLines(G.stIntersection(col("the_geom"), col("__zg")))))
      .where(!G.stIsEmpty(col("the_geom")))
      .drop("__zg")
  }

  test("roads: nature switch, crossings, widths (reference invariants)") {
    val out = BdTopo.formatRoadLayer(
      clipLinesToZone(polygonFiltered(BdTopo.loadRoads(spark, dir)), communeEnv)
        .withColumn("id_zone", lit(1)), "id_zone")
      .localCheckpoint()
    val n = out.count()
    assert(n > 1000) // 1021 commune segments after the two-step zone handling
    info(s"roads: $n, crossings: " +
      out.where(col("crossing").isin("bridge", "crossing")).count())
    // reference invariants (WorkflowBDTopoV2Test testFormatData)
    assert(out.where(col("width") === 0).count() == 0)
    assert(out.where(col("type").isNull).count() == 0)
    assert(out.where(col("maxspeed") < -1).count() == 0)
    assert(out.where(!col("zindex").between(-4, 4)).count() == 0)
    assert(out.where(G.stIsEmpty(col("the_geom"))).count() == 0)
    assert(out.where(col("type") === "path").count() == 0)
    // the reference counts 24 bridge/ford crossings on this commune (its run
    // clips to the zone; the raw extract carries the same crossing rows)
    assert(out.where(col("crossing").isin("bridge", "crossing")).count() == 24)
  }

  test("rails, water, vegetation: dictionary formatting invariants") {
    val rails = BdTopo.formatRailsLayer(
      clipLinesToZone(polygonFiltered(BdTopo.loadRails(spark, dir)), communeEnv)
        .withColumn("id_zone", lit(1)), "id_zone")
      .localCheckpoint()
    assert(rails.count() > 0)
    assert(rails.where(col("width") === 0 || col("type").isNull).count() == 0)
    assert(rails.where(col("crossing").isNotNull).count() == 2) // reference golden
    val water = BdTopo.formatHydroLayer(
      BdTopo.loadWater(spark, dir).withColumn("id_zone", lit(1)), "id_zone")
      .localCheckpoint()
    assert(water.count() > 0)
    assert(water.where(col("type").isNull).count() == 0)
    assert(water.select("type").distinct().count() >= 1)
    val veg = BdTopo.formatVegetationLayer(
      BdTopo.loadVegetation(spark, dir).withColumn("id_zone", lit(1)), "id_zone")
      .localCheckpoint()
    assert(veg.count() > 2000)
    assert(veg.where(col("height_class").isNull && col("type").isNotNull
      && col("type").isin(BdTopo.VegetationClass.keys.toSeq: _*)).count() == 0)
    assert(veg.where(col("zindex") =!= 0).count() == 0)
  }

  test("impervious overlay + urban areas from activity surfaces") {
    val grid = graft.index.CellGrid.fixture
    val urban = BdTopo.loadUrbanAreas(spark, dir)
    assert(urban.count() > 0)
    assert(urban.where(col("type") === "unknown").count() == 0)
    val imp = BdTopo.formatImperviousLayer(
      BdTopo.loadImpervious(spark, dir).withColumn("id_zone", lit(1)), "id_zone",
      grid, 8).localCheckpoint()
    assert(imp.count() > 0)
    // every face typed from the known set, alphabetically-largest pick
    val types = imp.select("type").distinct().collect().map(_.getString(0)).toSet
    assert(types.subsetOf(BdTopo.ImperviousKnownTypes))
    assert(imp.where(G.stIsEmpty(col("the_geom"))).count() == 0)
    // overlay faces never overlap each other (the point of the noding)
    val a = imp.select(col("id_impervious").as("ia"), col("the_geom").as("ga"))
    val b = imp.select(col("id_impervious").as("ib"), col("the_geom").as("gb"))
    val overlaps = graft.operators.SpatialJoin.candidates(a, "ga", b, "gb", grid, 8)
      .where(col("ia") < col("ib") && G.stOverlaps(col("ga"), col("gb")))
      .withColumn("__ov", G.stIntersectionArea(col("ga"), col("gb")))
      .where(col("__ov") > 1e-6).count()
    assert(overlaps == 0)
  }
}
