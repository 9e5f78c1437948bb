package graft

import org.apache.spark.sql.functions._
import graft.fixtures.GeoFixture
import graft.geom.{GeoFunctions => G}
import graft.index.CellGrid
import graft.indicators.{BuildingIndicators, GenericIndicators}
import graft.operators.{ConnectedComponents, SpatialJoin, SpatialUnits}

/**
 * The reference's computeAllGeoIndicators chain (WorkflowGeoIndicators.
 * groovy:1237-1373; SURVEY §3.3) composed end-to-end from this engine's
 * operators on the SQL fixture layers:
 *
 *   prepareTSUData -> createTSU -> createBlocks -> spatial join relations
 *   -> building indicators -> RSU-scale aggregation.
 *
 * Asserts structural integrity (every in-zone building lands in exactly one
 * TSU, ids dense, RSU aggregates cover every TSU) and determinism (two runs
 * produce identical outputs) — the "a user could run their workflow here"
 * evidence, complementing the per-operator golden tests.
 */
class WorkflowChainSpec extends SparkTestBase {

  private val grid = CellGrid.fixture

  private def runChain() = {
    val zone = spark.range(1)
      .select(lit(1).as("id_zone"),
        G.stMakeBox(lit(-20.0), lit(-20.0), lit(180.0), lit(70.0)).as("the_geom"))
    val road = GeoFixture.roadDf(spark).withColumn("tunnel", lit(0))
    // 1-2. mesh + polygonize
    val prepared = SpatialUnits.prepareTSUData(
      zone, Some(road), None, Some(GeoFixture.vegetDf(spark)),
      Some(GeoFixture.hydroDf(spark)), None, None,
      surfaceVegetation = 2500.0, surfaceHydro = 2500.0, surfaceUrbanAreas = 10000.0,
      grid, 10).withColumn("id_zone", lit(1))
    val tsu = SpatialUnits.createTSU(prepared, "id_zone", "the_geom")
      .localCheckpoint()
    // buildings inside the zone box (fixture also has far-away rows)
    val building = GeoFixture.buildingDf(spark)
      .where(G.stX(G.stCentroid(col("the_geom"))) < 500)
      .select("id_build", "the_geom", "height_wall", "height_roof", "nb_lev")
      .localCheckpoint()
    // 3. blocks
    val blocks = ConnectedComponents.createBlocks(building, grid, 10)
    // 4. building -> TSU relation (max-overlap, the reference default)
    val rel = SpatialJoin.assignMaxOverlap(building, "id_build", "the_geom",
      tsu.select(col("id_rsu"), col("the_geom")), "id_rsu", "the_geom", grid, 10)
    // 5. building indicators
    val bsize = BuildingIndicators.sizeProperties(building)
    // 6. RSU-scale aggregation of a building indicator
    val lower = bsize.join(rel, "id_build")
    val rsuAgg = GenericIndicators.perUnit(lower, tsu.select(col("id_rsu")), "id_rsu")(
      GenericIndicators.unweightedOperationFromLowerScale("id_build",
        Map("volume" -> Seq(GenericIndicators.OpAvg, GenericIndicators.OpSum))))
    (tsu, blocks, rel, rsuAgg)
  }

  test("chain composes: every in-zone building in exactly one TSU, aggregates total") {
    val (tsu, blocks, rel, rsuAgg) = runChain()
    val nTsu = tsu.count()
    assert(nTsu > 1)
    // dense deterministic TSU ids
    val ids = tsu.select("id_rsu").collect().map(_.getInt(0)).sorted
    assert(ids.toSeq == (1 to nTsu.toInt))
    // every building with positive overlap assigned exactly once
    val nB = rel.count()
    assert(nB == rel.select("id_build").distinct().count())
    assert(nB > 0)
    // blocks partition their buildings
    val blockMembers = blocks.select(explode(col("id_builds"))).count()
    assert(blockMembers > 0 && blocks.count() > 0)
    // RSU aggregate covers every TSU row (right-join default semantics)
    assert(rsuAgg.count() == nTsu)
    // total volume is preserved through the aggregation
    val sumDirect = rsuAgg.agg(sum("sum_volume")).head().getDouble(0)
    assert(sumDirect > 0)
  }

  test("computeAllGeoIndicators: full gated column surface at every scale") {
    import graft.workflow.{WorkflowChain, WorkflowConfig, WorkflowRunner}
    val zone = spark.range(1).select(lit(1).as("id_zone"),
      G.stMakeBox(lit(-20.0), lit(-20.0), lit(180.0), lit(70.0)).as("the_geom"))
    val building = GeoFixture.buildingDf(spark)
      .where(G.stX(G.stCentroid(col("the_geom"))) < 500)
      .select("id_build", "the_geom", "height_wall", "height_roof", "nb_lev")
      .withColumn("type", when(col("id_build") % 2 === 0, "house").otherwise("office"))
      .localCheckpoint()
    val road = GeoFixture.roadDf(spark).withColumn("tunnel", lit(0))
      .withColumn("zindex", lit(0)).withColumn("crossing", lit(null).cast("string"))
      .withColumn("type", lit("primary"))
    val layers = WorkflowRunner.Layers(zone = zone, building = building,
      road = Some(road), vegetation = Some(GeoFixture.vegetDf(spark)),
      water = Some(GeoFixture.hydroDf(spark)))
    val p = WorkflowConfig.Defaults.copy(indicatorUse = Seq("LCZ", "UTRF", "TEB"),
      surfaceVegetation = 2500, surfaceHydro = 2500, svfSimplified = true)
    val all = WorkflowChain.computeAllGeoIndicators(spark, layers, p,
      CellGrid.fixture, 10)
    // building scale: the reference's full UTRF+LCZ indicator set
    val bCols = all.buildingIndicators.columns.toSet
    Seq("area", "perimeter", "floor_area", "volume", "total_facade_length",
      "passive_volume_ratio", "contiguity", "common_wall_fraction",
      "number_building_neighbor", "area_concavity", "form_factor",
      "raw_compactness", "perimeter_convexity", "minimum_building_spacing",
      "road_distance", "likelihood_large_building", "id_block", "id_rsu")
      .foreach(c => assert(bCols(c), s"building missing $c"))
    // block scale
    val blkCols = all.blockIndicators.get.columns.toSet
    Seq("area", "floor_area", "volume", "hole_area_density", "closingness",
      "net_compactness", "avg_height_roof_area_weighted",
      "std_height_roof_area_weighted", "main_building_direction",
      "building_direction_equality", "building_direction_uniqueness", "id_rsu")
      .foreach(c => assert(blkCols(c), s"block missing $c"))
    // RSU scale: fractions + combos + stats + facade/roughness/svf chain
    val rCols = all.rsuIndicators.columns.toSet
    Seq("building_fraction", "building_fraction_lcz", "pervious_fraction_lcz",
      "impervious_fraction_lcz", "water_fraction_lcz",
      "high_vegetation_fraction_lcz", "low_vegetation_fraction_lcz",
      "vegetation_fraction_utrf", "road_fraction_utrf", "impervious_fraction_utrf",
      "area", "free_external_facade_density", "aspect_ratio",
      "building_floor_area_density", "building_volume_density", "avg_volume",
      "geom_avg_height_roof", "avg_height_roof", "std_height_roof",
      "avg_number_building_neighbor", "avg_minimum_building_spacing",
      "building_number_density", "avg_height_roof_area_weighted",
      "std_height_roof_area_weighted", "avg_nb_lev_area_weighted",
      "ground_linear_road_density", "ground_sky_view_factor",
      "effective_terrain_roughness_length", "effective_terrain_roughness_class",
      "main_building_direction", "building_direction_equality",
      "roof_fraction_distribution_h0_5", "non_vert_roof_density",
      "projected_facade_area_distribution_h0_10_d0_30",
      "area_fraction_residential_lcz", "area_fraction_individual_housing")
      .foreach(c => assert(rCols(c), s"rsu missing $c"))
    // LCZ classification lands on every RSU
    val lcz = all.rsuLcz.get
    assert(lcz.count() == all.rsuIndicators.count())
    assert(lcz.where(col("lcz_primary").isNull).count() == 0)
    // gatherScales (UTRF input surface): build_/block_ prefixed aggregates
    val gathered = WorkflowChain.gatherScales(all.buildingIndicators,
      all.blockIndicators.get, all.rsuIndicators, "RSU")
    val gCols = gathered.columns.toSet
    assert(gCols("build_avg_area") && gCols("build_std_area"))
    assert(gCols("block_avg_hole_area_density") && gCols("block_std_volume"))
    val gatheredB = WorkflowChain.gatherScales(all.buildingIndicators,
      all.blockIndicators.get, all.rsuIndicators, "BUILDING")
    assert(gatheredB.columns.contains("block_area")
      && gatheredB.columns.contains("rsu_building_fraction_lcz"))
    assert(gatheredB.count() == all.buildingIndicators.count())
  }

  test("full chain resumes from the lake: second run reads committed stages") {
    import graft.workflow.{WorkflowChain, WorkflowConfig, WorkflowRunner}
    import graft.lake.Lake
    val root = java.nio.file.Files.createTempDirectory("chain-lake").toString
    val zone = spark.range(1).select(lit(1).as("id_zone"),
      G.stMakeBox(lit(-20.0), lit(-20.0), lit(180.0), lit(70.0)).as("the_geom"))
    val building = GeoFixture.buildingDf(spark)
      .where(G.stX(G.stCentroid(col("the_geom"))) < 500)
      .select("id_build", "the_geom", "height_wall", "height_roof", "nb_lev")
      .withColumn("type", lit("house")).localCheckpoint()
    val layers = WorkflowRunner.Layers(zone = zone, building = building,
      vegetation = Some(GeoFixture.vegetDf(spark)),
      water = Some(GeoFixture.hydroDf(spark)))
    val p = WorkflowConfig.Defaults.copy(indicatorUse = Seq("LCZ", "UTRF"),
      surfaceVegetation = 2500, surfaceHydro = 2500, svfSimplified = true)
    val r1 = WorkflowChain.computeAllGeoIndicators(spark, layers, p,
      CellGrid.fixture, 10, lakeRoot = Some(root))
    val n1 = r1.rsuIndicators.count()
    assert(Lake.isCommitted(root, "building_indicators_full"))
    assert(Lake.isCommitted(root, "block_indicators_full"))
    assert(Lake.isCommitted(root, "rsu_indicators_full"))
    val r2 = WorkflowChain.computeAllGeoIndicators(spark, layers, p,
      CellGrid.fixture, 10, lakeRoot = Some(root))
    assert(r2.rsuIndicators.count() == n1)
    assert(Lake.currentVersion(root, "rsu_indicators_full") == 1) // no recompute
  }

  test("typology aggregation degenerates to all-NULL rows when no prediction maps") {
    import spark.implicits._
    import graft.ml.RandomForest
    import graft.workflow.WorkflowChain
    // a one-leaf forest always predicts class 0; typoNames maps it OUTSIDE
    // UtrfCorrespondence — `present` is empty and the aggregation must yield
    // the reference's all-NULL shape instead of throwing on aggs.head
    val forest = RandomForest.Forest(Seq("f"), Seq(RandomForest.Leaf(0.0)))
    val gathered = Seq((1L, 1, 2.0)).toDF("id_build", "id_rsu", "f")
    val bIndics = Seq((1L, 1, 10.0, 20.0)).toDF("id_build", "id_rsu", "area", "floor_area")
    val rsu = Seq(1, 2).toDF("id_rsu")
      .withColumn("the_geom", G.stMakeBox(lit(0.0), lit(0.0), lit(1.0), lit(1.0)))
    val (bu, rArea, rFloor) = WorkflowChain.computeTypologyIndicators(
      gathered, bIndics, rsu, forest, Seq("not_a_utrf_class"))
    assert(bu.count() == 1)
    for (out <- Seq(rArea, rFloor)) {
      val rows = out.orderBy("id_rsu").collect()
      assert(rows.length == 2)
      assert(out.columns.toSeq ==
        Seq("id_rsu", "the_geom", "uniqueness_value", "typo_maj", "typo_second"))
      assert(rows.forall(r => r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4)))
    }
  }

  test("chain is deterministic across runs") {
    val (tsu1, _, rel1, agg1) = runChain()
    val (tsu2, _, rel2, agg2) = runChain()
    assert(tsu1.select("id_rsu").collect().map(_.getInt(0)).sorted.toSeq ==
      tsu2.select("id_rsu").collect().map(_.getInt(0)).sorted.toSeq)
    def relSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(relSet(rel1) == relSet(rel2))
    def aggMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(aggMap(agg1) == aggMap(agg2))
  }
}
