package graft.workflow

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.geom.{GeoFunctions => G}
import graft.index.CellGrid
import graft.indicators._
import graft.operators.{ConnectedComponents, SpatialJoin, SpatialUnits}

/**
 * The reference's full `computeAllGeoIndicators` composition
 * (WorkflowGeoIndicators.groovy:1237-1373 → computeGeoclimateIndicators
 * :1602-1650 → computeBuildingsIndicators :44-148 / computeBlockIndicators
 * :153-244 / computeRSUIndicators :302-744 / computeTypologyIndicators
 * :762-940 / gatherScales GenericIndicators.groovy:824-978), re-expressed as
 * gated DataFrame composition over this engine's operator library.
 *
 * Differences from the reference, by design of our abstract model:
 *  - one `water` layer stands in for water_permanent/water_intermittent
 *    (fraction-combo maps adapted accordingly);
 *  - fraction combos sum only the overlay columns that EXIST for the layers
 *    supplied (the reference throws when a configured column is missing);
 *  - every stage is a DataFrame transformation — the reference's temp-table
 *    DAG becomes one Catalyst plan per scale, checkpointed where reused.
 */
object WorkflowChain {

  /** Per-scale outputs of the composed chain. */
  final case class AllIndicators(buildingIndicators: DataFrame,
                                 blockIndicators: Option[DataFrame],
                                 rsuIndicators: DataFrame,
                                 rsuLcz: Option[DataFrame])

  // ---- building scale (computeBuildingsIndicators, :44-148) ---------------

  /**
   * Building-scale indicator table: the input building columns plus the
   * gated indicator families, one join per family on id_build.
   */
  def computeBuildingsIndicators(building: DataFrame, road: Option[DataFrame],
                                 indicatorUse: Seq[String],
                                 grid: CellGrid, res: Int): DataFrame = {
    val uses = indicatorUse.map(_.toUpperCase)
    val utrf = uses.contains("UTRF"); val lcz = uses.contains("LCZ")
    var out = building
    // geometry properties: area (+ perimeter for UTRF)
    out = out.withColumn("area", G.stArea(col("the_geom")))
    if (utrf) out = out.withColumn("perimeter", G.stPerimeter(col("the_geom")))
    // size properties: floor_area always; volume/facade/passive for UTRF,
    // total_facade_length also for LCZ
    val sizeCols = Seq("floor_area") ++
      (if (utrf) Seq("volume", "total_facade_length", "passive_volume_ratio") else Nil) ++
      (if (lcz && !utrf) Seq("total_facade_length") else Nil)
    out = out.join(BuildingIndicators.sizeProperties(building)
      .select("id_build", sizeCols.distinct: _*), "id_build")
    if (lcz || utrf) {
      val neighborCols =
        if (lcz && !utrf) Seq("contiguity")
        else Seq("contiguity", "common_wall_fraction", "number_building_neighbor")
      val nb = BuildingIndicators.neighborsProperties(building, grid, res)
      out = out.join(nb.select("id_build", neighborCols: _*), "id_build")
      if (utrf) {
        out = out.join(BuildingIndicators.formProperties(building), "id_build")
          .join(BuildingIndicators.minimumBuildingSpacing(building, 100.0, grid, res), "id_build")
        road.foreach { r =>
          out = out.join(BuildingIndicators.roadDistance(building, r, 100.0, grid, res), "id_build")
        }
        out = out.join(BuildingIndicators.likelihoodLargeBuilding(
          building.join(nb.select("id_build", "number_building_neighbor"), "id_build")),
          "id_build")
      }
    }
    out
  }

  // ---- block scale (computeBlockIndicators, :153-244) ---------------------

  /**
   * Block-scale indicators. `buildingIndics` must carry id_block plus the
   * building-scale columns (area, floor_area, volume, contiguity,
   * height_roof, height_wall, the_geom); `blocks` is (id_block, the_geom).
   * Every family aggregates the buildings in ONE pass by id_block.
   */
  def computeBlockIndicators(buildingIndics: DataFrame, blocks: DataFrame): DataFrame = {
    import GenericIndicators._
    perUnit(buildingIndics, blocks, "id_block")(
      unweightedOperationFromLowerScale("id_build", Map("area" -> Seq(OpSum),
        "floor_area" -> Seq(OpSum), "volume" -> Seq(OpSum))),
      BlockIndicators.holeAreaDensity,
      buildingDirectionDistribution(angleRangeSize = 15),
      BlockIndicators.closingness,
      BlockIndicators.netCompactness,
      weightedAggregatedStatistics(Seq(("height_roof", "area"))))
      // reference renames SUM_x back to the bare names (:225-236)
      .withColumnRenamed("sum_area", "area")
      .withColumnRenamed("sum_floor_area", "floor_area")
      .withColumnRenamed("sum_volume", "volume")
  }

  // ---- RSU scale (computeRSUIndicators, :302-744) -------------------------

  /** Adapted utrfSurfFraction map (single-water model). */
  val UtrfSurfFraction: Map[String, Seq[String]] = Map(
    "vegetation_fraction_utrf" -> Seq("high_vegetation_fraction", "low_vegetation_fraction",
      "high_vegetation_low_vegetation_fraction", "high_vegetation_road_fraction",
      "high_vegetation_impervious_fraction", "high_vegetation_water_fraction",
      "high_vegetation_building_fraction"),
    "low_vegetation_fraction_utrf" -> Seq("low_vegetation_fraction"),
    "high_vegetation_impervious_fraction_utrf" ->
      Seq("high_vegetation_road_fraction", "high_vegetation_impervious_fraction"),
    "high_vegetation_pervious_fraction_utrf" -> Seq("high_vegetation_fraction",
      "high_vegetation_low_vegetation_fraction", "high_vegetation_water_fraction"),
    "road_fraction_utrf" -> Seq("road_fraction", "high_vegetation_road_fraction"),
    "impervious_fraction_utrf" -> Seq("road_fraction", "high_vegetation_road_fraction",
      "impervious_fraction", "high_vegetation_impervious_fraction"))

  /** Adapted lczSurfFraction map (single-water model). */
  val LczSurfFraction: Map[String, Seq[String]] = Map(
    "building_fraction_lcz" -> Seq("building_fraction", "high_vegetation_building_fraction"),
    "pervious_fraction_lcz" -> Seq("high_vegetation_fraction", "low_vegetation_fraction",
      "water_fraction", "high_vegetation_low_vegetation_fraction",
      "high_vegetation_water_fraction"),
    "high_vegetation_fraction_lcz" -> Seq("high_vegetation_fraction",
      "high_vegetation_low_vegetation_fraction", "high_vegetation_road_fraction",
      "high_vegetation_impervious_fraction", "high_vegetation_water_fraction",
      "high_vegetation_building_fraction"),
    "low_vegetation_fraction_lcz" -> Seq("low_vegetation_fraction"),
    "impervious_fraction_lcz" -> Seq("impervious_fraction", "road_fraction", "rail_fraction",
      "high_vegetation_impervious_fraction", "high_vegetation_road_fraction",
      "high_vegetation_rail_fraction"),
    "water_fraction_lcz" -> Seq("water_fraction", "high_vegetation_water_fraction"))

  /** LCZ building-type composition (:318-325). */
  val LczTypeComposition: Map[String, Seq[String]] = Map(
    "light_industry_lcz" -> Seq("industrial", "factory", "warehouse", "port", "manufacture"),
    "commercial_lcz" -> Seq("commercial", "shop", "retail", "port", "exhibition_centre", "cinema"),
    "heavy_industry_lcz" -> Seq("refinery"),
    "residential_lcz" -> Seq("house", "detached", "bungalow", "farm", "apartments", "barracks",
      "abbey", "condominium", "villa", "dormitory", "sheltered_housing", "workers_dormitory",
      "terrace", "residential", "cabin"))

  val BuildingFractions: Seq[String] =
    Seq("high_vegetation_building_fraction", "building_fraction")

  /**
   * RSU-scale indicator table. `bu` = the building-indicator table (with
   * its `area`) WITH id_rsu attached; `rsu` = (id_rsu, the_geom). All
   * blocks gated by `indicatorUse` exactly like the reference. Every
   * building → RSU family aggregates `bu` in ONE checkpointed pass by id_rsu;
   * every spatial family reads the building × RSU pairs, built and
   * checkpointed once here.
   */
  def computeRsuIndicators(bu: DataFrame, rsu0: DataFrame,
                           road: Option[DataFrame], vegetation: Option[DataFrame],
                           water: Option[DataFrame], impervious: Option[DataFrame],
                           rail: Option[DataFrame],
                           indicatorUse: Seq[String],
                           svfSimplified: Boolean,
                           grid: CellGrid, res: Int,
                           facadeDensListLayersBottom: Seq[Double] = Seq(0, 10, 20, 30, 40, 50),
                           facadeDensNumberOfDirection: Int = 12,
                           angleRangeSizeBuDirection: Int = 15): DataFrame = {
    val uses = indicatorUse.map(_.toUpperCase)
    val utrf = uses.contains("UTRF"); val lcz = uses.contains("LCZ")
    val teb = uses.contains("TEB")
    val rsu = rsu0.select("id_rsu", "the_geom").localCheckpoint()
    val buGeom = bu.select("id_build", "the_geom", "height_wall", "height_roof")
    val pairs = RsuIndicators.unitPairs(buGeom, rsu, "id_rsu", grid, res).localCheckpoint()
    lazy val neighbours = RsuIndicators.buildingNeighbours(buGeom, grid, res).localCheckpoint()

    // -- building families, one aggregate over bu ---------------------------
    // type fractions (LCZ, TEB), free external facade density (LCZ || UTRF),
    // unweighted stats, weighted height stats (LCZ || UTRF) and building
    // direction (UTRF)
    import GenericIndicators._
    var ops = Map("floor_area" -> Seq[UnweightedOp](OpDens))
    if (lcz) ops = merge(ops, Map("height_roof" -> Seq(OpGeomAvg)))
    if (utrf) {
      ops = merge(ops, Map("volume" -> Seq(OpDens, OpAvg),
        "height_roof" -> Seq(OpGeomAvg),
        "number_building_neighbor" -> Seq(OpAvg),
        "minimum_building_spacing" -> Seq(OpAvg),
        "building" -> Seq(OpNbDens)))
      if (bu.columns.contains("pop")) ops = merge(ops, Map("pop" -> Seq(OpSum, OpDens)))
    }
    if (teb) ops = merge(ops, Map("height_roof" -> Seq(OpGeomAvg, OpAvg, OpStd)))
    val hasType = bu.columns.contains("type")
    val families = Seq(
      (lcz && hasType) -> typeProportion("type", LczTypeComposition),
      (teb && hasType) -> typeProportion("type", WorkflowRunner.TebTypeComposition,
        WorkflowRunner.TebTypeComposition),
      (lcz || utrf) -> RsuIndicators.freeExternalFacadeDensity,
      true -> unweightedOperationFromLowerScale("id_build",
        ops.filter { case (k, _) => k == "building" || bu.columns.contains(k) }),
      (lcz || utrf) -> weightedAggregatedStatistics(Seq(("height_roof", "area"), ("nb_lev", "area"))),
      utrf -> buildingDirectionDistribution(angleRangeSizeBuDirection))
      .collect { case (true, f) => f }
    val perRsu = perUnit(if (bu.columns.contains("nb_lev")) bu else bu.withColumn("nb_lev", lit(1)),
        rsu, "id_rsu")(families: _*)
      .withColumnRenamed("floor_area_density", "building_floor_area_density")
      .withColumnRenamed("volume_density", "building_volume_density")
      .drop("std_nb_lev_area_weighted")
      .localCheckpoint()
    var out = perRsu

    // -- surface fractions (smallestCommonGeometry + overlay) --------------
    def veg(cls: String) = vegetation.map(v =>
      if (v.columns.contains("height_class")) v.where(col("height_class") === cls) else v)
    val fractionLayers = Seq(
      "water" -> water, "building" -> Some(pairs),
      "high_vegetation" -> veg("high"), "low_vegetation" -> veg("low"),
      "rail" -> rail, "impervious" -> impervious)
      .collect { case (n, Some(df)) => n -> df }
    val priorities = WorkflowRunner.DefaultPriorities.filter(fractionLayers.map(_._1).contains)
    val superpos = WorkflowRunner.DefaultSuperpositions
      .map { case (k, vs) => k -> vs.filter(fractionLayers.map(_._1).contains) }
      .filter { case (k, vs) => fractionLayers.map(_._1).contains(k) && vs.nonEmpty }
    val scg = RsuIndicators.smallestCommonGeometry(rsu, fractionLayers, grid, res)
    val fractions = RsuIndicators.surfaceFractions(scg, rsu, superpos, priorities)
      .localCheckpoint()
    val fracCols = fractions.columns.toSet
    def comboSum(m: Map[String, Seq[String]]): Seq[Column] =
      m.toSeq.sortBy(_._1).map { case (name, parts) =>
        val present = parts.filter(fracCols)
        (if (present.isEmpty) lit(0.0) else present.map(col).reduce(_ + _)).as(name)
      }
    // building total fraction (LCZ || UTRF): input of the aspect ratio
    val bfCols = BuildingFractions.filter(fracCols)
    val totalFraction = (if (bfCols.isEmpty) lit(0.0) else bfCols.map(col).reduce(_ + _))
      .as("building_total_fraction")
    out = out.join(fractions.select(fractions.columns.filter(_ != "the_geom").map(col) ++
      (if (utrf) comboSum(UtrfSurfFraction) else Nil) ++
      (if (lcz) comboSum(LczSurfFraction) else Nil) ++
      (if (lcz || utrf) Seq(totalFraction) else Nil): _*), Seq("id_rsu"), "left")

    // -- rsu area (UTRF) ----------------------------------------------------
    if (utrf) out = out.withColumn("area", G.stArea(col("the_geom")))

    // -- building height distribution (TEB) --------------------------------
    if (teb) {
      val bounds = Seq(0.0, 5.0, 10.0, 15.0, 20.0, 25.0, 30.0, 35.0, 40.0, 45.0, 50.0)
        .sliding(2).collect { case Seq(a, b) => (a, b) }.toSeq
      out = out.join(RsuIndicators.roofFractionDistributionExact(rsu,
        pairs.withColumn("area", G.stIntersectionArea(col("unit_geom"), col("the_geom"))), bounds),
        Seq("id_rsu"), "left")
    }

    // -- road operations (UTRF || TEB) --------------------------------------
    if ((utrf || teb) && road.isDefined) {
      val roadOps = RsuIndicators.linearRoadOperations(rsu, road.get, 30, grid, res)
        .withColumnRenamed("linear_road_density", "ground_linear_road_density")
      val keep = if (teb) roadOps.columns.toSeq
        else Seq("id_rsu", "ground_linear_road_density")
      out = out.join(roadOps.select(keep.map(col): _*), Seq("id_rsu"), "left")
    }

    // -- roof area distribution (TEB) ---------------------------------------
    if (teb)
      out = out.join(RsuIndicators.roofAreaDistribution(rsu,
        bu.select("id_build", "id_rsu", "the_geom", "height_wall", "height_roof"), pairs, neighbours,
        facadeDensListLayersBottom), Seq("id_rsu"), "left")

    // -- projected facade area distribution (LCZ || TEB) --------------------
    val projDist: Option[DataFrame] =
      if (lcz || teb)
        Some(RsuIndicators.projectedFacadeAreaDistribution(
          buGeom, neighbours, pairs, rsu,
          facadeDensListLayersBottom, facadeDensNumberOfDirection).localCheckpoint())
      else None
    projDist.foreach(p => out = out.join(p, Seq("id_rsu"), "left"))

    // -- aspect ratio (LCZ || UTRF) -----------------------------------------
    if (lcz || utrf)
      out = out.join(RsuIndicators.aspectRatio(
        perRsu.select("id_rsu", "free_external_facade_density")
          .join(fractions.select(col("id_rsu"), totalFraction), Seq("id_rsu"), "left"),
        "free_external_facade_density", "building_total_fraction"), Seq("id_rsu"), "left")

    // -- sky view factor (LCZ) ----------------------------------------------
    if (lcz) {
      val svf =
        if (svfSimplified)
          RsuIndicators.extendedFreeFacadeFraction(
            bu.select("the_geom", "height_wall", "contiguity", "total_facade_length"),
            rsu, 10.0, grid, res)
            .select(col("id_rsu"),
              (lit(1.0) - col("extended_free_facade_fraction")).as("ground_sky_view_factor"))
        else Svf.groundSkyViewFactor(rsu, pairs, bu.select("the_geom", "height_wall"), grid, res)
      out = out.join(svf, Seq("id_rsu"), "left")
    }

    // -- effective terrain roughness (LCZ || TEB) ---------------------------
    if ((lcz || teb) && projDist.isDefined) {
      val facadeCols = projDist.get.columns.filter(
        _.startsWith("projected_facade_area_distribution_")).toSeq
      val z0 = RsuIndicators.effectiveTerrainRoughnessLength(
        projDist.get.join(perRsu.select("id_rsu", "the_geom", "geom_avg_height_roof"), "id_rsu"),
        facadeCols, "geom_avg_height_roof").localCheckpoint()
      out = out.join(z0, Seq("id_rsu"), "left")
      if (lcz)
        out = out.join(RsuIndicators.effectiveTerrainRoughnessClass(z0,
          "effective_terrain_roughness_length"), Seq("id_rsu"), "left")
    }

    out
  }

  private def merge(a: Map[String, Seq[GenericIndicators.UnweightedOp]],
                    b: Map[String, Seq[GenericIndicators.UnweightedOp]]) =
    (a.keySet ++ b.keySet).map { k =>
      k -> (a.getOrElse(k, Nil) ++ b.getOrElse(k, Nil)).distinct
    }.toMap

  // ---- gatherScales (GenericIndicators.groovy:824-978) --------------------

  private val BlockColToRemove =
    Set("the_geom", "id_rsu", "id_block", "main_building_direction")
  private val BuildColToRemove = Set("the_geom", "id_rsu", "id_build", "id_block",
    "id_zone", "nb_lev", "zindex", "main_use", "type", "roof_shape", "id_source")

  /**
   * Gather building+block+RSU indicator scales to the targeted scale
   * (RSU: AVG/STD of every building and block indicator per RSU, prefixed
   * build_/block_; BUILDING: each building row joined with its block's
   * (block_) and RSU's (rsu_) indicator columns).
   */
  def gatherScales(buildingIndics: DataFrame, blockIndics: DataFrame,
                   rsuIndics: DataFrame, targetedScale: String = "RSU"): DataFrame = {
    import GenericIndicators._
    val buildCols = buildingIndics.columns.filterNot(c => BuildColToRemove(c.toLowerCase)).toSeq
    val blockCols = blockIndics.columns.filterNot(c => BlockColToRemove(c.toLowerCase)).toSeq
    targetedScale.toUpperCase match {
      case "RSU" =>
        val rsuIds = rsuIndics.select("id_rsu")
        val buAgg = perUnit(buildingIndics, rsuIds, "id_rsu")(unweightedOperationFromLowerScale(
          "id_build", buildCols.map(c => c -> Seq[UnweightedOp](OpAvg, OpStd)).toMap))
        val buRenamed = buAgg.columns.foldLeft(buAgg) { (df, c) =>
          if (c == "id_rsu") df else df.withColumnRenamed(c, s"build_$c") }
        val blAgg = perUnit(blockIndics, rsuIds, "id_rsu")(unweightedOperationFromLowerScale(
          "id_block", blockCols.map(c => c -> Seq[UnweightedOp](OpAvg, OpStd)).toMap))
        val blRenamed = blAgg.columns.foldLeft(blAgg) { (df, c) =>
          if (c == "id_rsu") df else df.withColumnRenamed(c, s"block_$c") }
        rsuIndics.join(buRenamed, Seq("id_rsu"), "left")
          .join(blRenamed, Seq("id_rsu"), "left")
      case "BUILDING" =>
        val rsuCols = rsuIndics.columns.filterNot(c =>
          c == "id_rsu" || c == "the_geom").toSeq
        val rsuRenamed = rsuCols.foldLeft(rsuIndics.drop("the_geom")) { (df, c) =>
          df.withColumnRenamed(c, s"rsu_$c") }
        val blRenamed = blockCols.foldLeft(
          blockIndics.select(("id_block" +: blockCols).distinct.map(col): _*)) { (df, c) =>
          df.withColumnRenamed(c, s"block_$c") }
        buildingIndics
          .join(blRenamed, Seq("id_block"), "left")
          .join(rsuRenamed, Seq("id_rsu"), "left")
      case other => throw new IllegalArgumentException(s"unknown scale $other")
    }
  }

  // ---- UTRF typology (computeTypologyIndicators, :830-948) ----------------

  /** UTRF typology classes in correspondence-table order
    * (CORRESPONDENCE_TAB_UTRF, :788-789) — also the fixed distribution
    * column order (the reference's SELECT DISTINCT order is
    * nondeterministic, like the LCZ pivot). */
  val UtrfCorrespondence: Seq[String] = WorkflowRunner.UtrfClasses

  /**
   * Apply a trained UTRF random forest to the gathered building-scale table
   * and aggregate the typology to RSU scale — the reference's
   * `computeTypologyIndicators` UTRF branch (:830-948):
   *
   *  - building_utrf: per building the predicted typo name (argmax vote);
   *  - rsu_utrf_area / rsu_utrf_floor_area: per RSU the AREA (FLOOR_AREA)
   *    fraction of each PRESENT typo (`typo_<name>` columns, fractions of
   *    the per-RSU typo total like the reference's TYPO_x/(ΣTYPO)),
   *    plus the distribution characterization — uniqueness_value (NULL when
   *    the RSU has no classified building area), typo_maj / typo_second
   *    (prefix-stripped extremum columns, NULL in the same case).
   *
   * @param gathered  gatherScales(..., "BUILDING") output carrying id_build,
   *                  id_rsu and the forest's feature columns
   * @param forest    trained classification forest; class index i ↦
   *                  typoNames(i)
   */
  def computeTypologyIndicators(gathered: DataFrame, buildingIndics: DataFrame,
                                rsuIndics: DataFrame,
                                forest: graft.ml.RandomForest.Forest,
                                typoNames: Seq[String]): (DataFrame, DataFrame, DataFrame) = {
    import graft.ml.RandomForest
    val feats = forest.features.map(f => f -> col(f)).toMap
    val votes = RandomForest.classifyVoteColumns(forest, feats, typoNames.size)
    val buildingUtrf = gathered
      .withColumn("i_typo", RandomForest.argmaxColumn(votes, typoNames))
      .select("id_build", "id_rsu", "i_typo")
      .localCheckpoint() // read by both scale aggregations
    val present = UtrfCorrespondence.filter(
      buildingUtrf.select("i_typo").distinct().collect()
        .map(_.getString(0)).toSet) // one census feeds BOTH aggregations
    // No predicted typology at all (no buildings reach the classifier, or
    // every prediction falls outside UtrfCorrespondence): the reference's
    // aggregation degenerates to all-NULL characterization rows; without
    // this guard `aggs.head` / the `total` reduce below would throw at
    // plan-build time on the empty column list.
    def emptyAggregation: DataFrame =
      rsuIndics.select(col("id_rsu"), col("the_geom"),
        lit(null).cast("double").as("uniqueness_value"),
        lit(null).cast("string").as("typo_maj"),
        lit(null).cast("string").as("typo_second"))
    def rsuAggregation(valueCol: String): DataFrame = {
      if (present.isEmpty) return emptyAggregation
      val joined = buildingIndics
        .select(col("id_build"), col("id_rsu"), col(valueCol).as("__v"))
        .where(col("id_rsu").isNotNull)
        .join(buildingUtrf.select("id_build", "i_typo"), Seq("id_build"), "left")
      val aggs = present.map(t =>
        sum(when(col("i_typo") === t, col("__v")).otherwise(0.0)).as(s"typo_$t"))
      val sums = joined.groupBy("id_rsu").agg(aggs.head, aggs.tail: _*)
      val total = present.map(t => col(s"typo_$t")).reduce(_ + _)
      val tempo = rsuIndics.select("id_rsu", "the_geom")
        .join(sums, Seq("id_rsu"), "left")
        .select(col("id_rsu") +: col("the_geom") +: present.map(t =>
          coalesce(col(s"typo_$t") / total, lit(0.0)).as(s"typo_$t")): _*)
        .localCheckpoint() // characterization + final join both read it
      val characterized = GenericIndicators.distributionCharacterizationCols(
        tempo, present.map(t => s"typo_$t"), "id_rsu")
      val noData = col("uniqueness_value") === -1.0
      tempo.join(characterized.select(col("id_rsu"),
          when(noData, lit(null).cast("double"))
            .otherwise(col("uniqueness_value")).as("uniqueness_value"),
          when(noData, lit(null).cast("string"))
            .otherwise(lower(expr("substring(extremum_col, 6)"))).as("typo_maj"),
          when(noData, lit(null).cast("string"))
            .otherwise(lower(expr("substring(extremum_col2, 6)"))).as("typo_second")),
        Seq("id_rsu"), "left")
    }
    (buildingUtrf, rsuAggregation("area"), rsuAggregation("floor_area"))
  }

  // ---- building height estimation (estimateBuildingHeight, :1384-1520) ----

  /**
   * The height-estimation branch of computeAllGeoIndicators: run the
   * UTRF-gated chain, gather scales to BUILDING for the rows in
   * `buildingEstimate`, apply a trained height-regression forest, splice
   * the estimates back (estimated rows: wall/levels zeroed, roof replaced
   * — :1470-1480), then re-format EVERY building through
   * formatHeightsAndNbLevels(0, height_roof, 0, h_lev_min) exactly like
   * `formatEstimatedBuilding` (:2300-2341) — note the reference quirk,
   * replicated: the re-format passes heightWall=0 and nbLevels=0 for ALL
   * rows, so every building ends with height_wall = height_roof and
   * nb_lev = max(floor(height_roof/h_lev_min), 1), estimated or not.
   *
   * @param buildingEstimate ids of buildings whose height must be estimated
   * @param forest trained REGRESSION forest over gathered-scale features
   * @return (re-formatted building table, the without-height indicators)
   */
  def estimateBuildingHeight(spark: SparkSession, layers: WorkflowRunner.Layers,
                             buildingEstimate: DataFrame,
                             forest: graft.ml.RandomForest.Forest,
                             params: WorkflowConfig.Params,
                             grid: CellGrid, res: Int,
                             hLevMin: Double = 3.0): (DataFrame, AllIndicators) = {
    import graft.ml.RandomForest
    val all = computeAllGeoIndicators(spark, layers,
      params.copy(indicatorUse = Seq("UTRF")), grid, res)
    val bi = all.buildingIndicators
    // only buildings inside an RSU can be estimated (multi-scale features)
    val toEstimate = bi
      .join(buildingEstimate.select("id_build"), Seq("id_build"))
      .where(col("id_rsu").isNotNull)
    val gathered = gatherScales(toEstimate, all.blockIndicators.get,
      all.rsuIndicators, "BUILDING")
    val feats = forest.features.map(f => f -> col(f)).toMap
    val estimates = gathered.select(col("id_build"),
      RandomForest.regressColumn(forest, feats).as("__hr_rf"))
    def optCol(n: String): Column =
      if (bi.columns.contains(n)) col(n) else lit(null).cast("string")
    val spliced = bi.join(estimates, Seq("id_build"), "left")
      .select(col("the_geom"), col("id_build"), optCol("id_source").as("id_source"),
        coalesce(col("__hr_rf"), col("height_roof")).cast("double").as("height_roof"),
        optCol("type").as("type"), optCol("main_use").as("main_use"),
        (if (bi.columns.contains("zindex")) col("zindex") else lit(0)).as("zindex"),
        col("id_block"), col("id_rsu"))
    // formatEstimatedBuilding: formatHeightsAndNbLevels(0, roof, 0, h_lev_min)
    val formatted = spliced.withColumn("__f",
      graft.sources.OsmFormatting.formatHeights(lit(0.0),
        coalesce(col("height_roof"), lit(0.0)), lit(0), hLevMin,
        col("type"), Map.empty))
      .select(col("the_geom"), col("id_build"), col("id_source"),
        col("__f.height_wall").as("height_wall"),
        col("__f.height_roof").as("height_roof"),
        col("__f.nb_lev").as("nb_lev"),
        col("type"), col("main_use"), col("zindex"), col("id_block"), col("id_rsu"))
    (formatted, all)
  }

  // ---- the full chain -----------------------------------------------------

  /**
   * computeAllGeoIndicators (without height estimation): spatial units →
   * building/block/RSU indicator tables → LCZ classification. UTRF RF
   * application composes over [[gatherScales]] + ml.RandomForest exactly as
   * the driver's `utrf_classify` query does (the trained model is an input).
   */
  def computeAllGeoIndicators(spark: SparkSession, layers: WorkflowRunner.Layers,
                              params: WorkflowConfig.Params,
                              grid: CellGrid, res: Int,
                              lakeRoot: Option[String] = None): AllIndicators = {
    // north-rule resume: with a lake root every per-scale indicator table
    // commits through Lake.stage (per-partition lineage + metrics, atomic
    // manifest) and a second run reads the snapshots back instead of
    // recomputing — same contract as WorkflowRunner.run's staged chain
    def staged(name: String)(f: => DataFrame): DataFrame =
      lakeRoot.fold(f)(root => graft.lake.Lake.stage(spark, root, name)(f))
    val uses = if (params.indicatorUse.nonEmpty) params.indicatorUse
      else Seq("LCZ", "UTRF", "TEB")
    // spatial units
    val mesh = SpatialUnits.prepareTSUData(layers.zone, layers.road, layers.rail,
      layers.vegetation, layers.water, layers.seaLandMask, layers.urbanAreas,
      params.surfaceVegetation, params.surfaceHydro, params.surfaceUrbanAreas,
      grid, res).withColumn("id_zone", lit(1))
    val rsu = SpatialUnits.createTSU(mesh, "id_zone", "the_geom").localCheckpoint()
    val blocks = ConnectedComponents.createBlocks(layers.building, grid, res)
      .localCheckpoint()
    val blockRel = blocks.select(col("id_block"), explode(col("id_builds")).as("id_build"))
    val rsuRel = SpatialJoin.assignMaxOverlap(layers.building, "id_build", "the_geom",
      rsu.select("id_rsu", "the_geom"), "id_rsu", "the_geom", grid, res)
    // building indicators (with relations attached)
    val bInd = staged("building_indicators_full") {
      computeBuildingsIndicators(layers.building, layers.road, uses, grid, res)
        .join(blockRel, Seq("id_build"), "left")
        .join(rsuRel, Seq("id_build"), "left")
    }.localCheckpoint()
    // block indicators (UTRF only, like the reference)
    val blkRsuRel = SpatialJoin.assignMaxOverlap(blocks, "id_block", "the_geom",
      rsu.select("id_rsu", "the_geom"), "id_rsu", "the_geom", grid, res)
    val blkInd =
      if (uses.map(_.toUpperCase).contains("UTRF"))
        Some(staged("block_indicators_full") {
          computeBlockIndicators(bInd, blocks.select("id_block", "the_geom"))
            .join(blkRsuRel, Seq("id_block"), "left")
        }.localCheckpoint())
      else None
    // RSU indicators
    val rsuInd = staged("rsu_indicators_full") {
      computeRsuIndicators(bInd.where(col("id_rsu").isNotNull), rsu,
        layers.road, layers.vegetation, layers.water, layers.impervious, layers.rail,
        uses, params.svfSimplified, grid, res)
    }.localCheckpoint()
    // LCZ typology (computeTypologyIndicators :799-829)
    val rsuLcz =
      if (uses.map(_.toUpperCase).contains("LCZ")) {
        val lczIndics = rsuInd.select(col("id_rsu"),
          col("ground_sky_view_factor").as("sky_view_factor"),
          col("aspect_ratio"),
          col("building_fraction_lcz").as("building_surface_fraction"),
          col("impervious_fraction_lcz").as("impervious_surface_fraction"),
          col("pervious_fraction_lcz").as("pervious_surface_fraction"),
          col("geom_avg_height_roof").as("height_of_roughness_elements"),
          col("effective_terrain_roughness_length").as("terrain_roughness_length"))
        Some(Lcz.identifyLczType(lczIndics, rsuInd, params.mapOfWeights))
      } else None
    AllIndicators(bInd, blkInd, rsuInd, rsuLcz)
  }
}
