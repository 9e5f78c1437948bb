package graft.workflow

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.CellGrid
import graft.indicators.{BuildingIndicators, GenericIndicators, RoadIndicators}
import graft.lake.Lake
import graft.operators.{ConnectedComponents, SpatialJoin, SpatialUnits, Tiling}

/**
 * Config-gated workflow runner — the chain half of the reference's
 * `computeAllGeoIndicators` entry (WorkflowOSM.groovy:143 →
 * WorkflowGeoIndicators.groovy:1237-1373, SURVEY §3.3): a
 * [[WorkflowConfig.Params]] drives which stages run, with the reference's
 * per-zone execution model (one zone per call, zones parallelize as
 * separate runs — WorkflowOSM.groovy:394 `id_zones.each`).
 *
 * Stages (each a `DataFrame`, optionally persisted through [[Lake.stage]]
 * for the north-rule resume semantics when `lakeRoot` is given):
 *   tsu_mesh → tsu → blocks → building↔TSU relation → building indicators
 *   → RSU aggregates; plus the config-gated extras: road traffic
 *   (`params.roadTraffic`) and the analysis grid (`params.gridIndicators`).
 * LCZ/UTRF/TARGET gating is exposed via `params.compute*`; their indicator
 * pipelines are the per-operator entries this engine already ships
 * (Lcz.identifyLczType, ml.RandomForest) — callers compose them over the
 * `rsuStats` output exactly as the driver queries do.
 */
object WorkflowRunner {

  final case class Layers(zone: DataFrame,
                          building: DataFrame,
                          road: Option[DataFrame] = None,
                          rail: Option[DataFrame] = None,
                          vegetation: Option[DataFrame] = None,
                          water: Option[DataFrame] = None,
                          seaLandMask: Option[DataFrame] = None,
                          urbanAreas: Option[DataFrame] = None,
                          impervious: Option[DataFrame] = None)

  final case class Results(mesh: DataFrame, tsu: DataFrame, blocks: DataFrame,
                          buildingTsu: DataFrame, buildingIndicators: DataFrame,
                          rsuStats: DataFrame, roadTraffic: Option[DataFrame],
                          grid: Option[DataFrame])

  def run(spark: SparkSession, params: WorkflowConfig.Params, layers: Layers,
          grid: CellGrid, res: Int, zoneId: Int = 1,
          lakeRoot: Option[String] = None,
          extendedZone: Option[DataFrame] = None): Results = {
    def staged(name: String)(f: => DataFrame): DataFrame =
      lakeRoot.fold(f)(root => Lake.stage(spark, root, name)(f))

    val mesh = staged("tsu_mesh") {
      SpatialUnits.prepareTSUData(layers.zone, layers.road, layers.rail,
        layers.vegetation, layers.water, layers.seaLandMask, layers.urbanAreas,
        surfaceVegetation = params.surfaceVegetation,
        surfaceHydro = params.surfaceHydro,
        surfaceUrbanAreas = params.surfaceUrbanAreas, grid, res)
        .withColumn("id_zone", lit(zoneId))
    }
    val tsu = staged("tsu")(SpatialUnits.createTSU(mesh, "id_zone", "the_geom"))
    val blocks = staged("blocks") {
      // blocks table re-expressed relationally for the lake (id_build list
      // explodes to rows; the CC label is the stable block id)
      ConnectedComponents.createBlocks(layers.building, grid, res)
        .select(col("id_block"), explode(col("id_builds")).as("id_build"))
    }
    val rel = staged("building_tsu") {
      SpatialJoin.assignMaxOverlap(layers.building, "id_build", "the_geom",
        tsu.select(col("id_rsu"), col("the_geom")), "id_rsu", "the_geom", grid, res)
    }
    val bInd = staged("building_indicators") {
      BuildingIndicators.sizeProperties(layers.building)
        .join(BuildingIndicators.formProperties(layers.building), "id_build")
        .join(BuildingIndicators.neighborsProperties(layers.building, grid, res)
          .select("id_build", "contiguity", "number_building_neighbor"), "id_build")
    }
    val rsuStats = staged("rsu_stats") {
      GenericIndicators.perUnit(bInd.join(rel, "id_build"), tsu.select(col("id_rsu")), "id_rsu")(
        GenericIndicators.unweightedOperationFromLowerScale("id_build",
          Map("volume" -> Seq(GenericIndicators.OpAvg, GenericIndicators.OpSum))))
    }
    val traffic = // gated by config AND the presence of a road layer (the
      // reference computes traffic only when the road table exists)
      if (params.roadTraffic)
        layers.road.map(r => staged("road_traffic")(RoadIndicators.buildRoadTraffic(r)))
      else None
    val gridDf = params.gridIndicators.map { g =>
      staged("grid") {
        // Grid domain + mode (WorkflowOSM.groovy:596-615): the envelope
        // comes from the zone or, when `domain: zone_extended` and an
        // extended-bbox table is supplied (ZoneExtract), from that table.
        // `rowCol: true` interprets x/y_size as CELL COUNTS (createGrid
        // rowCol mode); `rowCol: false` keeps them as fixed cell sizes in
        // meters (cells may overhang the envelope); rowCol ABSENT converts
        // sizes to counts via max(ceil(extent/size),1) and forces count
        // mode (WorkflowOSM.groovy:606-612) — cells then have size
        // extent/count and exactly tile the envelope.
        val domainLayer =
          if (g.domain.contains("zone_extended")) extendedZone.getOrElse(layers.zone)
          else layers.zone
        val env = domainLayer
          .agg(min(graft.geom.GeoFunctions.stXMin(col("the_geom"))).as("x0"),
            min(graft.geom.GeoFunctions.stYMin(col("the_geom"))).as("y0"),
            max(graft.geom.GeoFunctions.stXMax(col("the_geom"))).as("x1"),
            max(graft.geom.GeoFunctions.stYMax(col("the_geom"))).as("y1"))
          .head()
        val (x0, y0, x1, y1) =
          (env.getDouble(0), env.getDouble(1), env.getDouble(2), env.getDouble(3))
        g.rowCol match {
          case Some(true) =>
            Tiling.makeGridByCount(spark, x0, y0, x1, y1, g.xSize.toLong, g.ySize.toLong)
          case Some(false) =>
            Tiling.makeGrid(spark, x0, y0, x1, y1, g.xSize.toDouble, g.ySize.toDouble)
          case None =>
            val nCols = math.max(math.ceil((x1 - x0) / g.xSize).toLong, 1L)
            val nRows = math.max(math.ceil((y1 - y0) / g.ySize).toLong, 1L)
            Tiling.makeGridByCount(spark, x0, y0, x1, y1, nCols, nRows)
        }
      }
    }
    Results(mesh, tsu, blocks, rel, bInd, rsuStats, traffic, gridDf)
  }

  /** LCZ class ids in the reference's correspondence-map order
    * (WorkflowGeoIndicators.groovy:1809) — also the pivot-column order the
    * grid LCZ aggregation characterizes over (fixing the reference's
    * nondeterministic SELECT DISTINCT ordering). */
  val LczCorrespondence: Seq[Int] =
    Seq(1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 101, 102, 103, 104, 105, 106, 107)

  /** Default overlay config for the grid surface fractions —
    * rasterizeIndicators' defaults (WorkflowGeoIndicators.groovy:1734-1735),
    * with the single `water` layer of our abstract model standing in for
    * water_permanent/water_intermittent. */
  val DefaultSuperpositions: Map[String, Seq[String]] =
    Map("high_vegetation" -> Seq("water", "building", "low_vegetation",
      "rail", "road", "impervious"))
  val DefaultPriorities: Seq[String] =
    Seq("water", "building", "high_vegetation", "low_vegetation", "road", "impervious")

  /** Reference UTRF typology classes (Urban Typology by Random Forest). */
  val UtrfClasses: Seq[String] =
    Seq("ba", "bgh", "icif", "icio", "id", "local", "pcif", "pcio", "pd", "psc")

  /** TEB building-type composition (WorkflowGeoIndicators.groovy:326-385,
    * buildingAreaTypeAndCompositionTeb / floorAreaTypeAndCompositionTeb —
    * identical maps). Configuration data transcribed for behavioral parity. */
  val TebTypeComposition: Map[String, Seq[String]] = Map(
    "undefined" -> Seq("building", "undefined"),
    "individual_housing" -> Seq("house", "detached", "bungalow", "farm", "villa", "terrace", "cabin"),
    "collective_housing" -> Seq("apartments", "barracks", "abbey", "dormitory",
      "sheltered_housing", "workers_dormitory", "condominium"),
    "undefined_residential" -> Seq("residential"),
    "commercial" -> Seq("commercial", "internet_cafe", "money_transfer", "pharmacy",
      "post_office", "cinema", "arts_centre", "brothel", "casino", "sustenance", "hotel",
      "restaurant", "bar", "cafe", "fast_food", "ice_cream", "pub", "aquarium"),
    "tertiary" -> Seq("government", "townhall", "retail", "gambling", "music_venue",
      "nightclub", "shop", "store", "supermarket", "office", "terminal", "airport_terminal",
      "bank", "bureau_de_change", "boat_rental", "car_rental", "research_institute",
      "community_centre", "conference_centre", "events_venue", "exhibition_centre",
      "social_centre", "studio", "theatre", "library", "healthcare",
      "entertainment_arts_culture", "hospital", "information", "civic"),
    "education" -> Seq("education", "swimming-pool", "fitness_centre", "sports_centre",
      "college", "kindergarten", "school", "university", "museum", "gallery"),
    "light_industrial" -> Seq("industrial", "factory", "warehouse", "port", "manufacture"),
    "heavy_industrial" -> Seq("refinery"),
    "non_heated" -> Seq("silo", "barn", "cowshed", "ruins", "church", "chapel", "military",
      "castle", "monument", "fortress", "synagogue", "mosquee", "musalla", "shrine",
      "cathedral", "agricultural", "farm_auxiliary", "digester", "horse_riding", "stadium",
      "track", "pitch", "ice_rink", "sports_hall", "ammunition", "bunker", "casemate",
      "shelter", "religious", "place_of_worship", "wayside_shrine", "station", "stable",
      "sty", "greenhouse", "kiosk", "marketplace", "marker", "warehouse", "planetarium",
      "fire_station", "water_tower", "grandstand", "transportation", "toll_booth", "hut",
      "shed", "garage", "service", "storage_tank", "slurry_tank"))

  private def ren(df: DataFrame, from: String, to: String): DataFrame =
    df.withColumnRenamed(from, to)

  /**
   * rasterizeIndicators — the FULL dispatch of
   * WorkflowGeoIndicators.groovy:1732-2227: every requested grid indicator
   * is computed onto the analysis grid and joined on `id_grid`, gated
   * exactly like the reference (an indicator only runs when requested AND
   * its input layer exists). Implemented blocks:
   *
   *  - LCZ_FRACTION / LCZ_PRIMARY (+ secondary/uniqueness/equality/
   *    min_distance) from the RSU-scale LCZ layer via the zonal pivot +
   *    per-row distribution characterization (:1777-1843); COUNT_WARM_N
   *    windows over the classified grid (:1830-1840);
   *  - UTRF_AREA_FRACTION / UTRF_FLOOR_AREA_FRACTION pivots (:1845-1860);
   *  - surface fractions via smallestCommonGeometry + surfaceFractions with
   *    the grid as upper scale (:1872-1910), run when LAND_TYPE_FRACTION or
   *    any fraction-consuming indicator is requested;
   *  - BUILDING_HEIGHT AVG/STD + GEOM_AVG (HEIGHT_OF_ROUGHNESS_ELEMENTS /
   *    TERRAIN_ROUGHNESS) over the all-intersections building↔cell relation
   *    (:1930-1941, the reference's spatialJoin(nbRelations=null));
   *  - BUILDING_NUMBER: building + block number densities over CUT
   *    buildings (:1946-1977); BUILDING_DIRECTION (:1981-1987);
   *    BUILDING_HEIGHT_WEIGHTED / STREET_WIDTH weighted stats (:1989-1997);
   *  - BUILDING_TYPE_FRACTION with the TEB composition maps (:2001-2012);
   *  - FREE_EXTERNAL_FACADE_DENSITY (exact, snap-tolerant) + ASPECT_RATIO +
   *    STREET_WIDTH + BUILDING_SURFACE_DENSITY (:2015-2085), including the
   *    reference's total-building-fraction (building_fraction +
   *    high_vegetation_building_fraction) input to aspect ratio and BSD;
   *  - BUILDING_HEIGHT_DISTRIBUTION = roofFractionDistributionExact on cut
   *    buildings (:2088-2098); FRONTAL_AREA_INDEX distribution (:2100-2112);
   *  - SEA_LAND_FRACTION with the reference's empty-mask / no-sea special
   *    cases (:2114-2160);
   *  - SVF (exact ground sky view factor, :2148-2160);
   *  - TERRAIN_ROUGHNESS (frontal-area index λf → Hanna&Britter z0 →
   *    Davenport class) and PROJECTED_FACADE_DENSITY_DIR (:2162-2210) —
   *    built on the consistent per-area frontal-area INDEX columns (the
   *    reference's distributionAsIndex=false branch mixes normalized and
   *    raw units across layers; we keep index units throughout and note the
   *    divergence here).
   */
  def rasterizeIndicators(layers: Layers, cells0: DataFrame, inds0: Seq[String],
                          grid: CellGrid, res: Int,
                          rsuLcz: Option[DataFrame] = None,
                          rsuUtrfArea: Option[DataFrame] = None,
                          rsuUtrfFloorArea: Option[DataFrame] = None,
                          superpositions: Map[String, Seq[String]] = DefaultSuperpositions,
                          priorities: Seq[String] = DefaultPriorities,
                          typeComposition: Map[String, Seq[String]] = TebTypeComposition,
                          floorTypeComposition: Map[String, Seq[String]] = TebTypeComposition,
                          utrfClasses: Seq[String] = UtrfClasses): DataFrame = {
    import graft.geom.{GeoFunctions => G}
    import graft.indicators.{GridIndicators, RsuIndicators}
    val cells = cells0.localCheckpoint() // joined against many times
    // building × cell pairs (the reference's all-intersections relation),
    // read by every building family below; ids + attrs + both geometries
    val cellGeoms = cells.select("id_grid", "the_geom")
    lazy val pairs = RsuIndicators.unitPairs(layers.building, cellGeoms, "id_grid", grid, res)
      .localCheckpoint()
    def pairsAsRsu = pairs.select(col("id_build"), col("id_grid").as("id_rsu"), col("the_geom"),
      col("unit_geom"), col("height_wall"))
    val inds = inds0.map(_.trim.toUpperCase)
    val warmSizes = inds.collect {
      case s if s.startsWith("COUNT_WARM_") => s.stripPrefix("COUNT_WARM_").toInt
    }
    var out = cells
    def join(df: DataFrame): Unit = { out = out.join(df, Seq("id_grid"), "left") }

    // ---- LCZ aggregation (:1777-1843) -------------------------------------
    val lczDriven = Set("LCZ_FRACTION", "LCZ_PRIMARY", "URBAN_SPRAWL_AREAS",
      "URBAN_SPRAWL_DISTANCES", "URBAN_SPRAWL_COOL_DISTANCES")
    if ((inds.exists(lczDriven) || warmSizes.nonEmpty) && rsuLcz.isDefined) {
      val classes = LczCorrespondence.map(_.toString)
      val lczFrac = Tiling.zonalAreaStats(cells, "id_grid", "the_geom",
        rsuLcz.get.select(col("the_geom"), col("lcz_primary").cast("string").as("__lcz")),
        "the_geom", "__lcz", classes, grid, res,
        prefix = "lcz_primary_", emptyAsNull = true)
        .select(col("id_grid") +: classes.map(c => col(s"lcz_primary_$c")): _*)
        .localCheckpoint() // feeds the fraction join AND the characterization
      join(lczFrac)
      if (inds.contains("LCZ_PRIMARY")) {
        val cols = classes.map(c => s"lcz_primary_$c")
        val intOf = (name: Column) => { // 'lcz_primary_<n>' -> n, 'unknown' -> null
          val suffix = regexp_replace(name, "^lcz_primary_", "")
          when(name === "unknown", lit(null).cast("int")).otherwise(suffix.cast("int"))
        }
        val characterized = GenericIndicators
          .distributionCharacterizationCols(lczFrac, cols, "id_grid")
          .select(col("id_grid"),
            intOf(col("extremum_col")).as("lcz_primary"),
            intOf(col("extremum_col2")).as("lcz_secondary"),
            col("extremum_val").as("min_distance"), // reference's rename quirk
            col("uniqueness_value").as("lcz_uniqueness_value"),
            col("equality_value").as("lcz_equality_value"))
          .localCheckpoint()
        join(characterized)
        if (warmSizes.nonEmpty) {
          val cellsLcz = cells.select("id_grid", "id_row", "id_col")
            .join(characterized.select("id_grid", "lcz_primary"), Seq("id_grid"), "left")
          join(GridIndicators.gridCountCellsWarm(cellsLcz, "lcz_primary", warmSizes))
        }
      }
    }

    // ---- UTRF pivots (:1845-1860) -----------------------------------------
    def utrfPivot(layer: DataFrame, alias: String): DataFrame =
      Tiling.zonalAreaStats(cells, "id_grid", "the_geom",
        layer.select(col("the_geom"), col("typo_maj").cast("string").as("__t")),
        "the_geom", "__t", utrfClasses, grid, res,
        prefix = s"${alias}_", emptyAsNull = true)
        .select(col("id_grid") +: utrfClasses.map(c => col(s"${alias}_$c")): _*)
    if (inds.contains("UTRF_AREA_FRACTION") && rsuUtrfArea.isDefined)
      join(utrfPivot(rsuUtrfArea.get, "area_typo_maj"))
    if (inds.contains("UTRF_FLOOR_AREA_FRACTION") && rsuUtrfFloorArea.isDefined)
      join(utrfPivot(rsuUtrfFloorArea.get, "floor_area_typo_maj"))

    // ---- surface fractions on the grid (:1872-1910) -----------------------
    val needsFractions = inds.exists(Set("LAND_TYPE_FRACTION",
      "BUILDING_SURFACE_DENSITY", "ASPECT_RATIO",
      "FREE_EXTERNAL_FACADE_DENSITY", "STREET_WIDTH"))
    lazy val fractionLayers: Seq[(String, DataFrame)] = {
      def veg(cls: String) = layers.vegetation.map(v =>
        if (v.columns.contains("height_class")) v.where(col("height_class") === cls) else v)
      Seq("water" -> layers.water,
        "building" -> Some(pairsAsRsu),
        "high_vegetation" -> veg("high"),
        "low_vegetation" -> veg("low"),
        "rail" -> layers.rail,
        "road" -> None, // line layer: no interior to flag in the overlay
        "impervious" -> layers.impervious)
        .collect { case (n, Some(df)) if priorities.contains(n) => n -> df }
    }
    val fractions: Option[DataFrame] =
      if (needsFractions && fractionLayers.nonEmpty) {
        val present = fractionLayers.map(_._1)
        val prio = priorities.filter(present.contains)
        val sup = superpositions.collect { case (k, vs) if present.contains(k) =>
          k -> vs.filter(present.contains) }.filter(_._2.nonEmpty)
        val scg = RsuIndicators.smallestCommonGeometry(
          ren(cells.select("id_grid", "the_geom"), "id_grid", "id_rsu"),
          fractionLayers, grid, res)
        Some(ren(RsuIndicators.surfaceFractions(scg,
          ren(cells.select("id_grid", "the_geom"), "id_grid", "id_rsu"), sup, prio),
          "id_rsu", "id_grid").localCheckpoint())
      } else None
    if (inds.contains("LAND_TYPE_FRACTION")) fractions.foreach(join)

    // ---- unweighted building stats over the all-intersections relation ----
    import GenericIndicators._
    val needUnweighted = scala.collection.mutable.LinkedHashSet.empty[UnweightedOp]
    if (inds.contains("BUILDING_HEIGHT")) { needUnweighted += OpAvg; needUnweighted += OpStd }
    if (inds.exists(Set("HEIGHT_OF_ROUGHNESS_ELEMENTS", "TERRAIN_ROUGHNESS")))
      needUnweighted += OpGeomAvg
    val buildingStats: Option[DataFrame] =
      if (needUnweighted.nonEmpty) {
        Some(perUnit(pairs, cellGeoms, "id_grid")(unweightedOperationFromLowerScale("id_build",
          Map("height_roof" -> needUnweighted.toSeq))).drop("the_geom").localCheckpoint())
      } else None
    buildingStats.foreach(join)

    // ---- cut-building families, one aggregate over the cut (:1946-2012) ---
    val needsWeighted = inds.exists(Set("BUILDING_HEIGHT_WEIGHTED", "STREET_WIDTH"))
    val cutFamilies = Seq(
      inds.contains("BUILDING_NUMBER") ->
        unweightedOperationFromLowerScale("id_build", Map("building" -> Seq(OpNbDens))),
      inds.contains("BUILDING_DIRECTION") -> buildingDirectionDistribution(angleRangeSize = 30),
      needsWeighted -> weightedAggregatedStatistics(Seq(("height_roof", "area"))),
      (inds.contains("BUILDING_TYPE_FRACTION") && layers.building.columns.contains("type")) ->
        typeProportion("type", typeComposition, floorTypeComposition))
      .collect { case (true, f) => f }
    // cutBuilding (:2290-2320): the pairs with a non-empty polygonal clip,
    // contained buildings kept whole, plus the piece `area`
    lazy val cut = pairs
      .withColumn("the_geom",
        when(G.stContains(col("unit_geom"), col("the_geom")), col("the_geom"))
          .otherwise(G.stCollectionExtractPolygons(G.stIntersection(col("unit_geom"), col("the_geom")))))
      .where(!G.stIsEmpty(col("the_geom")))
      .withColumn("area", G.stArea(col("the_geom")))
      .localCheckpoint()
    // checkpointed when the weighted stats also feed STREET_WIDTH
    val perCell: Option[DataFrame] = if (cutFamilies.isEmpty) None else Some {
      val agg = perUnit(if (cut.columns.contains("nb_lev")) cut else cut.withColumn("nb_lev", lit(1)),
        cellGeoms, "id_grid")(cutFamilies: _*).drop("the_geom")
      if (needsWeighted) agg.localCheckpoint() else agg
    }
    perCell.foreach { c => // STREET_WIDTH alone reads the weighted stats but emits none
      val keep = c.columns.filter(n => inds.contains("BUILDING_HEIGHT_WEIGHTED") ||
        !Set("avg_height_roof_area_weighted", "std_height_roof_area_weighted")(n))
      if (keep.length > 1) join(c.select(keep.map(col): _*))
    }
    if (inds.contains("BUILDING_NUMBER")) {
      // piece ids must be DETERMINISTIC (CC labels are min-over-component of
      // them, and the vertices/edges scans must agree): hash the natural key
      val blocksCut = ConnectedComponents.createBlocks(cut
          .select(xxhash64(col("id_build"), col("id_grid")).as("id_build"), col("the_geom")),
        grid, res)
      val blockRel = SpatialJoin.intersectsJoin(
          blocksCut.select(col("id_block"), col("the_geom").as("__blk")), "__blk",
          cells.select(col("id_grid"), col("the_geom").as("__cg")), "__cg", grid, res)
      join(perUnit(blockRel, cellGeoms, "id_grid")(unweightedOperationFromLowerScale("id_block",
        Map("block" -> Seq(OpNbDens)))).drop("the_geom"))
    }

    // ---- exact facade density + aspect ratio + street width + BSD ---------
    if (inds.exists(Set("FREE_EXTERNAL_FACADE_DENSITY", "ASPECT_RATIO",
        "BUILDING_SURFACE_DENSITY", "STREET_WIDTH"))) {
      val fefd = RsuIndicators.freeExternalFacadeDensityExact(pairs, cells.select("id_grid"),
        "id_grid", grid, res).localCheckpoint()
      if (inds.exists(Set("FREE_EXTERNAL_FACADE_DENSITY", "ASPECT_RATIO", "STREET_WIDTH")))
        join(fefd)
      // total building fraction (building + superposed building) — :2049-2060
      val fracCols = fractions.map(_.columns.toSet).getOrElse(Set.empty)
      val buildFrac: Option[(DataFrame, Column)] = fractions.map { f =>
        val base = col("building_fraction")
        val total = superpositions.collectFirst {
          case (k, vs) if vs.contains("building") && fracCols(s"${k}_building_fraction") =>
            base + col(s"${k}_building_fraction")
        }.getOrElse(base)
        (f, total)
      }
      if (inds.exists(Set("ASPECT_RATIO", "STREET_WIDTH")) && buildFrac.isDefined) {
        val (f, totalFrac) = buildFrac.get
        val forAr = f.withColumn("__bf", totalFrac)
          .join(fefd, Seq("id_grid"))
        val ar = RsuIndicators.aspectRatio(forAr,
          "free_external_facade_density", "__bf", "id_grid").localCheckpoint()
        join(ar)
        if (inds.contains("STREET_WIDTH")) {
          val forSw = perCell.get.join(ar, Seq("id_grid"))
          join(RsuIndicators.streetWidth(forSw,
            "avg_height_roof_area_weighted", "aspect_ratio", "id_grid"))
        }
      }
      if (inds.contains("FREE_EXTERNAL_FACADE_DENSITY") &&
          inds.contains("BUILDING_SURFACE_DENSITY") && buildFrac.isDefined) {
        val (f, totalFrac) = buildFrac.get
        val forBsd = f.withColumn("__bf", totalFrac).join(fefd, Seq("id_grid"))
        join(RsuIndicators.buildingSurfaceDensity(forBsd,
          "__bf", "free_external_facade_density", "id_grid"))
      }
    }

    // ---- roof height distribution on cut buildings (:2088-2098): each cut
    // piece lies in its own cell and only touches its neighbours, so its
    // `area` is its roof area there ----------------------------------------
    if (inds.contains("BUILDING_HEIGHT_DISTRIBUTION")) {
      val bounds = Seq(0.0, 5.0, 10.0, 15.0, 20.0, 25.0, 30.0, 35.0, 40.0, 45.0, 50.0)
        .sliding(2).collect { case Seq(a, b) => (a, b) }.toSeq
      join(ren(RsuIndicators.roofFractionDistributionExact(ren(cells.select("id_grid"), "id_grid", "id_rsu"),
        cut.select(col("id_grid").as("id_rsu"), col("height_roof"), col("area")), bounds), "id_rsu", "id_grid"))
    }

    // ---- frontal area index distribution (:2100-2112) ---------------------
    if (inds.contains("FRONTAL_AREA_INDEX"))
      join(ren(RsuIndicators.frontalAreaIndexDistribution(pairsAsRsu,
        ren(cellGeoms, "id_grid", "id_rsu"), grid, res,
        Seq(0, 5, 10, 15, 20, 25, 30, 35, 40, 45, 50), 12), "id_rsu", "id_grid"))

    // ---- sea/land fractions (:2114-2160) ----------------------------------
    if (inds.contains("SEA_LAND_FRACTION") && layers.seaLandMask.isDefined) {
      val mask = layers.seaLandMask.get
      val nByType = mask.groupBy("type").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      if (nByType.isEmpty) {
        out = out.withColumn("land_fraction", lit(1.0))
          .withColumn("sea_fraction", lit(0.0))
      } else if (nByType.getOrElse("sea", 0L) == 0L) {
        out = out.withColumn("land_fraction", lit(1.0))
      } else {
        // the reference tesselates purely to speed H2 up; fractions are
        // identical on the raw polygons with the cell-equijoin
        join(Tiling.zonalAreaStats(cells, "id_grid", "the_geom",
          mask.select(col("the_geom"), col("type")), "the_geom", "type",
          Seq("land", "sea"), grid, res, prefix = "__slf_", emptyAsNull = true)
          .select(col("id_grid"), col("__slf_land").as("land_fraction"),
            col("__slf_sea").as("sea_fraction")))
      }
    }

    // ---- exact SVF (:2148-2160) -------------------------------------------
    if (inds.contains("SVF"))
      join(ren(graft.indicators.Svf.groundSkyViewFactor(
        ren(cellGeoms, "id_grid", "id_rsu"), pairsAsRsu,
        layers.building.select("the_geom", "height_wall"), grid, res),
        "id_rsu", "id_grid")
        .withColumnRenamed("ground_sky_view_factor", "svf"))

    // ---- terrain roughness + directional facade density (:2162-2210) ------
    if (inds.exists(Set("TERRAIN_ROUGHNESS", "PROJECTED_FACADE_DENSITY_DIR"))) {
      val bottoms = Seq(0.0, 10.0, 20.0, 30.0, 40.0, 50.0)
      val nDir = 12
      val fai = ren(RsuIndicators.frontalAreaIndexDistribution(pairsAsRsu,
        ren(cellGeoms, "id_grid", "id_rsu"), grid, res, bottoms, nDir), "id_rsu", "id_grid")
        .localCheckpoint()
      val faiCols = fai.columns.filter(_.startsWith("frontal_area_index_")).toSeq
      if (inds.contains("PROJECTED_FACADE_DENSITY_DIR")) {
        // FAI columns are already per-cell-area indices: the per-direction
        // density is their plain sum across height layers
        val dirs = faiCols.map(_.replaceAll(".*_d", "d")).distinct
        join(fai.select(col("id_grid") +: dirs.map { d =>
          faiCols.filter(_.endsWith("_" + d)).map(col).reduce(_ + _)
            .as(s"projected_facade_density_dir_$d")
        }: _*))
      }
      if (inds.contains("TERRAIN_ROUGHNESS") && buildingStats.isDefined) {
        val nDirGroups = faiCols.map(_.replaceAll(".*_d", "")).distinct.size
        // λf = Σ fai / nDir-groups (already normalized by cell area), then
        // Hanna&Britter z0 (RsuIndicators.effectiveTerrainRoughnessLength
        // math) and the Davenport class
        val z0 = fai.join(buildingStats.get.select("id_grid", "geom_avg_height_roof"),
            Seq("id_grid"))
          .select(col("id_grid"),
            (faiCols.map(col).reduce(_ + _) / nDirGroups.toDouble).as("__lf"),
            col("geom_avg_height_roof").as("__h"))
          .select(col("id_grid"),
            when(col("__lf") < 0.15,
              when(col("__lf") * col("__h") > 3, 3.0).otherwise(col("__lf") * col("__h")))
              .otherwise(when(lit(0.15) * col("__h") > 3, 3.0).otherwise(lit(0.15) * col("__h")))
              .as("effective_terrain_roughness_length"))
          .localCheckpoint()
        join(z0)
        join(RsuIndicators.effectiveTerrainRoughnessClass(z0,
          "effective_terrain_roughness_length", "id_grid"))
      }
    }
    out
  }

  /** Back-compat entry over the runner's Results (the config-gated path).
    * Honors `g.lczLod`: when set and LCZ_PRIMARY was computed, the grid is
    * pushed through the multiscale LOD pyramid (the reference workflow's
    * post-rasterize multiscaleLCZGrid call, WorkflowOSM.groovy:961-969). */
  def rasterizeIndicators(layers: Layers, results: Results,
                          g: WorkflowConfig.GridParams,
                          grid: CellGrid, res: Int,
                          rsuLcz: Option[DataFrame],
                          rsuUtrfArea: Option[DataFrame],
                          rsuUtrfFloorArea: Option[DataFrame]): Option[DataFrame] =
    results.grid.map { cells =>
      val out = rasterizeIndicators(layers, cells, g.indicators,
        grid, res, rsuLcz, rsuUtrfArea, rsuUtrfFloorArea)
      g.lczLod match {
        case Some(lod) if lod > 0 && out.columns.contains("lcz_primary") =>
          graft.indicators.GridIndicators.multiscaleLczGrid(out, "lcz_primary", lod)
        case _ => out
      }
    }

  def rasterizeIndicators(layers: Layers, results: Results,
                          g: WorkflowConfig.GridParams,
                          grid: CellGrid, res: Int): Option[DataFrame] =
    rasterizeIndicators(layers, results, g, grid, res, None, None, None)

  /**
   * sprawlIndicators (WorkflowGeoIndicators.groovy:2447-2512): from a
   * classified grid (id_grid, id_row, id_col, lcz_primary and friends),
   * computes the urban sprawl layer and the requested distance columns —
   * URBAN_SPRAWL_INDIST (distance inside sprawl), URBAN_SPRAWL_OUTDIST
   * (distance outside, via the inverse layer), URBAN_SPRAWL_COOL_INDIST
   * (distance to the inverse of cool areas). Every piece is one of the
   * engine's bucketed operators (sprawlParts per-zone unions,
   * gridDistances' cell-equijoin boundary search).
   */
  def sprawlIndicators(spark: SparkSession, gridIndicators: DataFrame,
                       inds0: Seq[String], distance: Double,
                       grid: CellGrid, res: Int,
                       zoneCol: String = "id_zone"): (DataFrame, Option[DataFrame], Option[DataFrame]) = {
    import graft.indicators.GridIndicators
    val inds = inds0.map(_.trim.toUpperCase)
    val wanted = Set("URBAN_SPRAWL_AREAS", "URBAN_SPRAWL_DISTANCES",
      "URBAN_SPRAWL_COOL_DISTANCES")
    if (!inds.exists(wanted)) return (gridIndicators, None, None)
    val gi = gridIndicators.localCheckpoint()
    val sprawl = SpatialUnits.computeSprawlAreas(gi, zoneCol, "lcz_primary", distance)
      .localCheckpoint()
    var out = gi
    if (inds.contains("URBAN_SPRAWL_DISTANCES") && sprawl.head(1).nonEmpty) {
      val cells = gi.select("id_grid", "the_geom")
      val inside = GridIndicators.gridDistances(sprawl.select("the_geom"), cells, grid, res)
        .withColumnRenamed("distance", "urban_sprawl_indist")
      out = out.join(inside, Seq("id_grid"), "left")
      val inverse = SpatialUnits.inversePolygonsLayer(sprawl, zoneCol)
      val outside = GridIndicators.gridDistances(inverse.select("the_geom"), cells, grid, res)
        .withColumnRenamed("distance", "urban_sprawl_outdist")
      out = out.join(outside, Seq("id_grid"), "left")
    }
    val cool: Option[DataFrame] =
      if (inds.contains("URBAN_SPRAWL_COOL_DISTANCES") && sprawl.head(1).nonEmpty) {
        val c = SpatialUnits.extractCoolAreas(gi, zoneCol, "lcz_primary",
          sprawl, distance / 2, grid, res)
        if (c.head(1).nonEmpty) {
          val invCool = SpatialUnits.inversePolygonsLayer(sprawl, zoneCol, c, grid, res)
          val d = GridIndicators.gridDistances(invCool.select("the_geom"),
            gi.select("id_grid", "the_geom"), grid, res)
            .withColumnRenamed("distance", "urban_sprawl_cool_indist")
          out = out.join(d, Seq("id_grid"), "left")
          Some(c)
        } else None
      } else None
    (out, Some(sprawl), cool)
  }
}
