package graft.indicators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.geom.{GeoFunctions => G}
import graft.index.CellGrid
import graft.operators.SpatialJoin

/**
 * RSU-scale indicators — Spark re-expression of the reference's
 * RsuIndicators.groovy (subset: the join/agg-shaped ones; facade/roof
 * distributions use the same aggregate skeleton).
 */
object RsuIndicators {

  /** The building × unit relation the spatial families read: one row per
    * intersecting (building, unit) pair, the unit's id and `unit_geom` next
    * to the columns of `building`. Callers build it once per chain and
    * checkpoint it; the families take it as input and join nothing against
    * the units themselves. */
  def unitPairs(building: DataFrame, units: DataFrame, idUnit: String,
                grid: CellGrid, res: Int): DataFrame =
    SpatialJoin.intersectsJoin(building, "the_geom",
      units.select(col(idUnit), col("the_geom").as("unit_geom")), "unit_geom", grid, res)

  /** Ordered pairs of distinct intersecting buildings: the columns of
    * `building` next to the same columns prefixed `nb_`. The one building
    * self-join that [[roofAreaDistribution]] and
    * [[projectedFacadeAreaDistribution]] share. */
  def buildingNeighbours(building: DataFrame, grid: CellGrid, res: Int): DataFrame =
    SpatialJoin.intersectsJoin(building, "the_geom",
        building.select(building.columns.map(c => col(c).as(s"nb_$c")): _*), "nb_the_geom", grid, res)
      .where(col("id_build") =!= col("nb_id_build"))

  /** SUM((1-contiguity)·facade_len·h_wall)/rsu_area, 0 for empty RSUs —
    * RsuIndicators.groovy:53-86 (golden rsu1 = 0.947 on buildings 1-7).
    * A [[GenericIndicators.perUnit]] family: reads the buildings'
    * contiguity, total_facade_length and height_wall, and the RSU's the_geom. */
  val freeExternalFacadeDensity: GenericIndicators.Family = p => GenericIndicators.Parts(
    Seq(((lit(1.0) - col("contiguity")) * col("total_facade_length") * col("height_wall"))
      .as(s"${p}f")),
    Seq(sum(col(s"${p}f")).as(s"${p}s")),
    Seq(coalesce(col(s"${p}s") / G.stArea(col("the_geom")), lit(0.0))
      .as("free_external_facade_density")))

  /**
   * Exact free external facade density — RsuIndicators.groovy:108-214
   * (freeExternalFacadeDensityExact; goldens 0.28/0.28/0.25/0.25/0 and
   * 0.16/0.04): building boundaries clipped to their unit (the building ×
   * unit `pairs` of [[unitPairs]], keyed by `idRsu`), shared facades
   * detected with a 0.01 snap tolerance and subtracted (each shared wall
   * counted once per side, like the reference's ordered-pair sum), divided
   * by unit area; units of `rsu` with no buildings keep 0.
   */
  def freeExternalFacadeDensityExact(pairs: DataFrame, rsu: DataFrame,
                                     idRsu: String = "id_rsu",
                                     grid: CellGrid = CellGrid.fixture,
                                     res: Int = 12): DataFrame = {
    val snapTol = 0.01
    val buildLine = pairs
      .select(col("id_build"), col(idRsu), G.stArea(col("unit_geom")).as("__rsu_area"),
        when(G.stContains(col("unit_geom"), col("the_geom")), G.stToMultiLine(col("the_geom")))
          .otherwise(G.stLines(G.stIntersection(G.stToMultiLine(col("the_geom")), col("unit_geom"))))
          .as("__lg"),
        col("height_wall"))
      .localCheckpoint() // reused by the shared-facade self-join
    val bAlias = buildLine.select(col(idRsu), col("id_build").as("__idb"),
      col("__lg").as("__lgb"), col("height_wall").as("__hwb"))
    // Shared-wall pair search prefiltered by envelope-cell candidates (the
    // reference's `a.the_geom && b.the_geom` index probe,
    // RsuIndicators.groovy:141-155) instead of ALL same-RSU pairs — the
    // O(n²)-snaps-per-dense-RSU scale killer. Envelopes padded by the snap
    // tolerance: a pair whose padded envelopes are disjoint has geometry
    // distance > snapTol, so ST_Snap leaves it untouched and the
    // ST_INTERSECTS refinement below would reject it anyway — the prefilter
    // is provably output-equivalent to the all-pairs join.
    val shared = SpatialJoin.candidates(
        buildLine.select(col("id_build"), col(idRsu), col("__lg"), col("height_wall")), "__lg",
        bAlias, "__lgb", grid, res, pad = snapTol, keys = Seq(idRsu))
      .where(col("id_build") =!= col("__idb"))
      .withColumn("__snapped", G.stSnap(col("__lgb"), col("__lg"), lit(snapTol)))
      .where(G.stIntersects(col("__lg"), col("__snapped")))
      .groupBy(col(idRsu))
      .agg(sum(G.stLength(G.stIntersection(col("__lg"), col("__snapped")))
        * least(col("height_wall"), col("__hwb"))).as("__shared"))
    val perRsu = buildLine.groupBy(col(idRsu))
      .agg(min(col("__rsu_area")).as("__rsu_area"),
        sum(G.stLength(col("__lg")) * col("height_wall")).as("__fac"))
    rsu.select(idRsu)
      .join(perRsu.join(shared, Seq(idRsu), "left")
        .select(col(idRsu),
          ((col("__fac") - coalesce(col("__shared"), lit(0.0))) / col("__rsu_area"))
            .as("free_external_facade_density")),
        Seq(idRsu), "left")
      .select(col(idRsu),
        coalesce(col("free_external_facade_density"), lit(0.0)).as("free_external_facade_density"))
  }

  /** 0.5·free_external_facade_density/(1−building_density), null when
    * density=1 — RsuIndicators.groovy:383-404 (golden rsu1 = 0.672). */
  def aspectRatio(rsu: DataFrame, facadeDensityCol: String, buildingDensityCol: String,
                  idCol: String = "id_rsu"): DataFrame =
    rsu.select(col(idCol),
      when(col(buildingDensityCol) === 1, lit(null).cast("double"))
        .otherwise(lit(0.5) * col(facadeDensityCol) / (lit(1.0) - col(buildingDensityCol)))
        .as("aspect_ratio"))

  /** avg roof height / aspect ratio — RsuIndicators.groovy:2647-2667
    * (golden rsu1 = 7.5). */
  def streetWidth(rsu: DataFrame, avgHeightRoofCol: String, aspectRatioCol: String,
                  idCol: String = "id_rsu"): DataFrame =
    rsu.select(col(idCol),
      when(col(aspectRatioCol) === 0, lit(null).cast("double"))
        .otherwise(col(avgHeightRoofCol) / col(aspectRatioCol)).as("street_width"))

  /**
   * Extended free facade fraction (SVF-fast input) —
   * RsuIndicators.groovy:1340-1412 (golden: rsu1 buffDist 30 → 0.177):
   * RSU buffered (quad_segs 2); facade areas of buildings fully covered by
   * the buffer (Σ(1−contiguity)·facade_len·h_wall) plus boundary-clipped
   * facade areas of partially overlapping buildings; fraction =
   * fac/(fac + buffered_area). The default workflow derives the simplified
   * ground SVF as 1 − this (WorkflowGeoIndicators.groovy:666-674).
   * Buildings need the_geom, height_wall, contiguity, total_facade_length.
   */
  def extendedFreeFacadeFraction(building: DataFrame, rsu: DataFrame,
                                 buffDist: Double, grid: CellGrid, res: Int): DataFrame = {
    val ext = rsu.select(col("id_rsu"),
      G.stBufferQuad(col("the_geom"), lit(buffDist), lit(2)).as("__ext"))
    val b = building.select(col("the_geom"), col("height_wall"),
      col("contiguity"), col("total_facade_length"))
    val cand = SpatialJoin.candidates(ext, "__ext", b, "the_geom", grid, res)
    val incl = cand.where(G.stCovers(col("__ext"), col("the_geom")))
      .groupBy("id_rsu")
      .agg(sum((lit(1.0) - col("contiguity")) * col("total_facade_length") * col("height_wall"))
        .as("__fa"))
    val full = ext.join(incl, Seq("id_rsu"), "left")
      .select(col("id_rsu"), coalesce(col("__fa"), lit(0.0)).as("__fa"),
        G.stArea(col("__ext")).as("__buff_area"))
    val notInc = cand.where(G.stOverlaps(col("__ext"), col("the_geom")))
      .withColumn("__len", G.stLength(
        when(G.stContains(col("__ext"), col("the_geom")), G.stToMultiLine(col("the_geom")))
          .otherwise(G.stIntersection(G.stToMultiLine(col("the_geom")), col("__ext")))))
      .groupBy("id_rsu").agg(sum(col("__len") * col("height_wall")).as("__fb"))
    full.join(notInc, Seq("id_rsu"), "left")
      .select(col("id_rsu"),
        coalesce((col("__fa") + col("__fb")) / (col("__fa") + col("__fb") + col("__buff_area")),
          col("__fa") / (col("__fa") + col("__buff_area")))
          .as("extended_free_facade_fraction"))
  }

  /** Simplified ground sky view factor = 1 − extendedFreeFacadeFraction
    * (the default workflow path, svfSimplified=true —
    * WorkflowGeoIndicators.groovy:666-674, 1079). */
  def groundSkyViewFactorSimplified(building: DataFrame, rsu: DataFrame,
                                    buffDist: Double, grid: CellGrid, res: Int): DataFrame =
    extendedFreeFacadeFraction(building, rsu, buffDist, grid, res)
      .select(col("id_rsu"),
        (lit(1.0) - col("extended_free_facade_fraction")).as("ground_sky_view_factor"))

  /** building_fraction + free_external_facade_density —
    * RsuIndicators.groovy:1890-1916. */
  def buildingSurfaceDensity(rsu: DataFrame, fractionCol: String, facadeDensityCol: String,
                             idCol: String = "id_rsu"): DataFrame =
    rsu.select(col(idCol),
      (col(fractionCol) + col(facadeDensityCol)).as("building_surface_density"))

  /** Davenport roughness class lookup — RsuIndicators.groovy:1276-1301
    * (goldens: 2.3 -> 8, 0.1 -> 4, null -> null). */
  def effectiveTerrainRoughnessClass(rsu: DataFrame, lengthCol: String,
                                     idCol: String = "id_rsu"): DataFrame =
    rsu.select(col(idCol),
      when(col(lengthCol) < 0.0 || col(lengthCol).isNull, lit(null).cast("int"))
        .when(col(lengthCol) < 0.00035, 1)
        .when(col(lengthCol) < 0.01525, 2)
        .when(col(lengthCol) < 0.065, 3)
        .when(col(lengthCol) < 0.175, 4)
        .when(col(lengthCol) < 0.375, 5)
        .when(col(lengthCol) < 0.75, 6)
        .when(col(lengthCol) < 1.5, 7)
        .otherwise(8).as("effective_terrain_roughness_class"))

  /**
   * Road linework clipped per RSU, exploded to segments, azimuth bucketed
   * into `angleRange`-degree direction classes in [0,180) + total length
   * density — RsuIndicators.groovy:1060-1227 (goldens rsu14: d0_30=25.59,
   * d90_120=10, density=0.0142).
   *
   * Output: id_rsu, road_direction_distribution_d{lo}_{hi}..., linear_road_density.
   */
  def linearRoadOperations(rsu: DataFrame, road: DataFrame, angleRange: Int,
                           grid: CellGrid, res: Int): DataFrame = {
    require(180 % angleRange == 0)
    val nBuckets = 180 / angleRange
    val cand = SpatialJoin.intersectsJoin(
      rsu.select(col("id_rsu"), col("the_geom")), "the_geom",
      road.select(col("the_geom").as("road_geom")), "road_geom", grid, res)
    val segs = cand
      .withColumn("__clip", G.stIntersection(col("the_geom"), col("road_geom")))
      .select(col("id_rsu"), explode(G.stSegments(col("__clip"))).as("s"))
      .select(col("id_rsu"), col("s._5").as("len"),
        (col("s._6") / angleRange).cast("int").as("bucket"))
    val pivoted = segs.groupBy("id_rsu").pivot("bucket", 0 until nBuckets).agg(sum("len"))
    val renamed = (0 until nBuckets).foldLeft(pivoted) { (df, b) =>
      df.withColumnRenamed(b.toString, s"road_direction_distribution_d${b * angleRange}_${(b + 1) * angleRange}")
    }
    val out = rsu.select(col("id_rsu"), G.stArea(col("the_geom")).as("__area"))
      .join(renamed, Seq("id_rsu"), "left")
    val dirCols = (0 until nBuckets).map(b =>
      s"road_direction_distribution_d${b * angleRange}_${(b + 1) * angleRange}")
    val filled = dirCols.foldLeft(out) { (df, c) => df.withColumn(c, coalesce(col(c), lit(0.0))) }
    filled
      .withColumn("linear_road_density", dirCols.map(col).reduce(_ + _) / col("__area"))
      .drop("__area")
  }

  /** Exact roof fraction per height layer: the roof area of each building
    * piece in a unit attributed to the layer containing its height_roof —
    * RsuIndicators.groovy:1938-2063 (reference loops one SQL per layer; we
    * fuse all layers into ONE aggregate pass, SURVEY §2.4). `pieces` holds
    * one row per building piece: id_rsu, height_roof and its `area` (the
    * intersection area of a [[unitPairs]] row, or a grid cut piece's area). */
  def roofFractionDistributionExact(rsu: DataFrame, pieces: DataFrame,
                                    layerBounds: Seq[(Double, Double)]): DataFrame = {
    val aggs = layerBounds.zipWithIndex.map { case ((lo, hi), i) =>
      sum(when(col("height_roof") >= lo && col("height_roof") < hi, col("area"))
        .otherwise(0.0)).as(s"__l_$i")
    } :+ sum(col("area")).as("__tot")
    val g = pieces.groupBy("id_rsu").agg(aggs.head, aggs.tail: _*)
    val out = rsu.select("id_rsu").join(g, Seq("id_rsu"), "left")
    layerBounds.zipWithIndex.foldLeft(out) { case (df, ((lo, hi), i)) =>
      df.withColumn(
        s"roof_fraction_distribution_h${fmt(lo)}_${fmt(hi)}",
        coalesce(try_divide(col(s"__l_$i"), col("__tot")), lit(0.0)))
        .drop(s"__l_$i")
    }.drop("__tot")
  }

  /**
   * Projected facade area distribution per height layer × wind direction —
   * faithful re-expression of RsuIndicators.groovy:424-612 (golden: rsu1
   * buildings 1-5, nDir=4 → h0_10 637.10 / h10_20 32.53 per direction):
   *  1. party walls = linework of building×building intersections;
   *  2. free facades = building boundary minus the union of its party walls
   *     (isolated buildings keep their full boundary; buildings whose only
   *     contacts are corner points contribute nothing — reference quirk of
   *     the NOT IN + isempty filter, replicated);
   *  3. party walls re-enter once (a<b) for the strip between the two wall
   *     heights (z_min..z_max);
   *  4. per height layer, the vertical extent of each facade clipped to the
   *     layer; facades clipped to the RSU (contains fast path);
   *  5. exploded to segments; per direction bucket the projected length
   *     len·|sin(az−dirMid)|/2 (cos fold-back outside ±π/2).
   * The party walls come from `neighbours` ([[buildingNeighbours]] of
   * `building`). A facade lies on its own building, so it can only meet the
   * units its building meets: the RSU clip is an equi-join on id_build
   * against the building × RSU `pairs` ([[unitPairs]]), refined by the same
   * ST_INTERSECTS. One hash aggregate — no correlated subqueries, no per-row
   * SQL like the reference's temp-table chain.
   */
  def projectedFacadeAreaDistribution(building: DataFrame, neighbours: DataFrame,
                                      pairs: DataFrame, rsu: DataFrame,
                                      layersBottom: Seq[Double] = Seq(0, 10, 20, 30, 40, 50),
                                      numDirection: Int = 12): DataFrame = {
    require(360 % numDirection == 0 && numDirection % 2 == 0)
    val b = building.select(col("id_build"), col("the_geom"),
      col("height_wall").cast("double").as("height_wall"))
    val hwa = col("height_wall").cast("double"); val hwb = col("nb_height_wall").cast("double")
    val party = neighbours
      .select(col("id_build").as("ida"), col("nb_id_build").as("idb"),
        G.stLines(G.stIntersection(G.stMakeValid(col("the_geom")), G.stMakeValid(col("nb_the_geom")))).as("pw"),
        greatest(hwa, hwb).as("z_max"), least(hwa, hwb).as("z_min"))
    val touched = party.select(col("ida")).distinct()
    val isolated = b.join(touched, b("id_build") === touched("ida"), "left_anti")
      .select(col("id_build"), G.stToMultiLine(col("the_geom")).as("fac"),
        col("height_wall").as("z_max"), lit(0.0).as("z_min"))
    val unions = party.where(!G.stIsEmpty(col("pw")))
      .groupBy(col("ida")).agg(G.st_union_agg(col("pw")).as("__pu"))
    val freed = b.join(unions, b("id_build") === unions("ida"))
      .select(col("id_build"), G.stDifference(G.stToMultiLine(col("the_geom")), col("__pu")).as("fac"),
        col("height_wall").as("z_max"), lit(0.0).as("z_min"))
    val partyFac = party.where(col("ida") < col("idb"))
      .select(col("ida").as("id_build"), col("pw").as("fac"), col("z_max"), col("z_min"))
    val facades = isolated.unionAll(freed).unionAll(partyFac)

    // vertical extent of each facade within each layer
    // (reference CASEWHEN cascade, RsuIndicators.groovy:508-527)
    val zmax = col("z_max"); val zmin = col("z_min")
    val layerNames: Seq[String] =
      layersBottom.sliding(2).toSeq.collect { case Seq(l0, l1) => s"h${fmt(l0)}_${fmt(l1)}" } :+
        s"h${fmt(layersBottom.last)}"
    val layerExprs: Seq[Column] =
      layersBottom.sliding(2).toSeq.collect { case Seq(l0, l1) =>
        when(zmax <= l0, 0.0).otherwise(when(zmin >= l1, 0.0)
          .otherwise(lit(l1 - l0) - greatest(lit(l1) - zmax, lit(0.0)) - greatest(zmin - l0, lit(0.0))))
      } :+ when(zmax >= layersBottom.last, zmax - greatest(zmin, lit(layersBottom.last))).otherwise(0.0)
    val layered = facades.select(col("id_build") +: col("fac") +:
      layerNames.zip(layerExprs).map { case (n, c) => c.as(n) }: _*)

    // clip facades to the RSUs their building meets, explode to segments
    val clipped = layered.join(pairs.select("id_build", "id_rsu", "unit_geom"), "id_build")
      .where(G.stIntersects(col("unit_geom"), col("fac")))
      .withColumn("__cf", when(G.stContains(col("unit_geom"), col("fac")), col("fac"))
        .otherwise(G.stIntersection(col("unit_geom"), col("fac"))))
    val segs = clipped.select(
      (col("id_rsu") +: layerNames.map(col)) :+ explode(G.stSegments(col("__cf"))).as("s"): _*)
      .withColumn("__az", radians(col("s._6")))
      .withColumn("__len", col("s._5"))

    val dirMedRad = math.toRadians(180.0 / numDirection)
    val outNames = for (d <- 0 until numDirection / 2; ln <- layerNames) yield {
      val dirDeg = d * 360 / numDirection
      s"projected_facade_area_distribution_${ln}_d${dirDeg}_${dirDeg + 360 / numDirection}"
    }
    val dirAggs: Seq[Column] = (for (d <- 0 until numDirection / 2; ln <- layerNames) yield {
      val dirDeg = d * 360 / numDirection
      val dirRadMid = math.toRadians(dirDeg) + dirMedRad
      val diff = col("__az") - dirRadMid
      val v = col(ln) * col("__len")
      val contrib = when(diff > math.Pi / 2, v * cos(diff - math.Pi / 2) / 2)
        .when(diff < -math.Pi / 2, v * cos(diff + math.Pi / 2) / 2)
        .otherwise(v * abs(sin(diff)) / 2)
      sum(contrib).as(s"projected_facade_area_distribution_${ln}_d${dirDeg}_${dirDeg + 360 / numDirection}")
    }).toSeq
    val agg = segs.groupBy("id_rsu").agg(dirAggs.head, dirAggs.tail: _*)
    rsu.select("id_rsu").join(agg, Seq("id_rsu"), "left")
      .select(col("id_rsu") +: outNames.map(n => coalesce(col(n), lit(0.0)).as(n)): _*)
  }

  /**
   * Frontal area index distribution — RsuIndicators.groovy:2092-2313
   * (goldens: rsu1 h0_5_d30_60 → 0.00566, h50_61_d30_60 → 0.00321):
   * building boundaries clipped to their unit (the building × unit `pairs`
   * of [[unitPairs]]), shared facades (snap 0.01) re-entered with NEGATIVE
   * length and the MIN wall height (so the net is the exposed strip above
   * the shorter neighbor), each segment projected onto every direction it
   * FACES (raw azimuth, orientation preserved), split across height layers;
   * the last layer's top is max(height_wall)+1 like the reference. One fused
   * aggregate pass instead of the reference's per-layer temp tables.
   */
  def frontalAreaIndexDistribution(pairs: DataFrame, rsu: DataFrame,
                                   grid: CellGrid, res: Int,
                                   layersBottom: Seq[Double] = Seq(0, 5, 10, 15, 20, 25, 30, 35, 40, 45, 50),
                                   numDirection: Int = 12): DataFrame = {
    require(360 % numDirection == 0 && numDirection % 2 == 0)
    val snapTol = 0.01
    val buildLine = pairs
      .select(col("id_build"), col("id_rsu"),
        when(G.stContains(col("unit_geom"), col("the_geom")), col("the_geom"))
          .otherwise(G.stLines(G.stIntersection(G.stToMultiLine(col("the_geom")), col("unit_geom"))))
          .as("__lg"),
        col("height_wall").cast("double").as("height_wall"))
      .localCheckpoint()
    val bAlias = buildLine.select(col("id_rsu"), col("id_build").as("__idb"),
      col("__lg").as("__lgb"), col("height_wall").as("__hwb"))
    // same-unit pairs prefiltered by padded envelopes, as in
    // freeExternalFacadeDensityExact (output-equivalent to all pairs)
    val shared = SpatialJoin.candidates(buildLine, "__lg", bAlias, "__lgb", grid, res,
        pad = snapTol, keys = Seq("id_rsu"))
      .where(col("id_build") =!= col("__idb"))
      .withColumn("__snapped", G.stSnap(col("__lgb"), col("__lg"), lit(snapTol)))
      .where(G.stIntersects(col("__lg"), col("__snapped")))
      .select(col("id_rsu"),
        explode(G.stSegmentsRaw(G.stIntersection(col("__lg"), col("__snapped")))).as("s"),
        least(col("height_wall"), col("__hwb")).as("hw"))
      .select(col("id_rsu"), (-col("s._1")).as("len"), col("s._2").as("az"), col("hw"))
    val own = buildLine
      .select(col("id_rsu"), explode(G.stSegmentsRaw(col("__lg"))).as("s"),
        col("height_wall").as("hw"))
      .where(col("s._1") > 0)
      .select(col("id_rsu"), col("s._1").as("len"), col("s._2").as("az"), col("hw"))
    val lines = shared.unionAll(own).localCheckpoint()

    val maxH = pairs.agg(max(col("height_wall"))).head() match {
      case r if r.isNullAt(0) => 1.0
      case r => r.getAs[Any](0).toString.toDouble.toInt + 1.0
    }
    val angleRangeRad = 2 * math.Pi / numDirection
    val angleRangeDeg = 360 / numDirection
    val hw = col("hw"); val az = col("az"); val len = col("len")

    def proj(v: Double, heightFactor: Column): Column =
      when(lit(v) > az && lit(v) - az < math.Pi, len * sin(lit(v) - az) * heightFactor)
        .otherwise(when(lit(v) - az < -math.Pi,
          len * sin(lit(v) + 2 * math.Pi - az) * heightFactor).otherwise(0.0))

    val midLayers = layersBottom.sliding(2).toSeq.collect { case Seq(lb, lt) =>
      (lb, lt, s"h${fmt(lb)}_${fmt(lt)}")
    }
    val lastLb = layersBottom.last
    val allAggs = (for {
      (lb, lt, ln) <- midLayers :+ ((lastLb, maxH, s"h${fmt(lastLb)}_${fmt(maxH)}"))
      k <- 0 until numDirection
    } yield {
      val v = (k + 0.5) * angleRangeRad
      val isLast = lb == lastLb
      val hf =
        if (isLast) (hw - lb) / (maxH - lastLb)
        else when(hw >= lt, lit(1.0)).otherwise((hw - lb) / (lt - lb))
      val name = s"frontal_area_index_${ln}_d${k * angleRangeDeg}_${(k + 1) * angleRangeDeg}"
      sum(when(hw > lb, proj(v, hf)).otherwise(0.0)).as(name)
    }).toSeq
    val outNames = (for {
      (lb, lt, ln) <- midLayers :+ ((lastLb, maxH, s"h${fmt(lastLb)}_${fmt(maxH)}"))
      k <- 0 until numDirection
    } yield s"frontal_area_index_${ln}_d${k * angleRangeDeg}_${(k + 1) * angleRangeDeg}").toSeq

    val agg = lines.groupBy("id_rsu").agg(allAggs.head, allAggs.tail: _*)
    rsu.select(col("id_rsu"), G.stArea(col("the_geom")).as("__area"))
      .join(agg, Seq("id_rsu"), "left")
      .select(col("id_rsu") +: outNames.map(n =>
        coalesce(col(n) / col("__area"), lit(0.0)).as(n)): _*)
  }

  /**
   * Gable-roof area distribution per height layer — RsuIndicators.groovy:
   * 661-862 (goldens: rsu1 → 405.25/56.48/289.27/45.64, rsu13 →
   * 355.02/163.23/404.01/141.88/244.92/235.50/48.98/6.73):
   * per building, non-vertical roof area √(A²+4AΔh²) and vertical roof area
   * √A·Δh (gable model); vertical roof shared with a taller neighbor's
   * facade removed (spatial self-join, a.z_min ≥ b.z_max); areas clipped to
   * the RSU (polygon area ratio for non-vertical, boundary-length ratio
   * halved for vertical); split across height layers linearly (non-vert) /
   * quadratically (vert). `density` appends the two summary densities —
   * with the reference's swapped output names replicated verbatim
   * (optionalNonVert is aliased VERT_ROOF_DENSITY in the reference SQL).
   * Building table needs id_build, id_rsu, the_geom, height_wall, height_roof.
   * Taller neighbours come from `neighbours` ([[buildingNeighbours]] of the
   * buildings with their heights). The clip reads the row of each
   * building's own id_rsu among the building × RSU `pairs` ([[unitPairs]]):
   * a max-overlap RSU intersects its building, so that row is there.
   */
  def roofAreaDistribution(rsu: DataFrame, building: DataFrame, pairs: DataFrame,
                           neighbours: DataFrame, layersBottom: Seq[Double],
                           density: Boolean = true): DataFrame = {
    val ini = building.select(col("id_build"), col("id_rsu"), col("the_geom"),
      col("height_roof").cast("double").as("z_max"),
      col("height_wall").cast("double").as("z_min"))
      .withColumn("building_area", G.stArea(col("the_geom")))
      .withColumn("facade_len", G.stPerimeter(col("the_geom")) + G.stHolesPerim(col("the_geom")))
      .withColumn("delta_h", col("z_max") - col("z_min"))
      .withColumn("non_vert", pow(pow(col("building_area"), 2.0)
        + lit(4.0) * col("building_area") * pow(col("delta_h"), 2.0), 0.5))
      .withColumn("vert", pow(col("building_area"), 0.5) * col("delta_h"))

    // vertical roof in contact with a taller neighbor's facade
    val areaA = G.stArea(col("the_geom")); val areaB = G.stArea(col("nb_the_geom"))
    val toRemove = neighbours
      .where(col("height_wall").cast("double") >= col("nb_height_roof").cast("double"))
      .groupBy(col("nb_id_build").as("id_build"))
      .agg(sum(when(areaB > areaA, pow(areaA, 0.5)).otherwise(pow(areaB, 0.5))
        * (col("nb_height_roof").cast("double") - col("nb_height_wall").cast("double"))
        / 2.0).as("__rm"))

    val clipped = ini.join(toRemove, Seq("id_build"), "left")
      .join(pairs.select("id_build", "id_rsu", "unit_geom"), Seq("id_build", "id_rsu"))
      .withColumn("nv", col("non_vert")
        * G.stIntersectionArea(col("unit_geom"), col("the_geom")) / col("building_area"))
      .withColumn("vv", (col("vert") - coalesce(col("__rm"), lit(0.0)))
        * (lit(1.0) - lit(0.5) * (lit(1.0)
          - G.stIntersectionLength(col("unit_geom"), G.stToMultiLine(col("the_geom"))) / col("facade_len"))))

    val zmax = col("z_max"); val zmin = col("z_min"); val dh = col("delta_h")
    val L = layersBottom.last
    val nvCols: Seq[(String, Column)] =
      layersBottom.sliding(2).toSeq.collect { case Seq(lo, hi) =>
        s"non_vert_roof_area_h${fmt(lo)}_${fmt(hi)}" ->
          when(zmax <= lo, 0.0)
            .otherwise(when(zmax <= hi,
              when(dh === 0, col("nv"))
                .otherwise(col("nv") * (zmax - greatest(lit(lo), zmin)) / dh))
              .otherwise(when(zmin < hi,
                col("nv") * (lit(hi) - greatest(lit(lo), zmin)) / dh).otherwise(0.0)))
      } :+ (s"non_vert_roof_area_h${fmt(L)}" ->
        when(zmax <= L, 0.0).otherwise(when(dh === 0, col("nv"))
          .otherwise(col("nv") * (zmax - greatest(lit(L), zmin)) / dh)))
    val vCols: Seq[(String, Column)] =
      layersBottom.sliding(2).toSeq.collect { case Seq(lo, hi) =>
        s"vert_roof_area_h${fmt(lo)}_${fmt(hi)}" ->
          when(zmax <= lo, 0.0)
            .otherwise(when(zmax <= hi,
              when(dh === 0, 0.0)
                .otherwise(col("vv") * pow((zmax - greatest(lit(lo), zmin)) / dh, 2.0)))
              .otherwise(when(zmin < hi,
                when(zmin > lo, col("vv") * (lit(1.0) - pow((zmax - hi) / dh, 2.0)))
                  .otherwise(col("vv") * (pow((zmax - lo) / dh, 2.0) - pow((zmax - hi) / dh, 2.0))))
                .otherwise(0.0)))
      } :+ (s"vert_roof_area_h${fmt(L)}" ->
        when(zmax <= L, 0.0).otherwise(when(dh === 0, col("vv"))
          .otherwise(col("vv") * (zmax - greatest(lit(L), zmin)) / dh)))

    val allCols = nvCols ++ vCols
    val agg = clipped.groupBy("id_rsu")
      .agg(sum(allCols.head._2).as(allCols.head._1),
        allCols.tail.map { case (n, c) => sum(c).as(n) }: _*)
    val out0 = rsu.select(col("id_rsu"), G.stArea(col("the_geom")).as("__rsuarea"))
      .join(agg, Seq("id_rsu"), "left")
    val filled = allCols.map(_._1).foldLeft(out0) { (df, n) =>
      df.withColumn(n, coalesce(col(n), lit(0.0)))
    }
    val withDens = if (!density) filled else filled
      // NOTE: names swapped exactly as in the reference SQL
      .withColumn("vert_roof_density", nvCols.map(c => col(c._1)).reduce(_ + _) / col("__rsuarea"))
      .withColumn("non_vert_roof_density", vCols.map(c => col(c._1)).reduce(_ + _) / col("__rsuarea"))
    withDens.drop("__rsuarea")
  }

  /**
   * Effective terrain roughness length z0 — RsuIndicators.groovy:901-957:
   * λf = Σ(all facade-distribution cells) / (nDir/2 · rsu_area); z0 =
   * min(3, h_geom · min(λf, 0.15)) (Hanna & Britter piecewise).
   * Input: the projectedFacadeAreaDistribution output joined with the RSU
   * geometry and the geometric-mean building height column.
   */
  def effectiveTerrainRoughnessLength(facadeDistWithRsu: DataFrame,
                                      facadeCols: Seq[String],
                                      geomMeanHeightCol: String,
                                      idCol: String = "id_rsu"): DataFrame = {
    // λf divides by (numberOfDirection/2 · area); facadeCols covers all
    // direction×layer cells, so nDir/2 = the number of distinct _d suffixes
    val nDirGroups = facadeCols.map(_.replaceAll(".*_d", "")).distinct.size
    facadeDistWithRsu.select(col(idCol),
      (facadeCols.map(col).reduce(_ + _) /
        (lit(nDirGroups.toDouble) * G.stArea(col("the_geom")))).as("__lf"),
      col(geomMeanHeightCol).as("__h"))
      .select(col(idCol),
        when(col("__lf") < 0.15,
          when(col("__lf") * col("__h") > 3, 3.0).otherwise(col("__lf") * col("__h")))
          .otherwise(when(lit(0.15) * col("__h") > 3, 3.0).otherwise(lit(0.15) * col("__h")))
          .as("effective_terrain_roughness_length"))
  }

  /**
   * Directional projected facade density (RsuIndicators.groovy:988-1034):
   * per wind direction, the sum of the facade-distribution columns across
   * height layers divided by the RSU area. A pure projection over the
   * projectedFacadeAreaDistribution output joined with the RSU geometry.
   */
  def projectedFacadeDensityDir(facadeDistWithRsu: DataFrame,
                                layerNames: Seq[String], dirNames: Seq[String],
                                outPrefix: String = "projected_facade_density_dir_",
                                inPrefix: String = "projected_facade_area_distribution_",
                                idCol: String = "id_rsu"): DataFrame =
    facadeDistWithRsu.select(col(idCol) +: dirNames.map { d =>
      (layerNames.map(l => col(s"$inPrefix${l}_$d")).reduce(_ + _)
        / G.stArea(col("the_geom"))).as(s"$outPrefix$d")
    }: _*)

  /**
   * Smallest common geometry — RsuIndicators.groovy:1473-1590: the input
   * layers are clipped per RSU, their linework noded + polygonized, and each
   * resulting atom flagged by which layers cover its interior point. The
   * per-RSU overlay is a single task (polygonization is whole-graph); RSUs
   * parallelize across the cluster, candidates come from the cell-equijoin.
   *
   * @param layers (name, DataFrame with the_geom) in a fixed order; flags
   *               come out as one Int column per layer name. A layer given
   *               as its [[unitPairs]] with the RSUs (it carries
   *               `unit_geom`) is clipped from its pairs, not joined again.
   * @return id_rsu, area, <layer flag columns>
   */
  def smallestCommonGeometry(rsu: DataFrame, layers: Seq[(String, DataFrame)],
                             grid: CellGrid, res: Int): DataFrame = {
    import org.locationtech.jts.operation.polygonize.Polygonizer
    import org.locationtech.jts.operation.union.UnaryUnionOp
    import org.locationtech.jts.geom.prep.PreparedGeometryFactory
    import scala.jdk.CollectionConverters._
    import graft.geom.Geo

    val layerNames = layers.map(_._1)
    val r = rsu.select(col("id_rsu"), col("the_geom"))
    val clipped = layers.map { case (name, df) =>
      val pairs =
        if (df.columns.contains("unit_geom")) // already paired with the units
          df.select(col("id_rsu"), col("unit_geom").as("the_geom"), col("the_geom").as("__lg"))
        else SpatialJoin.candidates(r, "the_geom",
            df.select(col("the_geom").as("__lg")), "__lg", grid, res)
          .where(G.stIntersects(col("the_geom"), col("__lg")))
      pairs.select(col("id_rsu"), lit(name).as("__layer"),
        G.stIntersection(col("the_geom"), col("__lg")).as("__clip"))
    }.reduce(_ unionAll _)

    val names = layerNames // stable closure copy
    val overlay = udf { (items: Seq[org.apache.spark.sql.Row]) =>
      val geoms = items.map(row => (row.getString(0), Geo.fromWkb(row.getAs[Array[Byte]](1))))
        .filter(!_._2.isEmpty)
      val lines = new java.util.ArrayList[org.locationtech.jts.geom.Geometry](geoms.size)
      geoms.foreach { case (_, g) => lines.add(Geo.toMultiLine(g)) }
      val noded = UnaryUnionOp.union(lines)
      val pz = new Polygonizer()
      pz.add(noded)
      val preps = geoms.map { case (n, g) => (n, PreparedGeometryFactory.prepare(g)) }
      pz.getPolygons.asScala.toSeq.map { f0 =>
        val f = f0.asInstanceOf[org.locationtech.jts.geom.Geometry]
        val pos = f.getInteriorPoint
        val flags = names.map(n => if (preps.exists(p => p._1 == n && p._2.contains(pos))) 1 else 0)
        (f.getArea, flags)
      }.filter(_._2.exists(_ == 1)).toArray
    }
    clipped.groupBy("id_rsu")
      .agg(collect_list(struct(col("__layer"), col("__clip"))).as("__items"))
      .select(col("id_rsu"), explode(overlay(col("__items"))).as("__atom"))
      .select(col("id_rsu") +: (col("__atom._1").as("area") +:
        layerNames.zipWithIndex.map { case (n, i) =>
          element_at(col("__atom._2"), i + 1).as(n)
        }): _*)
  }

  /**
   * Ground layer — RsuIndicators.groovy:2430-2615 (groundLayer): the layers
   * are clipped per zone, polygonized into atoms, and each atom takes the
   * (layer, type) of the covering geometry with the best (priority, geometry
   * area) rank — the reference's `first_value(type) over (partition by
   * id_ground order by priority, area)`. Per-zone single-task overlay like
   * smallestCommonGeometry.
   *
   * @param layers (name, df(the_geom, type)) — priority = position in
   *               `priorities`
   * @return (id_rsu, area, layer, type) one row per atom
   */
  def groundLayer(zone: DataFrame, layers: Seq[(String, DataFrame)],
                  priorities: Seq[String], grid: CellGrid, res: Int): DataFrame = {
    import org.locationtech.jts.operation.polygonize.Polygonizer
    import org.locationtech.jts.operation.union.UnaryUnionOp
    import org.locationtech.jts.geom.prep.PreparedGeometryFactory
    import scala.jdk.CollectionConverters._
    import graft.geom.Geo

    val prioIdx = priorities.zipWithIndex.toMap
    val r = zone.select(col("id_rsu"), col("the_geom"))
    val clipped = layers.map { case (name, df) =>
      SpatialJoin.candidates(r, "the_geom",
          df.select(col("the_geom").as("__lg"), col("type").cast("string").as("__t")), "__lg",
          grid, res, broadcastB = false)
        .where(G.stIntersects(col("the_geom"), col("__lg")))
        .select(col("id_rsu"), lit(name).as("__layer"), col("__t"),
          G.stIntersection(col("the_geom"), col("__lg")).as("__clip"))
    }.reduce(_ unionAll _)

    val prioB = prioIdx // closure copy
    val overlay = udf { (items: Seq[org.apache.spark.sql.Row]) =>
      val geoms = items.map(row => (row.getString(0), row.getString(1),
        Geo.fromWkb(row.getAs[Array[Byte]](2)))).filter(!_._3.isEmpty)
      val lines = new java.util.ArrayList[org.locationtech.jts.geom.Geometry](geoms.size)
      geoms.foreach { case (_, _, g) => lines.add(Geo.toMultiLine(g)) }
      val noded = UnaryUnionOp.union(lines)
      val pz = new Polygonizer()
      pz.add(noded)
      val preps = geoms.map { case (n, t, g) =>
        (n, t, g.getArea, PreparedGeometryFactory.prepare(g))
      }
      pz.getPolygons.asScala.toSeq.flatMap { f0 =>
        val f = f0.asInstanceOf[org.locationtech.jts.geom.Geometry]
        val pos = f.getInteriorPoint
        val covering = preps.filter(_._4.contains(pos))
        if (covering.isEmpty) None
        else {
          val (n, t, _, _) = covering.minBy { case (n, _, a, _) => (prioB(n), a) }
          Some((f.getArea, n, t))
        }
      }.toArray
    }
    clipped.groupBy("id_rsu")
      .agg(collect_list(struct(col("__layer"), col("__t"), col("__clip"))).as("__items"))
      .select(col("id_rsu"), explode(overlay(col("__items"))).as("__atom"))
      .select(col("id_rsu"), col("__atom._1").as("area"),
        col("__atom._2").as("layer"), col("__atom._3").as("type"))
  }

  /**
   * Priority/superposition surface fractions over the smallest-common-
   * geometry atoms — RsuIndicators.groovy:1744-1869 with the reference's
   * exact column-generation algorithm (the SQL-string loops become Column
   * loops 1:1): per superposing layer, its alone-fraction and one combo
   * fraction per overlapped layer (earlier overlapped layers zeroed);
   * then per-priority individual fractions with all earlier priorities
   * zeroed and later-priority superposing layers zeroed; finally
   * undefined_fraction = 1 − Σ.
   */
  def surfaceFractions(scg: DataFrame, rsu: DataFrame,
                       superpositions: Map[String, Seq[String]],
                       priorities: Seq[String]): DataFrame = {
    val layers = priorities
    val prioIdx = priorities.zipWithIndex.toMap
    var aggs = Seq.empty[(String, Column)]
    superpositions.foreach { case (key, values) =>
      val othersZero = layers.filterNot(_ == key).map(col(_) === 0).reduce(_ && _)
      aggs :+= (s"${key}_fraction" ->
        sum(when(col(key) === 1 && othersZero, col("area")).otherwise(0.0)))
      val notOverlapped = priorities.filterNot(values.contains).filterNot(_ == key)
      val nonOverlappedCond = notOverlapped
        .filter(v => prioIdx(key) > prioIdx(v)).map(col(_) === 0)
      var var2Zero = Seq.empty[String]
      priorities.filterNot(_ == key).foreach { v =>
        if (values.contains(v)) {
          val conds = Seq(col(key) === 1, col(v) === 1) ++
            var2Zero.map(col(_) === 0) ++ nonOverlappedCond
          aggs :+= (s"${key}_${v}_fraction" ->
            sum(when(conds.reduce(_ && _), col("area")).otherwise(0.0)))
        }
        var2Zero :+= v
      }
    }
    var var2Zero = Seq.empty[String]
    priorities.foreach { v =>
      val zeroConds = var2Zero.map(col(_) === 0)
      var2Zero :+= v
      if (!superpositions.contains(v)) {
        val nonOverlapped = superpositions.toSeq.collect {
          case (key, values) if values.contains(v) && prioIdx(key) > prioIdx(v) =>
            col(key) === 0
        }
        val conds = (col(v) === 1) +: (zeroConds ++ nonOverlapped)
        aggs :+= (s"${v}_fraction" ->
          sum(when(conds.reduce(_ && _), col("area")).otherwise(0.0)))
      }
    }
    val grouped = scg.groupBy("id_rsu")
      .agg(aggs.head._2.as(aggs.head._1), aggs.tail.map { case (n, c) => c.as(n) }: _*)
    val joined = rsu.select(col("id_rsu"), G.stArea(col("the_geom")).as("__rsuarea"))
      .join(grouped, Seq("id_rsu"), "left")
    val fractions = aggs.map(_._1)
    val filled = fractions.foldLeft(joined) { (df, n) =>
      df.withColumn(n, coalesce(col(n), lit(0.0)) / col("__rsuarea"))
    }
    filled
      .withColumn("undefined_fraction", lit(1.0) - fractions.map(col).reduce(_ + _))
      .drop("__rsuarea")
  }

  /**
   * Surface-fraction superposition for two layers (building × high
   * vegetation) — the output semantics of the reference's
   * smallestCommunGeometry + surfaceFractions chain
   * (RsuIndicators.groovy:1473-1590, 1744-1869) for the layers the LCZ
   * chain needs: per RSU, the area fractions of building-only,
   * vegetation-over-building (superposition combo), vegetation-only, and
   * the undefined remainder. Instead of the reference's global ST_NODE +
   * ST_POLYGONIZE overlay (single-task, whole-zone geometry graph), the
   * atoms are computed per candidate pair with the cell-equijoin + JTS
   * intersection — embarrassingly parallel and skew-salted like every other
   * spatial join here.
   *
   * Assumes geometries do not self-overlap within one layer (the reference
   * formats layers that way too).
   */
  def surfaceFractionsTwoLayer(rsu: DataFrame, building: DataFrame,
                               veget: DataFrame, grid: CellGrid, res: Int): DataFrame = {
    val r = rsu.select(col("id_rsu"), col("the_geom"))
    def perRsuArea(layer: DataFrame, out: String): DataFrame =
      SpatialJoin.candidates(r, "the_geom",
          layer.select(col("the_geom").as("__lg")), "__lg", grid, res, broadcastB = false)
        .withColumn("__a", G.stIntersectionArea(col("the_geom"), col("__lg")))
        .groupBy("id_rsu").agg(sum("__a").as(out))
    // building ∩ vegetation atoms, then clipped to the RSU
    val bv = SpatialJoin.intersectsJoin(
        building.select(col("the_geom").as("__bg")), "__bg",
        veget.select(col("the_geom").as("__vg")), "__vg", grid, res)
      .withColumn("__bv", G.stIntersection(col("__bg"), col("__vg")))
    val bvPerRsu = SpatialJoin.candidates(r, "the_geom",
        bv.select(col("__bv")), "__bv", grid, res, broadcastB = false)
      .withColumn("__a", G.stIntersectionArea(col("the_geom"), col("__bv")))
      .groupBy("id_rsu").agg(sum("__a").as("__abv"))
    val joined = r
      .join(perRsuArea(building, "__ab"), Seq("id_rsu"), "left")
      .join(perRsuArea(veget, "__av"), Seq("id_rsu"), "left")
      .join(bvPerRsu, Seq("id_rsu"), "left")
      .withColumn("__area", G.stArea(col("the_geom")))
    joined.select(col("id_rsu"),
      ((coalesce(col("__ab"), lit(0.0)) - coalesce(col("__abv"), lit(0.0))) / col("__area"))
        .as("building_fraction"),
      (coalesce(col("__abv"), lit(0.0)) / col("__area"))
        .as("high_vegetation_building_fraction"),
      ((coalesce(col("__av"), lit(0.0)) - coalesce(col("__abv"), lit(0.0))) / col("__area"))
        .as("high_vegetation_fraction"))
      .withColumn("undefined_fraction",
        lit(1.0) - col("building_fraction") - col("high_vegetation_building_fraction")
          - col("high_vegetation_fraction"))
  }

  private def fmt(d: Double): String =
    if (d == d.toLong.toDouble) d.toLong.toString else d.toString.replace('.', '_')
}
