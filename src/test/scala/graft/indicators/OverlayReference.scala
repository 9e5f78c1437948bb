package graft.indicators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.geom.{GeoFunctions => G}
import graft.index.CellGrid
import graft.operators.SpatialJoin

/** The spatial families as they stood before the building × unit pairs:
  * each joined buildings against the units on its own. The long ones are
  * kept verbatim; the others compose their old join with the family's
  * unchanged aggregate. `OverlaySpec`, `FrontalSpec` and `PerUnitSpec`
  * check the pair-reading families against them. */
object OverlayReference {

  /** The cells of `ref`'s columns (but `id` and `the_geom`) that `got`
    * misses or differs in, row for row by `id`: doubles within 1e-9,
    * everything else exact. */
  def mismatches(got: DataFrame, ref: DataFrame, id: String): Seq[String] = {
    val cols = ref.columns.filter(c => c != id && c != "the_geom").toSeq
    val missing = cols.filterNot(got.columns.contains)
    if (missing.nonEmpty) return Seq(s"missing $missing")
    def rows(df: DataFrame): Map[Any, Row] =
      df.select(col(id) +: cols.map(col): _*).collect().map(r => r.get(0) -> r).toMap
    val (g, e) = (rows(got), rows(ref))
    if (g.keySet != e.keySet) return Seq(s"$id ${g.keySet} vs ${e.keySet}")
    for ((k, er) <- e.toSeq; (c, i) <- cols.zipWithIndex; m <- ((g(k).get(i + 1), er.get(i + 1)) match {
      case (x: Double, y: Double) if x == y || math.abs(x - y) <= 1e-9 || (x.isNaN && y.isNaN) => None
      case (x, y) if !x.isInstanceOf[Double] && x == y => None
      case (x, y) => Some(s"$id=$k $c: $x vs $y")
    })) yield m
  }

  /** rasterizeIndicators' old building↔cell relation. */
  def rel(cells: DataFrame, building: DataFrame, grid: CellGrid, res: Int): DataFrame =
    SpatialJoin.intersectsJoin(building.withColumnRenamed("the_geom", "__bg"), "__bg",
        cells.select(col("id_grid"), col("the_geom").as("__cg")), "__cg", grid, res)
      .drop("__cg").withColumnRenamed("__bg", "the_geom")

  /** cutBuilding: every building clipped to each cell it intersects. */
  def cutBuilding(cells: DataFrame, building: DataFrame,
                  grid: CellGrid, res: Int): DataFrame = {
    SpatialJoin.candidates(cells.select(col("id_grid"), col("the_geom").as("__cg")), "__cg",
        building.withColumnRenamed("the_geom", "__bg"), "__bg", grid, res,
        broadcastB = false)
      .where(G.stIntersects(col("__cg"), col("__bg")))
      .withColumn("the_geom",
        when(G.stContains(col("__cg"), col("__bg")), col("__bg"))
          .otherwise(G.stCollectionExtractPolygons(G.stIntersection(col("__cg"), col("__bg")))))
      .where(!G.stIsEmpty(col("the_geom")))
      .withColumn("area", G.stArea(col("the_geom")))
      .drop("__cg", "__bg")
  }

  /** Roof fractions with the family's own join of the pieces to the units. */
  def roofFraction(rsu: DataFrame, building: DataFrame, layerBounds: Seq[(Double, Double)],
                   grid: CellGrid, res: Int): DataFrame =
    RsuIndicators.roofFractionDistributionExact(rsu,
      SpatialJoin.intersectsJoin(rsu.select(col("id_rsu"), col("the_geom")), "the_geom",
          building.select(col("the_geom").as("bgeom"), col("height_roof")), "bgeom", grid, res)
        .select(col("id_rsu"), col("height_roof"),
          G.stIntersectionArea(col("the_geom"), col("bgeom")).as("area")), layerBounds)

  /** Exact facade density with the unit geometry joined back by id. */
  def facadeDensityExact(buildingWithRsu: DataFrame, rsu: DataFrame, idRsu: String,
                         grid: CellGrid, res: Int): DataFrame =
    RsuIndicators.freeExternalFacadeDensityExact(buildingWithRsu
      .join(rsu.select(col(idRsu), col("the_geom").as("unit_geom")), Seq(idRsu), "left"),
      rsu, idRsu, grid, res)

  /** SVF with the building-free ground from its own RSU × building join. */
  def svf(rsu: DataFrame, building: DataFrame, grid: CellGrid, res: Int): DataFrame =
    Svf.groundSkyViewFactor(rsu,
      SpatialJoin.intersectsJoin(rsu.select(col("id_rsu"), col("the_geom").as("unit_geom")), "unit_geom",
        building.select(col("the_geom"), col("height_wall")), "the_geom", grid, res),
      building, grid, res)

  /** Frontal area index, joining unit geometry back by id and pairing
    * every two buildings of a unit. */
  def frontal(buildingWithRsu: DataFrame, rsu: DataFrame,
              layersBottom: Seq[Double] = Seq(0, 5, 10, 15, 20, 25, 30, 35, 40, 45, 50),
              numDirection: Int = 12): DataFrame = {
    require(360 % numDirection == 0 && numDirection % 2 == 0)
    val snapTol = 0.01
    val buildLine = buildingWithRsu
      .join(rsu.select(col("id_rsu"), col("the_geom").as("__rg")), Seq("id_rsu"), "left")
      .select(col("id_build"), col("id_rsu"),
        when(G.stContains(col("__rg"), col("the_geom")), col("the_geom"))
          .otherwise(G.stLines(G.stIntersection(G.stToMultiLine(col("the_geom")), col("__rg"))))
          .as("__lg"),
        col("height_wall").cast("double").as("height_wall"))
      .localCheckpoint()
    val bAlias = buildLine.select(col("id_rsu"), col("id_build").as("__idb"),
      col("__lg").as("__lgb"), col("height_wall").as("__hwb"))
    val shared = buildLine.join(bAlias, Seq("id_rsu"))
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

    val maxH = buildingWithRsu.agg(max(col("height_wall"))).head() match {
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

  /** Projected facade distribution with its own building self-join and
    * its own facade × RSU join. */
  def projectedFacade(building: DataFrame, rsu: DataFrame,
                      grid: CellGrid, res: Int,
                      layersBottom: Seq[Double] = Seq(0, 10, 20, 30, 40, 50),
                      numDirection: Int = 12): DataFrame = {
    require(360 % numDirection == 0 && numDirection % 2 == 0)
    val b = building.select(col("id_build"), col("the_geom"),
      col("height_wall").cast("double").as("height_wall"))
    val bB = b.select(col("id_build").as("__idb"), col("the_geom").as("__gb"),
      col("height_wall").as("__hwb"))
    val party = SpatialJoin.intersectsJoin(b, "the_geom", bB, "__gb", grid, res)
      .where(col("id_build") =!= col("__idb"))
      .select(col("id_build").as("ida"), col("__idb").as("idb"),
        G.stLines(G.stIntersection(G.stMakeValid(col("the_geom")), G.stMakeValid(col("__gb")))).as("pw"),
        greatest(col("height_wall"), col("__hwb")).as("z_max"),
        least(col("height_wall"), col("__hwb")).as("z_min"))
    val touched = party.select(col("ida")).distinct()
    val isolated = b.join(touched, b("id_build") === touched("ida"), "left_anti")
      .select(G.stToMultiLine(col("the_geom")).as("fac"),
        col("height_wall").as("z_max"), lit(0.0).as("z_min"))
    val unions = party.where(!G.stIsEmpty(col("pw")))
      .groupBy(col("ida")).agg(G.st_union_agg(col("pw")).as("__pu"))
    val freed = b.join(unions, b("id_build") === unions("ida"))
      .select(G.stDifference(G.stToMultiLine(col("the_geom")), col("__pu")).as("fac"),
        col("height_wall").as("z_max"), lit(0.0).as("z_min"))
    val partyFac = party.where(col("ida") < col("idb"))
      .select(col("pw").as("fac"), col("z_max"), col("z_min"))
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
    val layered = facades.select(col("fac") +:
      layerNames.zip(layerExprs).map { case (n, c) => c.as(n) }: _*)

    // clip facades to RSUs (prepared on the RSU side), explode to segments
    val r = rsu.select(col("id_rsu"), col("the_geom").as("__rg"))
    val clipped = SpatialJoin.intersectsJoin(layered, "fac", r, "__rg", grid, res)
      .withColumn("__cf", when(G.stContains(col("__rg"), col("fac")), col("fac"))
        .otherwise(G.stIntersection(col("__rg"), col("fac"))))
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

  /** Roof area distribution with its own building self-join and the RSU
    * geometry joined back by id. */
  def roofArea(rsu: DataFrame, building: DataFrame,
               layersBottom: Seq[Double], grid: CellGrid, res: Int,
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
    val aSide = ini.select(col("id_build").as("__ida"), col("the_geom").as("__ga"),
      col("building_area").as("__area_a"), col("z_min").as("__zmin_a"))
    val bSide = ini.select(col("id_build").as("__idb"), col("the_geom").as("__gb"),
      col("building_area").as("__area_b"), col("z_max").as("__zmax_b"),
      col("delta_h").as("__dh_b"))
    val toRemove = SpatialJoin.intersectsJoin(aSide, "__ga", bSide, "__gb", grid, res)
      .where(col("__ida") =!= col("__idb") && col("__zmin_a") >= col("__zmax_b"))
      .groupBy(col("__idb").as("id_build"))
      .agg(sum(when(col("__area_b") > col("__area_a"), pow(col("__area_a"), 0.5))
        .otherwise(pow(col("__area_b"), 0.5)) * col("__dh_b") / 2.0).as("__rm"))

    val clipped = ini.join(toRemove, Seq("id_build"), "left")
      .join(rsu.select(col("id_rsu"), col("the_geom").as("__rg")), "id_rsu")
      .withColumn("nv", col("non_vert")
        * G.stIntersectionArea(col("__rg"), col("the_geom")) / col("building_area"))
      .withColumn("vv", (col("vert") - coalesce(col("__rm"), lit(0.0)))
        * (lit(1.0) - lit(0.5) * (lit(1.0)
          - G.stIntersectionLength(col("__rg"), G.stToMultiLine(col("the_geom"))) / col("facade_len"))))

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

  private def fmt(d: Double): String =
    if (d == d.toLong.toDouble) d.toLong.toString else d.toString.replace('.', '_')
}
