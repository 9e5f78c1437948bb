package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.geom.{GeoFunctions => G}

/**
 * OSM layer formatting — the reference's `formatBuildingLayer`
 * (osm/InputDataFormatting.groovy:62-320) and `formatRoadLayer` (:323-482)
 * re-expressed as single codegen'd Catalyst projections (the reference is a
 * per-row Groovy loop with JDBC batch inserts). The tag→model mapping DATA
 * lives in [[OsmTagMaps]]; this object compiles it into first-match-wins
 * CASE chains (getTypeAndUse / getTypeValue semantics,
 * InputDataFormatting.groovy:851-894, 1020-1049: entry order wins, rules
 * over tag columns absent from the input are skipped).
 *
 * Ids are minted dense per zone (per-zone ranks + #zones-row offsets — the
 * same shape as SpatialUnits.createTSU), matching the reference's SERIAL
 * insertion order for a deterministically-ordered input; no data-scale
 * global window.
 */
object OsmLayers {

  // ---- first-match-wins rule compilation (Catalyst) -----------------------

  private def ruleCond(conds: Seq[(String, Seq[String])], cols: Set[String]): Option[Column] =
    conds.collect { case (t, vs) if cols(t) && vs.nonEmpty =>
      val (neg, pos) = vs.partition(_.startsWith("!"))
      // positive values as ONE InSet probe (null tag -> null -> branch
      // skipped, same as the ===-OR chain); negations ("! x") explicit
      val posCond = if (pos.isEmpty) None
        else if (pos.sizeIs == 1) Some(col(t) === pos.head)
        else Some(col(t).isInCollection(pos))
      val negCond = neg.map { v =>
        val w = v.replace("! ", ""); col(t).isNotNull && col(t) =!= w
      }.reduceOption(_ || _)
      (posCond ++ negCond).reduce(_ || _)
    }.reduceOption(_ || _)

  /** First-match-wins as ONE flat CaseWhen (chained .when, null default):
    * CaseWhen codegen splits its branches into methods, whereas a Coalesce
    * of 154 single-branch CaseWhens blows the generated-code size. */
  private def flatCase(branches: Seq[(Column, Column)]): Column =
    branches.foldLeft(Option.empty[Column]) { case (acc, (c, v)) =>
      Some(acc.fold(when(c, v))(_.when(c, v)))
    }.getOrElse(lit(null))

  /** getTypeValue (InputDataFormatting.groovy:1020-1049): key of the first
    * matching rule, null when none match. */
  def typeValue(rules: Seq[(String, Seq[(String, Seq[String])])], cols: Set[String]): Column =
    flatCase(rules.flatMap { case (k, conds) =>
      ruleCond(conds, cols).map(c => c -> lit(k))
    }).cast("string")

  /** getTypeAndUse (InputDataFormatting.groovy:851-894): (type, use) of the
    * first matching rule as a struct, null when none match.
    *
    * Implemented as a precompiled per-row matcher over hashed value sets
    * (NOT a 154-branch Catalyst CaseWhen: assembling that generated code is
    * quadratic in branch count — measured ~50 s of driver time per
    * execution — while this scan is a few hash probes per row with an O(1)
    * plan). Takes the tag columns as one array; rules referencing absent
    * tags are dropped at compile time, like the reference's
    * columnNames.contains gate.
    */
  def typeAndUse(rules: Seq[(String, String, Seq[(String, Seq[String])])],
                 cols: Set[String]): Column = {
    // tag columns any surviving rule references, in first-appearance order
    val tagCols: Seq[String] = rules.flatMap(_._3.collect {
      case (t, vs) if cols(t) && vs.nonEmpty => t
    }).distinct
    val tagIdx = tagCols.zipWithIndex.toMap
    // compiled rule: (type, use, conds as (tagIndex, positive set, negated values))
    val compiled: Array[(String, String, Array[(Int, Set[String], Array[String])])] =
      rules.iterator.map { case (t, u, conds) =>
        val cs = conds.collect { case (tag, vs) if cols(tag) && vs.nonEmpty =>
          val (neg, pos) = vs.partition(_.startsWith("!"))
          (tagIdx(tag), pos.toSet, neg.map(_.replace("! ", "")).toArray)
        }.toArray
        (t, u, cs)
      }.filter(_._3.nonEmpty).toArray
    val matcher = udf { (tags: Seq[String]) =>
      var out: (String, String) = null
      var i = 0
      while (out == null && i < compiled.length) {
        val (t, u, conds) = compiled(i)
        var j = 0
        while (out == null && j < conds.length) {
          val (ti, pos, negs) = conds(j)
          val v = tags(ti)
          if (v != null && (pos.contains(v) || negs.exists(v != _))) out = (t, u)
          j += 1
        }
        i += 1
      }
      out
    }
    if (compiled.isEmpty) lit(null).cast("struct<t:string,u:string>")
    else matcher(array(tagCols.map(col): _*)).cast("struct<t:string,u:string>")
  }

  /** formatBuildingUse (InputDataFormatting.groovy:822-842): trimmed
    * lowercased building:use matched against each use key or its synonym
    * list (entry order wins); null when absent/unmatched. */
  def buildingUseOverride(bu: Column): Column = {
    val l = lower(trim(bu))
    flatCase(OsmTagMaps.buildingUse.map { case (k, syns) =>
      val cond = if (syns.isEmpty) l === k else l === k || l.isInCollection(syns)
      cond -> lit(k)
    }).cast("string")
  }

  /** getZIndex (InputDataFormatting.groovy:1009-1011): integer parse of the
    * OSM `layer` tag, 0 when absent/unparseable. */
  def zIndex(layer: Column): Column = coalesce(layer.try_cast("int"), lit(0))

  /** getWidth (InputDataFormatting.groovy:1000-1002): float parse, 0 default. */
  def width(w: Column): Column = coalesce(w.try_cast("double"), lit(0.0))

  /** getSidewalk (InputDataFormatting.groovy:1060-1075): both→two,
    * right/left/yes→one, anything else (incl. null)→no. */
  def sidewalk(sw: Column): Column =
    when(sw === "both", "two")
      .when(sw.isin("right", "left", "yes"), "one")
      .otherwise("no")

  /** getSpeedInKmh (InputDataFormatting.groovy:1452-1469): anchored
    * `([0-9]+)( ([a-zA-Z]+))?` — bare/kmh kept, mph×1.609 rounded
    * half-up, anything else (incl. null / no full match) −1. */
  def speedKmh(ms: Column): Column = {
    val pat = "^([0-9]+)( ([a-zA-Z]+))?$"
    val num = regexp_extract(ms, pat, 1).try_cast("int")
    val unit = lower(regexp_extract(ms, pat, 3))
    when(ms.isNull || num.isNull, lit(-1))
      .when(unit === "", num)
      .when(unit === "kmh", num)
      .when(unit === "mph", round(num * 1.609).cast("int"))
      .otherwise(lit(-1))
  }

  /** Dense ids per zone: per-zone ranks + #zones-row offsets (createTSU
    * shape) — insertion-order SERIAL semantics without a global window. */
  private[sources] def denseIds(df: DataFrame, zoneId: String, order: Seq[Column],
                       out: String): DataFrame = {
    val parts = df.localCheckpoint() // ranks + offsets both read it
    val ranked = parts.withColumn("__rk",
      row_number().over(Window.partitionBy(col(zoneId)).orderBy(order: _*)))
    val offsets = parts.groupBy(col(zoneId)).agg(count(lit(1)).as("__n"))
      .withColumn("__off",
        coalesce(sum(col("__n")).over(
          Window.orderBy(col(zoneId)).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L))) // #zones rows only
      .select(col(zoneId), col("__off"))
    ranked.join(offsets, Seq(zoneId))
      .withColumn(out, (col("__off") + col("__rk")).cast("int"))
      .drop("__rk", "__off")
  }

  private def tagOf(cols: Set[String])(name: String): Column =
    if (cols(name)) col(name) else lit(null).cast("string")

  /**
   * formatBuildingLayer (InputDataFormatting.groovy:62-320), zone branch:
   * tag→(type, main_use) via the 154-entry hierarchy (undefined defaults),
   * building:use override through the synonym table, height/level grammar +
   * formatHeightsAndNbLevels repair with the per-type level map, zindex from
   * `layer`; rows kept when nb_lev > 0 and zindex >= 0; geometry exploded to
   * polygon parts with area > 1, normalized. Input needs `id` (source id),
   * `the_geom` (polygonal WKB), a `zoneId` column, and any OSM tag columns.
   * Output: the reference's building layer schema + an `estimated` flag (its
   * side table BUILDING_ESTIMATE, :136-140).
   */
  def formatBuildingLayer(raw: DataFrame, zoneId: String,
                          hLevMin: Double = 3.0): DataFrame = {
    val cols = raw.columns.toSet
    val tag = tagOf(cols) _
    // Staged projections: each big CASE chain lands in its OWN column before
    // anything references it, so later expressions see a cheap attribute —
    // composing the raw Column trees would re-embed the 154-entry type chain
    // once per level-map branch (~10^5 duplicated nodes: analysis-time OOM).
    val staged = raw.select(col(zoneId), col("id").cast("string").as("id_source"),
        col("the_geom"),
        typeAndUse(OsmTagMaps.buildingType, cols).as("__tu"),
        tag("building:use").as("__bu"),
        OsmFormatting.heightRoof(tag("height")).as("__hr"),
        tag("roof:height").as("__rht"),
        OsmFormatting.nbLevels(tag("building:levels"), tag("roof:levels")).as("__nl"),
        zIndex(tag("layer")).as("zindex"), tag("roof:shape").as("roof_shape"))
      .select(col(zoneId), col("id_source"), col("the_geom"),
        coalesce(col("__tu.t"), lit("undefined")).as("type"),
        coalesce(buildingUseOverride(col("__bu")), col("__tu.u"), lit("undefined")).as("main_use"),
        col("__hr"), OsmFormatting.heightWall(col("__hr"), col("__rht")).as("__hw"),
        col("__nl"), col("zindex"), col("roof_shape"))
      .withColumn("__fh", OsmFormatting.formatHeights(col("__hw"), col("__hr"),
        col("__nl"), hLevMin, col("type"), OsmTagMaps.buildingLevel))
    val kept = staged
      .select(col(zoneId), col("id_source"), col("the_geom"), col("type"),
        col("main_use"), col("__fh"), col("zindex"), col("roof_shape"))
      .where(col("__fh.nb_lev") > 0 && col("zindex") >= 0)
      .select(col(zoneId), col("id_source"),
        posexplode(G.stExplode(col("the_geom"))).as(Seq("__part", "the_geom")),
        col("__fh.height_wall").as("height_wall"),
        col("__fh.height_roof").as("height_roof"),
        col("__fh.nb_lev").as("nb_lev"),
        col("type"), col("main_use"), col("zindex"), col("roof_shape"),
        col("__fh.estimated").as("estimated"))
      .where(G.stDimension(col("the_geom")) === 2 && G.stArea(col("the_geom")) > 1)
      .withColumn("the_geom", G.stNormalize(col("the_geom")))
    denseIds(kept, zoneId, Seq(col("id_source"), col("__part")), "id_build")
      .select(col(zoneId), col("the_geom"), col("id_build"), col("id_source"),
        col("height_wall"), col("height_roof"), col("nb_lev"),
        col("type"), col("main_use"), col("zindex"), col("roof_shape"), col("estimated"))
  }

  /**
   * formatRailsLayer (InputDataFormatting.groovy:484-563): rail type rules
   * with the subway gate (a subway survives only as tunnel=no at zindex>=0
   * or on a bridge/viaduct), bridge crossing lifting an unset zindex, width
   * from the gauge tag (gauge/1000 + 1 m ballast, default standard gauge
   * 1.435+1). The reference interpolates a null usage tag into the SQL
   * string, storing the literal 'null' — replicated deliberately.
   */
  def formatRailsLayer(raw: DataFrame, zoneId: String): DataFrame = {
    val cols = raw.columns.toSet
    val tag = tagOf(cols) _
    val typ0 = typeValue(OsmTagMaps.railType, cols)
    val z0 = zIndex(tag("layer"))
    val subwayOk = (tag("tunnel").isNotNull && tag("tunnel") === "no" && z0 >= 0) ||
      (tag("bridge").isNotNull && tag("bridge").isin("yes", "viaduct"))
    val typ = when(typ0 === "subway" && !subwayOk, lit(null).cast("string")).otherwise(typ0)
    val crossing = when(tag("bridge").isInCollection(OsmTagMaps.railCrossingBridge), "bridge")
      .otherwise(lit(null).cast("string"))
    val gauge = tag("gauge").try_cast("double")
    val kept = raw
      .select(col(zoneId), col("id").cast("string").as("id_source"), col("the_geom"),
        typ.as("type"), crossing.as("crossing"),
        when(z0 === 0 && crossing.isNotNull, 1).otherwise(z0).as("zindex"),
        when(gauge.isNotNull, gauge / 1000 + 1).otherwise(lit(1.435 + 1)).as("width"),
        coalesce(tag("usage"), lit("null")).as("usage")) // reference quirk: null usage -> 'null'
      .where(col("zindex") >= 0 && col("type").isNotNull)
      .select(col(zoneId), col("id_source"),
        posexplode(G.stExplode(col("the_geom"))).as(Seq("__part", "the_geom")),
        col("type"), col("crossing"), col("zindex"), col("width"), col("usage"))
    denseIds(kept, zoneId, Seq(col("id_source"), col("__part")), "id_rail")
      .select(col(zoneId), col("the_geom"), col("id_rail"), col("id_source"),
        col("type"), col("crossing"), col("zindex"), col("width"), col("usage"))
  }

  /**
   * formatVegetationLayer (InputDataFormatting.groovy:578-649): vegetation
   * type rules; rows with a non-grass surface tag drop; type 'pitch' flips
   * to 'grass' for the reference's sport list, drops for any other non-null
   * sport; height class from the type→class map AFTER the pitch override;
   * polygon parts with area > 1.
   */
  def formatVegetationLayer(raw: DataFrame, zoneId: String): DataFrame = {
    val cols = raw.columns.toSet
    val tag = tagOf(cols) _
    val typ0 = typeValue(OsmTagMaps.vegetType, cols)
    val grassSports = Seq("equestrian", "dog_racing", "canadian_football", "cricket",
      "croquet", "golf", "horse_racing", "motocross")
    val typ = when(typ0 === "pitch" && tag("sport").isInCollection(grassSports), "grass")
      .otherwise(typ0)
    val dropped = (tag("surface").isNotNull && tag("surface") =!= "grass") ||
      (typ0 === "pitch" && tag("sport").isNotNull && !tag("sport").isInCollection(grassSports))
    val heightClass =
      if (OsmTagMaps.vegetClass.isEmpty) lit(null).cast("string")
      else element_at(typedLit(OsmTagMaps.vegetClass), typ)
    val kept = raw
      .where(typ0.isNotNull && !coalesce(dropped, lit(false)))
      .select(col(zoneId), col("id").cast("string").as("id_source"), col("the_geom"),
        typ.as("type"), heightClass.as("height_class"), zIndex(tag("layer")).as("zindex"))
      .select(col(zoneId), col("id_source"),
        posexplode(G.stExplode(col("the_geom"))).as(Seq("__part", "the_geom")),
        col("type"), col("height_class"), col("zindex"))
      .where(G.stDimension(col("the_geom")) === 2 && G.stArea(col("the_geom")) > 1)
    denseIds(kept, zoneId, Seq(col("id_source"), col("__part")), "id_veget")
      .select(col(zoneId), col("the_geom"), col("id_veget"), col("id_source"),
        col("type"), col("height_class"), col("zindex"))
  }

  /**
   * formatWaterLayer (InputDataFormatting.groovy:660-715): seamark-typed
   * rows restricted to harbours (zone branch), natural=bay/strait typed
   * 'sea' else 'water', intermittent = tag == "yes", polygon parts with
   * area > 1.
   */
  def formatWaterLayer(raw: DataFrame, zoneId: String): DataFrame = {
    val cols = raw.columns.toSet
    val tag = tagOf(cols) _
    val kept = raw
      .where(tag("seamark:type").isNull ||
        tag("seamark:type").isin("harbour_basin", "harbour"))
      .select(col(zoneId), col("id").cast("string").as("id_source"), col("the_geom"),
        when(tag("natural").isin("bay", "strait"), "sea").otherwise("water").as("type"),
        coalesce(tag("intermittent") === "yes", lit(false)).as("intermittent"),
        zIndex(tag("layer")).as("zindex"))
      .select(col(zoneId), col("id_source"),
        posexplode(G.stExplode(col("the_geom"))).as(Seq("__part", "the_geom")),
        col("type"), col("intermittent"), col("zindex"))
      .where(G.stDimension(col("the_geom")) === 2 && G.stArea(col("the_geom")) > 1)
    denseIds(kept, zoneId, Seq(col("id_source"), col("__part")), "id_water")
      .select(col(zoneId), col("the_geom"), col("id_water"), col("id_source"),
        col("type"), col("intermittent"), col("zindex"))
  }

  /** ST_SnapToSelf (H2GIS): JTS GeometrySnapper.snapToSelf with the given
    * tolerance and result cleaning — the reference calls it with -0.001 on
    * urban areas (InputDataFormatting.groovy:1149). */
  private val snapToSelfUdf = udf { (b: Array[Byte], tol: Double) =>
    val g = graft.geom.Geo.fromWkb(b)
    graft.geom.Geo.toWkb(
      new org.locationtech.jts.operation.overlay.snap.GeometrySnapper(g)
        .snapToSelf(tol, true))
  }

  /**
   * removeOverlaps (DataUtils.groovy:255-278): each polygon that OVERLAPS
   * strictly smaller polygons becomes its difference with their buffered
   * union; everything else passes through. Pair search is the bbox-cell
   * candidates join keyed by `zoneId`.
   */
  def removeOverlaps(df: DataFrame, zoneId: String, idCol: String,
                     grid: graft.index.CellGrid, res: Int): DataFrame = {
    import graft.operators.SpatialJoin
    val b = df.select(col(zoneId), col(idCol).as("__idb"),
      col("the_geom").as("__gb"))
    val cut = SpatialJoin.candidates(df.select(col(zoneId), col(idCol), col("the_geom")),
        "the_geom", b, "__gb", grid, res, keys = Seq(zoneId))
      .where(col(idCol) =!= col("__idb") && G.stOverlaps(col("the_geom"), col("__gb"))
        && G.stArea(col("the_geom")) > G.stArea(col("__gb")))
      .groupBy(col(zoneId), col(idCol), col("the_geom"))
      .agg(G.st_union_agg(col("__gb")).as("__u"))
      .select(col(zoneId), col(idCol),
        G.stDifference(col("the_geom"), G.stBuffer(col("__u"), lit(0.0))).as("__cut"))
    df.join(cut, Seq(zoneId, idCol), "left")
      .withColumn("the_geom",
        when(col("__cut").isNotNull, col("__cut")).otherwise(col("the_geom")))
      .drop("__cut")
  }

  /**
   * withinToHoles (DataUtils.groovy:221-244): polygons fully containing
   * other polygons get them punched as holes (exterior ring + contained
   * rings, buffer(0) repair); everything else passes through.
   */
  def withinToHoles(df: DataFrame, zoneId: String, idCol: String,
                    grid: graft.index.CellGrid, res: Int): DataFrame = {
    import graft.operators.SpatialJoin
    val b = df.select(col(zoneId), col(idCol).as("__idb"), col("the_geom").as("__gb"))
    val punch = udf { (outer: Array[Byte], holes: Seq[Array[Byte]]) =>
      val o = graft.geom.Geo.fromWkb(outer).asInstanceOf[org.locationtech.jts.geom.Polygon]
      val hs = holes.filter(_ != null).flatMap { h =>
        val g = graft.geom.Geo.fromWkb(h)
        (0 until g.getNumGeometries).map(i =>
          graft.geom.Geo.factory.createLinearRing(
            g.getGeometryN(i).asInstanceOf[org.locationtech.jts.geom.Polygon]
              .getExteriorRing.getCoordinates))
      }
      graft.geom.Geo.toWkb(graft.geom.Geo.factory.createPolygon(
        graft.geom.Geo.factory.createLinearRing(o.getExteriorRing.getCoordinates),
        hs.toArray).buffer(0))
    }
    val holed = SpatialJoin.candidates(df.select(col(zoneId), col(idCol), col("the_geom")),
        "the_geom", b, "__gb", grid, res, keys = Seq(zoneId))
      .where(col(idCol) =!= col("__idb") && G.stContains(col("the_geom"), col("__gb")))
      .groupBy(col(zoneId), col(idCol), col("the_geom"))
      .agg(collect_list(col("__gb")).as("__hs"))
      .select(col(zoneId), col(idCol), punch(col("the_geom"), col("__hs")).as("__holed"))
    df.join(holed, Seq(zoneId, idCol), "left")
      .withColumn("the_geom",
        when(col("__holed").isNotNull, col("__holed")).otherwise(col("the_geom")))
      .drop("__holed")
  }

  /**
   * formatUrbanAreasLayer (InputDataFormatting.groovy:1127-1215): rows with
   * a building tag skipped; tag→type via the urban hierarchy (with the
   * construction override — inert under the default map, which has no
   * 'construction' target; replicated for custom maps); snap-to-self
   * -0.001 cleanup; polygon parts with area > 1; per-(zone, type) union,
   * exploded and re-identified; overlaps removed (larger minus smaller)
   * then contained areas punched as holes.
   */
  def formatUrbanAreasLayer(raw: DataFrame, zoneId: String,
                            grid: graft.index.CellGrid, res: Int): DataFrame = {
    val cols = raw.columns.toSet
    val tag = tagOf(cols) _
    val tu = typeAndUse(OsmTagMaps.urbanType, cols)
    val typ0 = tu.getField("t")
    val constructions = Seq("industrial", "commercial", "residential")
    val typ = when(typ0 === "construction" && tag("construction").isInCollection(constructions),
      tag("construction")).otherwise(typ0)
    val parts = raw
      .where(tag("building").isNull)
      .select(col(zoneId), typ.as("type"),
        snapToSelfUdf(col("the_geom"), lit(-0.001)).as("the_geom"))
      .where(col("type").isNotNull)
      .select(col(zoneId), col("type"),
        explode(G.stExplode(col("the_geom"))).as("the_geom"))
      .where(G.stDimension(col("the_geom")) === 2 && G.stArea(col("the_geom")) > 1)
    val merged = parts.groupBy(col(zoneId), col("type"))
      .agg(G.st_union_agg(col("the_geom")).as("__u"))
      .select(col(zoneId), col("type"), explode(G.stExplode(col("__u"))).as("the_geom"))
    val withIds = denseIds(merged, zoneId,
      Seq(col("type"), G.stX(G.stCentroid(col("the_geom"))),
        G.stY(G.stCentroid(col("the_geom")))), "id_urban")
    withinToHoles(
      removeOverlaps(withIds, zoneId, "id_urban", grid, res)
        .localCheckpoint(), // holes pass reads the overlap-resolved layer
      zoneId, "id_urban", grid, res)
      .select(col(zoneId), col("the_geom"), col("id_urban"), col("type"))
  }

  /**
   * formatImperviousLayer (InputDataFormatting.groovy:768-815): candidate
   * rows (SQL three-valued filter: building null OR non-grass surface OR
   * non-underground parking) have their linework noded + polygonized per
   * zone; each face is attributed to the LARGEST raw impervious polygon
   * containing its point-on-surface (the reference's left-join-max idiom —
   * on an area tie it inserts every tied row; here the max picks one
   * deterministically, types tie-broken lexicographically); the winning
   * row's tag→type mapping names the face; faces with area > 1 are unioned
   * per (zone, type) and re-exploded with fresh ids.
   */
  def formatImperviousLayer(raw: DataFrame, zoneId: String,
                            grid: graft.index.CellGrid, res: Int): DataFrame = {
    import graft.operators.{SpatialJoin, SpatialUnits}
    val cols = raw.columns.toSet
    val tag = tagOf(cols) _
    val keep = !tag("surface").isin("grass") || !tag("parking").isin("underground") ||
      tag("building").isNull
    val filtered = raw.where(keep)
    val faces = filtered
      .select(col(zoneId), G.stToMultiLine(col("the_geom")).as("the_geom"))
      .groupBy(col(zoneId)).agg(collect_list(col("the_geom")).as("__gs"))
      .select(col(zoneId), explode(SpatialUnits.polygonizeUdf(col("__gs"))).as("the_geom"))
      .where(G.stArea(col("the_geom")) > 1)
      .withColumn("__pos", G.stPointOnSurf(col("the_geom")))
      .select(col(zoneId).as("__fz"), col("the_geom").as("__face"),
        G.stX(col("__pos")).as("__px"), G.stY(col("__pos")).as("__py"))
    // attribution against the RAW layer (reference joins the unfiltered
    // table), type computed per raw row once
    val typed = raw.select(col(zoneId),
      typeAndUse(OsmTagMaps.imperviousType, cols).getField("t").as("__t"),
      G.stArea(col("the_geom")).as("__a"), col("the_geom"))
    val win = SpatialJoin.pointInPolygon(faces, "__px", "__py",
        typed, "the_geom", grid, res)
      .where(col("__fz") === col(zoneId))
      .groupBy(col(zoneId), col("__face"))
      .agg(max(struct(col("__a"), col("__t"))).getField("__t").as("type"))
      .where(col("type").isNotNull)
    val merged = win.groupBy(col(zoneId), col("type"))
      .agg(G.st_union_agg(col("__face")).as("__u"))
      .select(col(zoneId), col("type"), explode(G.stExplode(col("__u"))).as("the_geom"))
    denseIds(merged, zoneId,
      Seq(col("type"), G.stX(G.stCentroid(col("the_geom"))),
        G.stY(G.stCentroid(col("the_geom")))), "id_impervious")
      .select(col(zoneId), col("the_geom"), col("id_impervious"), col("type"))
  }

  /** LINEMERGE of a collected line set (H2GIS ST_LINEMERGE(ST_ACCUM(...))). */
  private val lineMergeUdf = udf { (gs: Seq[Array[Byte]]) =>
    val m = new org.locationtech.jts.operation.linemerge.LineMerger()
    gs.foreach(b => m.add(graft.geom.Geo.fromWkb(b)))
    import scala.jdk.CollectionConverters._
    m.getMergedLineStrings.asScala.toArray.map(g =>
      graft.geom.Geo.toWkb(g.asInstanceOf[org.locationtech.jts.geom.Geometry]))
  }

  /** ST_LocateAlong(geom, 0.5, -0.01) over exploded segments: each segment's
    * midpoint offset 0.01 to the RIGHT of its direction (negative offset =
    * right, like H2GIS/PostGIS; the sea side of a coastline drawn with land
    * on the left, the OSM convention). */
  private val segmentMidRightUdf = udf { (wkb: Array[Byte], offset: Double) =>
    graft.geom.Geo.segments(graft.geom.Geo.fromWkb(wkb)).map { case (x1, y1, x2, y2) =>
      val len = math.hypot(x2 - x1, y2 - y1)
      val mx = (x1 + x2) / 2; val my = (y1 + y2) / 2
      // left normal is (-dy, dx)/len; offset < 0 flips to the right side
      (mx - (y2 - y1) / len * offset, my + (x2 - x1) / len * offset)
    }
  }

  /**
   * formatSeaLandMask (InputDataFormatting.groovy:1222-1474): coastline
   * linework clipped to the zone, noded + polygonized with the 0.01-inset
   * zone boundary (and the water layer's linework when given) into faces;
   * each face typed by point evidence — 'sea' when it receives a coastline
   * midpoint offset 0.01 to the seaward side, 'water' (overriding sea) when
   * it contains the point-on-surface of a type='water' polygon, 'land'
   * otherwise.
   *
   * The reference tessellates faces over 100 000 m² so its R-tree probes
   * stay bounded (ST_Tesselate + per-triangle index); here the same
   * bounding comes from the cell-equijoin + prepared-locator point joins,
   * so faces are typed directly and never split/re-unioned. A zone with no
   * coastline polygonizes to a single whole-zone 'land' face (the
   * reference's no-water branch); its whole-zone-SEA fallback for a seaside
   * zone with water-but-no-coastline data is a caller-level substitution of
   * the WATER layer, not a mask output (InputDataFormatting.groovy:1345-1363).
   * All per-zone geometry ops are keyed by `zoneId`; output ids are dense
   * per zone over centroid order.
   */
  def formatSeaLandMask(coastline: DataFrame, zone: DataFrame,
                        water: Option[DataFrame], zoneId: String,
                        grid: graft.index.CellGrid, res: Int): DataFrame = {
    import graft.operators.{SpatialJoin, SpatialUnits}
    val z = zone.select(col(zoneId), col("the_geom").as("__zg"))
    def clipTo(df: DataFrame, zg: String): DataFrame = df
      .where(G.stIntersects(col(zg), col("the_geom")))
      .select(col(zoneId),
        when(G.stContains(col(zg), col("the_geom")), col("the_geom"))
          .otherwise(G.stIntersection(col("the_geom"), col(zg))).as("the_geom"))
    val coast = clipTo(
      coastline.where(col("natural") === "coastline").join(z, Seq(zoneId)), "__zg")
      .localCheckpoint() // feeds the mesh AND the islands/sea-point branch
    val reduced = z.select(col(zoneId), G.stBufferQuad(col("__zg"), lit(-0.01), lit(2)).as("__rg"))
    // mesh: coastlines + inset zone boundary + water linework, noded +
    // polygonized PER ZONE (sea_land_mask CTE; faces typed 'land' initially)
    val meshLines = coast
      .unionByName(reduced.select(col(zoneId), G.stToMultiLine(col("__rg")).as("the_geom")))
      .unionByName(water.map(_.select(col(zoneId), G.stToMultiLine(col("the_geom")).as("the_geom")))
        .getOrElse(coast.limit(0)))
    val faces = denseIds(
      meshLines.groupBy(col(zoneId))
        .agg(collect_list(col("the_geom")).as("__gs"))
        .select(col(zoneId), explode(SpatialUnits.polygonizeUdf(col("__gs"))).as("the_geom"))
        .where(G.stDimension(col("the_geom")) === 2 && G.stArea(col("the_geom")) > 0),
      zoneId, Seq(G.stX(G.stCentroid(col("the_geom"))),
        G.stY(G.stCentroid(col("the_geom")))), "id")
      .localCheckpoint() // faces probed by two point joins + the final type join
    // islands: merged coastline strands; their in-zone segment midpoints
    // offset to the seaward side are the 'sea' evidence points
    val islands = coast.groupBy(col(zoneId))
      .agg(collect_list(col("the_geom")).as("__gs"))
      .select(col(zoneId), explode(lineMergeUdf(col("__gs"))).as("the_geom"))
    val seaPts = clipTo(islands.join(reduced, Seq(zoneId)), "__rg")
      .select(col(zoneId), explode(segmentMidRightUdf(col("the_geom"), lit(-0.01))).as("__p"))
      .select(col(zoneId), col("__p._1").as("__px"), col("__p._2").as("__py"))
    val waterPts = water.map(_.where(col("type") === "water")
      .select(col(zoneId), G.stPointOnSurf(col("the_geom")).as("__pos"))
      .select(col(zoneId), G.stX(col("__pos")).as("__px"), G.stY(col("__pos")).as("__py")))
    // face ids receiving at least one evidence point (same-zone only)
    def faceIdsWith(pts: DataFrame): DataFrame =
      SpatialJoin.pointInPolygon(pts.withColumnRenamed(zoneId, "__pz"), "__px", "__py",
          faces, "the_geom", grid, res)
        .where(col("__pz") === col(zoneId))
        .select(col(zoneId), col("id")).dropDuplicates(zoneId, "id")
    val seaFaces = faceIdsWith(seaPts).withColumn("__sea", lit(true))
    val waterFaces = waterPts.map(p => faceIdsWith(p).withColumn("__water", lit(true)))
    val typed0 = faces.join(seaFaces, Seq(zoneId, "id"), "left")
    val typed = waterFaces.fold(typed0.withColumn("__water", lit(false)))(
      typed0.join(_, Seq(zoneId, "id"), "left"))
    typed.select(col(zoneId), col("id"), col("the_geom"),
      when(coalesce(col("__water"), lit(false)), "water")
        .when(coalesce(col("__sea"), lit(false)), "sea")
        .otherwise("land").as("type"),
      lit(0).as("zindex"))
  }

  /**
   * formatRoadLayer (InputDataFormatting.groovy:323-482): drops area=yes /
   * service-alley / agricultural-access rows; type (unclassified default)
   * with per-type width defaults; crossing from bridge values (lifting
   * zindex 0→1); surface rules + tracktype fallback; sidewalk / maxspeed /
   * oneway-direction / tunnel / lanes; rows kept when zindex >= 0 and —
   * for tracks — surface is in the paved set; geometry exploded to parts.
   * Input needs `id`, `the_geom` (line WKB), a `zoneId` column, tag columns.
   */
  def formatRoadLayer(raw: DataFrame, zoneId: String): DataFrame = {
    val cols = raw.columns.toSet
    val tag = tagOf(cols) _
    val dropped =
      tag("area") === "yes" ||
      tag("service").isin("parking_aisle", "alley", "slipway", "drive-through", "driveway") ||
      tag("access").isin("agricultural", "forestry")
    val typ = coalesce(typeValue(OsmTagMaps.roadType, cols), lit("unclassified"))
    val w0 = width(tag("width"))
    // flat CaseWhen (see OsmFormatting.formatHeights — nested otherwise
    // chains make codegen quadratic in depth)
    val wDefault = OsmTagMaps.roadWidth.foldLeft(Option.empty[Column]) {
      case (acc, (t, d)) => Some(acc.fold(when(col("type") === t, d))(_.when(col("type") === t, d)))
    }.getOrElse(lit(null)).cast("double")
    val crossing = when(tag("bridge").isInCollection(OsmTagMaps.roadCrossingBridge), "bridge")
      .otherwise(lit(null).cast("string"))
    val surface0 = typeValue(OsmTagMaps.roadSurface, cols)
    val surface = coalesce(surface0,
      when(tag("tracktype") === "grade1", "compacted")
        .when(tag("tracktype").isin("grade2", "grade3"), "gravel")
        .when(tag("tracktype").isin("grade4", "grade5"), "ground"))
    val z0 = zIndex(tag("layer"))
    val kept = raw.where(!coalesce(dropped, lit(false)))
      .select(col(zoneId), col("id").cast("string").as("id_source"), col("the_geom"),
        typ.as("type"), w0.as("__w0"), crossing.as("crossing"), surface.as("surface"),
        sidewalk(tag("sidewalk")).as("sidewalk"),
        speedKmh(tag("maxspeed")).as("maxspeed"),
        when(tag("oneway") === "yes", 1).otherwise(3).as("direction"),
        when(tag("tunnel") === "yes", 1).otherwise(0).as("tunnel"),
        tag("lanes").try_cast("int").as("lanes"),
        // bridge crossing lifts an unset zindex to 1 (reference `!zIndex`)
        when(z0 === 0 && crossing.isNotNull, 1).otherwise(z0).as("zindex"))
      .withColumn("width",
        when(col("__w0") <= 0 && wDefault.isNotNull, wDefault).otherwise(col("__w0")))
      .where(col("zindex") >= 0 &&
        (col("type") =!= "track" ||
          col("surface").isin("unpaved", "asphalt", "paved", "cobblestone",
            "metal", "concrete", "compacted")))
      .select(col(zoneId), col("id_source"),
        posexplode(G.stExplode(col("the_geom"))).as(Seq("__part", "the_geom")),
        col("width"), col("type"), col("crossing"), col("surface"), col("sidewalk"),
        col("maxspeed"), col("direction"), col("lanes"), col("zindex"), col("tunnel"))
    denseIds(kept, zoneId, Seq(col("id_source"), col("__part")), "id_road")
      .select(col(zoneId), col("the_geom"), col("id_road"), col("id_source"),
        col("width"), col("type"), col("crossing"), col("surface"), col("sidewalk"),
        col("maxspeed"), col("direction"), col("lanes"), col("zindex"), col("tunnel"))
  }
}
