package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.geom.{GeoFunctions => G}
import graft.operators.Tiling
import graft.sources.{OsmAssembly, OsmLayers, OsmTagMaps}

/**
 * Fifth query batch (round 3): OSM layer formatting (building + road type
 * mapping — InputDataFormatting.groovy:62-482), the sea/land mask
 * (:1222-1474), and multipolygon relation assembly (osmtools
 * Transform.groovy:384-622). The tag→type CASE chains in the DuckDB oracles
 * are GENERATED from the same [[OsmTagMaps]] structures the engine compiles
 * to Catalyst (first-match-wins parity by construction); heights use the
 * analytic-per-tag-shape scheme of `osm_format_heights` (Queries4); the
 * geometry scenes are axis-aligned with analytic areas. See
 * "Oracle-exactness rules", Queries.scala.
 */
object Queries5 {

  private val grid = graft.index.CellGrid.fixture
  private val Res = 8

  // ---- shared RF training scene (rf_train_apply + rf_persist_apply) -------
  // Training is deterministic (integer split statistics, keyed mtry draws),
  // so the two queries share one trained pair per session (SessionMemo).
  private val forestMemo =
    new SessionMemo[Unit, (graft.ml.RandomForest.Forest, graft.ml.RandomForest.Forest)]()

  private def trainedForests(s: SparkSession): (graft.ml.RandomForest.Forest, graft.ml.RandomForest.Forest) =
    forestMemo(s, ()) {
      val trainGrid = s.range(0, 1024).select(
        (col("id") % 16 + 1).cast("double").as("x1"),
        (floor(col("id") / 16) % 8 + 1).cast("double").as("x2"),
        (floor(col("id") / 128) + 1).cast("double").as("x3"), // noise feature
        when(col("id") % 16 + 1 > 8, 2)
          .when(floor(col("id") / 16) % 8 + 1 > 4, 1).otherwise(0).as("y"),
        // 32 distinct piecewise-constant values: depth 6 isolates them, and
        // the compiled tree stays under the 64KB codegen method limit (a
        // depth-8/128-leaf tree falls back to interpreted evaluation)
        ((col("id") % 16 + 1) * 10 +
          when(floor(col("id") / 16) % 8 + 1 > 4, 5).otherwise(0)).cast("double").as("yr"))
      val cls = graft.ml.RandomForestTrainer.train(trainGrid, Seq("x1", "x2", "x3"), "y",
        numTrees = 3, maxDepth = 4, numClasses = 3)
      val reg = graft.ml.RandomForestTrainer.train(trainGrid, Seq("x1", "x2"), "yr",
        numTrees = 1, maxDepth = 6, numClasses = 0)
      (cls, reg)
    }

  // ---- SQL emitters for the first-match-wins rule tables ------------------

  private def sq(s: String) = "'" + s.replace("'", "''") + "'"

  private def condSql(tagSql: String, v: String): String =
    if (v.startsWith("!")) s"($tagSql IS NOT NULL AND $tagSql <> ${sq(v.replace("! ", ""))})"
    else s"$tagSql = ${sq(v)}"

  /** getTypeValue as one CASE chain (same skip rules as OsmLayers.typeValue:
    * tags outside `cols` and empty value lists drop out of the condition). */
  private def caseSql(rules: Seq[(String, Seq[(String, Seq[String])])],
                      cols: Set[String], tagSql: String => String): String = {
    val whens = rules.flatMap { case (k, conds) =>
      val cs = conds.collect { case (t, vs) if cols(t) && vs.nonEmpty =>
        vs.map(v => condSql(tagSql(t), v)).mkString("(", " OR ", ")")
      }
      if (cs.isEmpty) None else Some(s"WHEN ${cs.mkString("(", " OR ", ")")} THEN ${sq(k)}")
    }
    if (whens.isEmpty) "CAST(NULL AS VARCHAR)"
    else whens.mkString("CASE ", " ", " ELSE NULL END")
  }

  private def useOverrideSql(buSql: String): String = {
    val l = s"lower(trim($buSql))"
    val whens = OsmTagMaps.buildingUse.map { case (k, syns) =>
      val eq = (s"$l = ${sq(k)}" +: syns.map(v => s"$l = ${sq(v)}")).mkString("(", " OR ", ")")
      s"WHEN $eq THEN ${sq(k)}"
    }
    whens.mkString("CASE ", " ", " ELSE NULL END")
  }

  private def levelMapSql(typeSql: String): String =
    OsmTagMaps.buildingLevel.map { case (t, l) => s"WHEN $typeSql = ${sq(t)} THEN $l" }
      .mkString("CASE ", " ", " ELSE NULL END")

  private def widthMapSql(typeSql: String): String =
    OsmTagMaps.roadWidth.map { case (t, w) => s"WHEN $typeSql = ${sq(t)} THEN $w" }
      .mkString("CASE ", " ", " ELSE NULL END")

  // ---- synthetic raw layers (shared between engine input and oracle) ------

  private val BldTags = Seq("terminal", "house", "historic", "yes", "apartments",
    "church", "hotel", "garage", "greenhouse", "monument", "wombat", "stadium")
  // tag columns present on the synthetic building input — passed identically
  // to the Catalyst compiler and the SQL emitter so both skip the same rules
  private val BldCols = Set("building", "amenity", "building:use", "height",
    "roof:height", "building:levels", "roof:levels", "layer", "roof:shape")

  private def rawBuildings(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val v = (d % 20 + 1).cast("string")
    s.read.parquet(s"$dir/documents.parquet").select(
      d.as("id"),
      element_at(lit(BldTags.toArray), (d % 12).cast("int") + 1).as("building"),
      when(d % 7 === 0, "school").otherwise(lit(null).cast("string")).as("amenity"),
      when(d % 5 === 0, " Hotel ").when(d % 5 === 1, "unknownuse")
        .otherwise(lit(null).cast("string")).as("building:use"),
      when(d % 8 === 0, lit(null).cast("string"))
        .when(d % 8 === 1, v)
        .when(d % 8 === 2, concat(v, lit(".5 m")))
        .when(d % 8 === 3, concat(v, lit("'")))
        .when(d % 8 === 4, concat(v, lit("''")))
        .when(d % 8 === 5, concat(v, lit("'"), (d % 12).cast("string"), lit("''")))
        .when(d % 8 === 6, concat(v, lit(" foot")))
        .otherwise(lit("n/a")).as("height"),
      when(d % 3 === 0, "2.5").otherwise(lit(null).cast("string")).as("roof:height"),
      when(d % 4 === 0, (d % 5 + 1).cast("string"))
        .otherwise(lit(null).cast("string")).as("building:levels"),
      when(d % 6 === 0, "1").otherwise(lit(null).cast("string")).as("roof:levels"),
      when(d % 10 === 9, "-1").when(d % 10 === 8, "2")
        .otherwise(lit(null).cast("string")).as("layer"),
      when(d % 2 === 0, "gable").otherwise(lit(null).cast("string")).as("roof:shape"),
      (d % 3).cast("int").as("id_zone"),
      G.stMakeBox((d % 40).cast("double") * 10, floor(d / 40).cast("double") * 10,
        (d % 40).cast("double") * 10 + 4, floor(d / 40).cast("double") * 10 + 4).as("the_geom"))
  }

  private val RoadTags = Seq("residential", "motorway", "track", "proposed",
    "primary", "footway", "cycleway", "service")
  private val RoadCols = Set("width", "highway", "surface", "sidewalk", "layer",
    "maxspeed", "lanes", "oneway", "bridge", "service", "access", "area",
    "tracktype", "tunnel")

  private def rawRoads(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    s.read.parquet(s"$dir/documents.parquet").select(
      d.as("id"),
      element_at(lit(RoadTags.toArray), (d % 8).cast("int") + 1).as("highway"),
      when(d % 6 === 0, concat((d % 9 + 2).cast("string"), lit(".5")))
        .when(d % 6 === 1, "wide").otherwise(lit(null).cast("string")).as("width"),
      when(d % 5 === 0, (d % 90 + 10).cast("string"))
        .when(d % 5 === 1, concat((d % 50 + 10).cast("string"), lit(" mph")))
        .when(d % 5 === 2, concat((d % 50 + 10).cast("string"), lit(" kmh")))
        .when(d % 5 === 3, "fast").otherwise(lit(null).cast("string")).as("maxspeed"),
      when(d % 4 === 0, "yes").otherwise(lit(null).cast("string")).as("oneway"),
      when(d % 7 === 0, "yes").when(d % 7 === 1, "viaduct").when(d % 7 === 2, "no")
        .otherwise(lit(null).cast("string")).as("bridge"),
      when(d % 11 === 0, "-1").when(d % 11 === 1, "1")
        .otherwise(lit(null).cast("string")).as("layer"),
      element_at(lit(Array[String](null, "asphalt", "grass", "sett", "concrete:plates")),
        (d % 5).cast("int") + 1).as("surface"),
      when(d % 9 === 0, "grade1").when(d % 9 === 1, "grade3").when(d % 9 === 2, "grade5")
        .otherwise(lit(null).cast("string")).as("tracktype"),
      element_at(lit(Array[String](null, "both", "left", "no")), (d % 4).cast("int") + 1).as("sidewalk"),
      when(d % 13 === 0, "driveway").otherwise(lit(null).cast("string")).as("service"),
      when(d % 17 === 0, "forestry").otherwise(lit(null).cast("string")).as("access"),
      when(d % 19 === 0, "yes").otherwise(lit(null).cast("string")).as("area"),
      when(d % 10 === 5, "yes").otherwise(lit(null).cast("string")).as("tunnel"),
      when(d % 6 === 2, (d % 4 + 1).cast("string")).otherwise(lit(null).cast("string")).as("lanes"),
      (d % 3).cast("int").as("id_zone"),
      G.stGeomFromWkt(format_string("LINESTRING(%d %d, %d %d)",
        (d % 40) * 10, floor(d / 40) * 10, (d % 40) * 10 + 8, floor(d / 40) * 10)).as("the_geom"))
  }

  // NOTE: these sets mirror the SYNTHETIC columns exactly (no "service"):
  // both the engine (raw.columns) and the oracle emitter must skip the same
  // rules, or a rule over an absent column would fire on one side only
  private val RailCols = Set("highspeed", "railway", "tunnel",
    "layer", "bridge", "gauge", "usage")
  private def rawRails(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    s.read.parquet(s"$dir/documents.parquet").select(
      d.as("id"),
      element_at(lit(Array("rail", "subway", "tram", "disused", "abandoned")),
        (d % 5).cast("int") + 1).as("railway"),
      when(d % 13 === 0, "yes").otherwise(lit(null).cast("string")).as("highspeed"),
      when(d % 6 === 0, "no").when(d % 6 === 1, "yes")
        .otherwise(lit(null).cast("string")).as("tunnel"),
      when(d % 7 === 0, "yes").when(d % 7 === 1, "viaduct").when(d % 7 === 2, "movable")
        .otherwise(lit(null).cast("string")).as("bridge"),
      when(d % 9 === 0, "-1").when(d % 9 === 1, "1")
        .otherwise(lit(null).cast("string")).as("layer"),
      when(d % 5 === 0, "1435").when(d % 5 === 1, "1000").when(d % 5 === 2, "wat")
        .otherwise(lit(null).cast("string")).as("gauge"),
      when(d % 4 === 0, "main").otherwise(lit(null).cast("string")).as("usage"),
      (d % 3).cast("int").as("id_zone"),
      G.stGeomFromWkt(format_string("LINESTRING(%d %d, %d %d)",
        (d % 40) * 10, floor(d / 40) * 10, (d % 40) * 10 + 8, floor(d / 40) * 10)).as("the_geom"))
  }

  private val VegCols = Set("natural", "landuse", "landcover", "leisure",
    "sport", "surface", "vineyard", "layer")
  private def rawVeget(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    s.read.parquet(s"$dir/documents.parquet").select(
      d.as("id"),
      element_at(lit(Array[String](null, "wood", "scrub", "grassland", "wetland")),
        (d % 5).cast("int") + 1).as("natural"),
      element_at(lit(Array[String](null, "farmland", "meadow", "forest", "vineyard", "residential")),
        (d % 6).cast("int") + 1).as("landuse"),
      when(d % 10 === 0, "trees").otherwise(lit(null).cast("string")).as("landcover"),
      when(d % 11 === 0, "pitch").when(d % 11 === 1, "park")
        .otherwise(lit(null).cast("string")).as("leisure"),
      when(d % 13 === 0, "golf").when(d % 13 === 1, "tennis")
        .otherwise(lit(null).cast("string")).as("sport"),
      when(d % 17 === 0, "grass").when(d % 17 === 1, "asphalt")
        .otherwise(lit(null).cast("string")).as("surface"),
      when(d % 19 === 0, "terraced").when(d % 19 === 1, "no")
        .otherwise(lit(null).cast("string")).as("vineyard"),
      when(d % 9 === 0, "1").otherwise(lit(null).cast("string")).as("layer"),
      (d % 3).cast("int").as("id_zone"),
      G.stMakeBox((d % 40).cast("double") * 10, floor(d / 40).cast("double") * 10,
        (d % 40).cast("double") * 10 + 4, floor(d / 40).cast("double") * 10 + 4).as("the_geom"))
  }

  private def rawWater(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    s.read.parquet(s"$dir/documents.parquet").select(
      d.as("id"),
      element_at(lit(Array[String](null, "water", "bay", "strait")),
        (d % 4).cast("int") + 1).as("natural"),
      when(d % 5 === 0, "yes").when(d % 5 === 1, "no")
        .otherwise(lit(null).cast("string")).as("intermittent"),
      when(d % 7 === 0, "harbour").when(d % 7 === 1, "mooring")
        .otherwise(lit(null).cast("string")).as("seamark:type"),
      when(d % 9 === 0, "-1").otherwise(lit(null).cast("string")).as("layer"),
      (d % 3).cast("int").as("id_zone"),
      G.stMakeBox((d % 40).cast("double") * 10, floor(d / 40).cast("double") * 10,
        (d % 40).cast("double") * 10 + 4, floor(d / 40).cast("double") * 10 + 4).as("the_geom"))
  }

  // ---- synthetic multipolygon relations (node/way/member tables) ----------
  // per doc r at offset (r%50*100, r/50*100): outer [0,20]² split into two
  // ways (second reversed), r%3 holes of 2x2 at integer coords; relations
  // with r%7==0 are tagged 'route' (not multipolygon) and must drop.
  private def relScene(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val base = s.read.parquet(s"$dir/documents.parquet").select(
      col("doc_id").cast("int").as("r"),
      (col("doc_id") % 50 * 100).cast("double").as("ox"),
      (floor(col("doc_id") / 50) * 100).cast("double").as("oy"),
      (col("doc_id") % 3).cast("int").as("nh"),
      (col("doc_id") % 7 =!= 0).as("mp"))
    val relationTags = base.select(col("r").as("id_relation"), lit("type").as("tag_key"),
      when(col("mp"), "multipolygon").otherwise("route").as("tag_value"))
    val members = base.select(col("r"), explode(array(lit(0), lit(1))).as("w"))
      .select(col("r").as("id_relation"), (col("r") * 100 + col("w")).as("id_way"),
        lit("outer").as("role"), col("w").as("way_order"))
      .unionByName(base
        .select(col("r"), explode(slice(array(lit(0), lit(1)), lit(1), col("nh"))).as("k"))
        .select(col("r").as("id_relation"), (col("r") * 100 + 10 + col("k")).as("id_way"),
          lit("inner").as("role"), (col("k") + 2).as("way_order")))
    def st3(t: Seq[(Int, Int, Int)]) =
      array(t.map { case (a, b, c) =>
        struct(lit(a).as("a"), lit(b).as("b"), lit(c).as("c")) }: _*)
    // outer ways: way 0 = nodes 0,1,2; way 1 REVERSED = nodes 2,3,0
    val wayNodes = base.select(col("r"),
        explode(st3(Seq((0, 0, 0), (0, 1, 1), (0, 2, 2), (1, 0, 2), (1, 1, 3), (1, 2, 0)))).as("e"))
      .select((col("r") * 100 + col("e.a")).as("way_id"), col("e.b").as("pos"),
        (col("r") * 1000 + col("e.c")).as("node_id"))
      .unionByName(base.select(col("r"), col("nh"),
          explode(st3(for { k <- Seq(0, 1); j <- 0 to 4 }
            yield (k, j, Seq(0, 1, 2, 3, 0)(j)))).as("e"))
        .where(col("e.a") < col("nh"))
        .select((col("r") * 100 + 10 + col("e.a")).as("way_id"), col("e.b").as("pos"),
          (col("r") * 1000 + 10 + col("e.a") * 10 + col("e.c")).as("node_id")))
    // nodes: outer corners + both holes' corners (unused ones are inert)
    val nodes = base.select(col("r"), col("ox"), col("oy"),
        explode(st3(Seq((0, 0, 0), (1, 20, 0), (2, 20, 20), (3, 0, 20)) ++
          (for { k <- Seq(0, 1); (j, dx, dy) <- Seq((0, 0, 0), (1, 2, 0), (2, 2, 2), (3, 0, 2)) }
            yield (10 + k * 10 + j, 2 + 6 * k + dx, 2 + dy)))).as("e"))
      .select((col("r") * 1000 + col("e.a")).as("node_id"),
        (col("ox") + col("e.b")).as("x"), (col("oy") + col("e.c")).as("y"))
    (relationTags, members, wayNodes, nodes)
  }

  // =========================================================================
  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // -- multipolygon relation assembly: outer/inner roles, split/reversed
    //    ways linemerged, holes punched (Transform.groovy:384-622) --------
    "osm_relation_assembly" -> ((s, dir) => {
      val (tags, members, wayNodes, nodes) = relScene(s, dir)
      OsmAssembly.assembleRelations(tags, members, wayNodes, nodes)
        .select(col("id_relation"), G.stArea(col("the_geom")).as("area"),
          G.stHolesArea(col("the_geom")).as("holes_area"),
          G.stPerimeter(col("the_geom")).as("perimeter"))
        .orderBy("id_relation")
    }),

    // -- formatBuildingLayer: tag->type/use hierarchy + levels + zindex
    //    (InputDataFormatting.groovy:62-320) ------------------------------
    "osm_format_building" -> ((s, dir) => {
      // barrier on the SYNTH layer: its tag columns are themselves CaseWhen
      // expressions over doc_id; fed straight in, the optimizer inlines each
      // into every rule comparison of the 154-entry chain and codegen blows
      // the heap. Real OSM inputs are materialized columns — no barrier.
      OsmLayers.formatBuildingLayer(rawBuildings(s, dir).localCheckpoint(), "id_zone")
        .select(col("id_build"), col("id_source"), col("type"), col("main_use"),
          round(col("height_wall"), 6).as("height_wall"),
          round(col("height_roof"), 6).as("height_roof"),
          col("nb_lev"), col("zindex"), col("roof_shape"), col("estimated"))
        .orderBy("id_build")
    }),

    // -- formatRailsLayer: rail types, subway gate, gauge width
    //    (InputDataFormatting.groovy:484-563) ----------------------------
    "osm_format_rail" -> ((s, dir) => {
      OsmLayers.formatRailsLayer(rawRails(s, dir).localCheckpoint(), "id_zone")
        .select(col("id_rail"), col("id_source"), col("type"), col("crossing"),
          col("zindex"), col("width"), col("usage"))
        .orderBy("id_rail")
    }),

    // -- formatVegetationLayer: type rules, pitch/sport + surface gates,
    //    height classes (InputDataFormatting.groovy:578-649) -------------
    "osm_format_veget" -> ((s, dir) => {
      OsmLayers.formatVegetationLayer(rawVeget(s, dir).localCheckpoint(), "id_zone")
        .select(col("id_veget"), col("id_source"), col("type"),
          col("height_class"), col("zindex"))
        .orderBy("id_veget")
    }),

    // -- formatWaterLayer: seamark harbour filter, bay/strait -> sea,
    //    intermittent flag (InputDataFormatting.groovy:660-715) ----------
    "osm_format_water" -> ((s, dir) => {
      OsmLayers.formatWaterLayer(rawWater(s, dir).localCheckpoint(), "id_zone")
        .select(col("id_water"), col("id_source"), col("type"),
          col("intermittent"), col("zindex"))
        .orderBy("id_water")
    }),

    // -- formatUrbanAreasLayer: tag->type, per-type union, overlaps removed
    //    (larger minus smaller), contained areas punched as holes
    //    (InputDataFormatting.groovy:1127-1215 + DataUtils removeOverlaps/
    //    withinToHoles). 10 zones, each: residential [0,100]² + disjoint
    //    [200,220]x[0,20]; commercial [80,140]x[0,60] overlapping it;
    //    industrial [20,40]² inside it; one building-tagged row skipped. --
    "osm_format_urban" -> ((s, dir) => {
      val z = s.range(0, 10).select(col("id").cast("int").as("id_zone"),
        (col("id") * 1000).cast("double").as("x0"))
      def rect(dx0: Double, dy0: Double, dx1: Double, dy1: Double, lu: String, bld: String) =
        z.select(col("id_zone"), lit(lu).as("landuse"),
          (if (bld == null) lit(null).cast("string") else lit(bld)).as("building"),
          lit(null).cast("string").as("construction"),
          G.stMakeBox(col("x0") + dx0, lit(dy0), col("x0") + dx1, lit(dy1)).as("the_geom"))
      val raw = rect(0, 0, 100, 100, "residential", null)
        .unionByName(rect(200, 0, 220, 20, "residential", null))
        .unionByName(rect(80, 0, 140, 60, "commercial", null))
        .unionByName(rect(20, 20, 40, 40, "industrial", null))
        .unionByName(rect(300, 0, 310, 10, "residential", "yes")) // building tag -> skipped
      OsmLayers.formatUrbanAreasLayer(raw, "id_zone", grid, Res)
        .select(col("id_zone"), col("type"),
          round(G.stArea(col("the_geom")), 6).as("area"),
          round(G.stHolesArea(col("the_geom")), 6).as("holes_area"))
        .orderBy("id_zone", "type", "area")
    }),

    // -- formatImperviousLayer: noded overlay faces attributed to the
    //    largest containing polygon, typed, unioned per type
    //    (InputDataFormatting.groovy:768-815). 10 zones, each: parking rect
    //    A [0,60]², sport (pitch) rect B [40,100]x[0,40] overlapping it
    //    (A wins the shared face by area, so parking reunifies to A),
    //    a disjoint power plant, one filtered-out row, one area<=1 face. --
    "osm_format_impervious" -> ((s, dir) => {
      val z = s.range(0, 10).select(col("id").cast("int").as("id_zone"),
        (col("id") * 1000).cast("double").as("x0"))
      def row(dx0: Double, dy0: Double, dx1: Double, dy1: Double,
              amenity: String, leisure: String, power: String,
              surface: String, parking: String, building: String) = {
        def lt(v: String) = if (v == null) lit(null).cast("string") else lit(v)
        z.select(col("id_zone"), lt(amenity).as("amenity"), lt(leisure).as("leisure"),
          lt(power).as("power"), lt(surface).as("surface"), lt(parking).as("parking"),
          lt(building).as("building"),
          G.stMakeBox(col("x0") + dx0, lit(dy0), col("x0") + dx1, lit(dy1)).as("the_geom"))
      }
      val raw = row(0, 0, 60, 60, "parking", null, null, null, null, null)
        .unionByName(row(40, 0, 100, 40, null, "pitch", null, null, null, null))
        .unionByName(row(200, 200, 220, 220, null, null, "plant", null, null, null))
        .unionByName(row(300, 0, 320, 20, null, null, "plant", "grass", "underground", "yes"))
        .unionByName(row(400, 0, 401, 1, "parking", null, null, null, null, null))
      OsmLayers.formatImperviousLayer(raw, "id_zone", grid, Res)
        .select(col("id_zone"), col("type"),
          round(G.stArea(col("the_geom")), 6).as("area"))
        .orderBy("id_zone", "type")
    }),

    // -- OSM XML end-to-end: the relScene encoded as <osm> documents, parsed
    //    by from_xml into node/way/relation tables (InputDataLoading
    //    createGISLayers envelope), then assembled into polygons-with-holes.
    //    Same analytic expectations as osm_relation_assembly. -------------
    "osm_xml_relations" -> ((s, dir) => {
      val d = col("doc_id")
      def nd(local: Int, dx: Int, dy: Int) = format_string(
        s"""<node id="%d" lat="%s" lon="%s"/>""",
        d * 1000 + local, (floor(d / 50) * 100).cast("double") + dy,
        (d % 50 * 100).cast("double") + dx)
      def holeNd(k: Int) = concat(Seq((0, 0, 0), (1, 2, 0), (2, 2, 2), (3, 0, 2)).map {
        case (j, dx, dy) => nd(10 + k * 10 + j, 2 + 6 * k + dx, 2 + dy) }: _*)
      def way(local: Int, nodeLocals: Seq[Int]) = format_string(
        s"""<way id="%d">${nodeLocals.map(_ => """<nd ref="%d"/>""").mkString}</way>""",
        (d * 100 + local) +: nodeLocals.map(n => d * 1000 + n): _*)
      def holeWay(k: Int) =
        when(d % 3 > k, way(10 + k, Seq(0, 1, 2, 3, 0).map(_ + 10 + k * 10))).otherwise("")
      val rel = concat(
        format_string("""<relation id="%d">""", d),
        format_string("""<member type="way" ref="%d" role="outer"/>""", d * 100),
        format_string("""<member type="way" ref="%d" role="outer"/>""", d * 100 + 1),
        when(d % 3 > 0, format_string("""<member type="way" ref="%d" role="inner"/>""", d * 100 + 10)).otherwise(""),
        when(d % 3 > 1, format_string("""<member type="way" ref="%d" role="inner"/>""", d * 100 + 11)).otherwise(""),
        when(d % 7 =!= 0, lit("""<tag k="type" v="multipolygon"/>"""))
          .otherwise(lit("""<tag k="type" v="route"/>""")),
        lit("</relation>"))
      val xml = s.read.parquet(s"$dir/documents.parquet").select(concat(
        lit("<osm>"), nd(0, 0, 0), nd(1, 20, 0), nd(2, 20, 20), nd(3, 0, 20),
        holeNd(0), holeNd(1),
        way(0, Seq(0, 1, 2)), way(1, Seq(2, 3, 0)), holeWay(0), holeWay(1),
        rel, lit("</osm>")).as("xml"))
      val t = graft.sources.OsmXml.parse(xml, "xml")
      OsmAssembly.assembleRelations(t.relationTags, t.relationMembers, t.wayNodes, t.nodes)
        .select(col("id_relation"), G.stArea(col("the_geom")).as("area"),
          G.stHolesArea(col("the_geom")).as("holes_area"),
          G.stPerimeter(col("the_geom")).as("perimeter"))
        .orderBy("id_relation")
    }),

    // -- RF TRAINING + apply parity (TypologyClassification.groovy:555-650):
    //    the distributed CART trainer learns an exactly-learnable step rule
    //    (pure integer regions) and a piecewise-constant regression target;
    //    predictions on in-region points must equal the generating rule,
    //    which is what the oracle evaluates. -----------------------------
    "rf_train_apply" -> ((s, dir) => {
      val (cls, reg) = trainedForests(s)
      val d = col("doc_id")
      val eval = s.read.parquet(s"$dir/documents.parquet").select(d.as("doc_id"),
        (d % 16 + 1).cast("double").as("x1"),
        (d % 8 + 1).cast("double").as("x2"),
        (d % 5 + 1).cast("double").as("x3"))
      val feats = Map("x1" -> col("x1"), "x2" -> col("x2"), "x3" -> col("x3"))
      val votes = graft.ml.RandomForest.classifyVoteColumns(cls, feats, 3)
      eval.select(col("doc_id"),
          graft.ml.RandomForest.argmaxColumn(votes, Seq("0", "1", "2")).cast("int").as("pred_class"),
          graft.ml.RandomForest.regressColumn(reg, feats).as("pred_value"))
        .orderBy("doc_id")
    }),

    // -- RF model persistence through the driver gate: same training scene
    //    as rf_train_apply (forests shared via trainedForests — training is
    //    deterministic, so memoization cannot change results), but both
    //    forests make a save -> load round trip (ml/RandomForest.scala text
    //    format; thresholds as exact-round-trip Double.toString) before
    //    applying — predictions must be bit-identical, so the oracle is the
    //    same generating rule. ------------------------------------------
    "rf_persist_apply" -> ((s, dir) => {
      val (cls0, reg0) = trainedForests(s)
      def roundTrip(f: graft.ml.RandomForest.Forest): graft.ml.RandomForest.Forest = {
        val p = java.nio.file.Files.createTempFile("graft_rf", ".model")
        try {
          graft.ml.RandomForest.save(f, p.toString)
          graft.ml.RandomForest.load(p.toString)
        } finally java.nio.file.Files.delete(p)
      }
      val cls = roundTrip(cls0)
      val reg = roundTrip(reg0)
      val d = col("doc_id")
      val eval = s.read.parquet(s"$dir/documents.parquet").select(d.as("doc_id"),
        (d % 16 + 1).cast("double").as("x1"),
        (d % 8 + 1).cast("double").as("x2"),
        (d % 5 + 1).cast("double").as("x3"))
      val feats = Map("x1" -> col("x1"), "x2" -> col("x2"), "x3" -> col("x3"))
      val votes = graft.ml.RandomForest.classifyVoteColumns(cls, feats, 3)
      eval.select(col("doc_id"),
          graft.ml.RandomForest.argmaxColumn(votes, Seq("0", "1", "2")).cast("int").as("pred_class"),
          graft.ml.RandomForest.regressColumn(reg, feats).as("pred_value"))
        .orderBy("doc_id")
    }),

    // -- shapefile round trip through the driver gate: write synthetic
    //    point/line/polygon layers with the from-scratch .shp/.dbf WRITER
    //    (Shapefile.write), read them back through the reader the BDTopo
    //    path uses (Shapefile.read), and emit exact integer-coordinate
    //    measures + dbf attributes — the oracle recomputes the generating
    //    arithmetic (doubles ride the file as raw IEEE bits, shoelace areas
    //    on integer coords are exact) -----------------------------------
    "shp_roundtrip" -> ((s, dir) => {
      val d = col("doc_id")
      val docs = s.read.parquet(s"$dir/documents.parquet").where(d < 40)
        .select(d.cast("int").as("doc_id")).localCheckpoint()
      val pts = docs.select(
        G.stPoint(d.cast("double") * 3 + 0.5, d.cast("double") * 1.5).as("the_geom"),
        d.as("id"), concat(lit("p"), d).as("name"))
      val x0 = d.cast("double") * 10
      val lw = (d % 4 + 1).cast("double"); val lh = (d % 3 + 1).cast("double")
      val lines = docs.select(
        G.stGeomFromWkt(format_string("LINESTRING(%s 0, %s 0, %s %s)",
          x0, x0 + lw, x0 + lw, lh)).as("the_geom"),
        d.as("id"), concat(lit("l"), d).as("name"))
      val pw = (d % 4 + 2).cast("double"); val ph = (d % 3 + 2).cast("double")
      val shell = format_string("(%s 0, %s 0, %s %s, %s %s, %s 0)",
        x0, x0 + pw, x0 + pw, ph, x0, ph, x0)
      val hole = format_string(", (%s 1, %s 2, %s 2, %s 1, %s 1)",
        x0 + 1, x0 + 1, x0 + 2, x0 + 2, x0 + 1)
      val polys = docs.select(
        G.stGeomFromWkt(concat(lit("POLYGON("), shell,
          when(d % 2 === 0, hole).otherwise(""), lit(")"))).as("the_geom"),
        d.as("id"), concat(lit("g"), d).as("name"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_shp")
      def roundTrip(layer: DataFrame, kind: String): DataFrame = {
        val p = s"$tmp/$kind.shp"
        graft.sources.Shapefile.write(layer, "the_geom", p)
        val back = graft.sources.Shapefile.read(s, p)
        val measure = kind match {
          case "point" => G.stX(col("the_geom"))
          case "line" => G.stLength(col("the_geom"))
          case _ => G.stArea(col("the_geom"))
        }
        back.select(lit(kind).as("kind"),
            graft.sources.Shapefile.attr("id").cast("int").as("id"),
            measure.as("measure"),
            G.stHolesArea(col("the_geom")).as("holes_area"),
            graft.sources.Shapefile.attr("name").as("name"))
          .localCheckpoint() // materialize before the temp files are deleted
      }
      val out = roundTrip(pts, "point")
        .unionByName(roundTrip(lines, "line"))
        .unionByName(roundTrip(polys, "poly"))
        .orderBy("kind", "id")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
      out
    }),

    // -- asc raster sink byte-golden: write the ESRI ASCII grid, hash the
    //    bytes; the oracle rebuilds the EXACT text (values are k/8 — exact
    //    at 3 decimals, so HALF_UP and printf agree) ----------------------
    "sink_asc" -> ((s, dir) => {
      import s.implicits._
      val d = col("doc_id")
      val cells = s.read.parquet(s"$dir/documents.parquet").where(d < 20).select(
        (d % 5 + 1).cast("int").as("id_col"),
        (floor(d / 5) + 1).cast("int").as("id_row"),
        ((d * 7 % 32).cast("double") / 8).as("v"))
      val path = java.nio.file.Files.createTempFile("graft_sink", ".asc")
      Tiling.writeAsc(cells, "v", path.toString, 0.0, 0.0, 10.0, nCols = 5, nRows = 4)
      val bytes = java.nio.file.Files.readAllBytes(path)
      java.nio.file.Files.delete(path)
      val md5 = java.security.MessageDigest.getInstance("MD5").digest(bytes)
        .map("%02x".format(_)).mkString
      Seq((bytes.length.toLong, md5)).toDF("n_bytes", "md5")
    }),

    // -- GeoJSON sink byte-golden: write the FeatureCollection (points +
    //    escaped string props), hash the bytes; the oracle rebuilds the
    //    exact text (double->string renderings agree for d.5/d.0 values) --
    "sink_geojson" -> ((s, dir) => {
      import s.implicits._
      val d = col("doc_id")
      val rows = s.read.parquet(s"$dir/documents.parquet").where(d < 25).select(
        d.cast("int").as("id"),
        concat(lit("q\""), d.cast("string")).as("name"),
        G.stPoint((d % 10).cast("double") * 2.5, d.cast("double") * 1.5).as("the_geom"))
        .orderBy("id")
      val path = java.nio.file.Files.createTempFile("graft_sink", ".geojson")
      graft.lake.Sinks.writeGeoJson(rows, "the_geom", path.toString)
      val bytes = java.nio.file.Files.readAllBytes(path)
      java.nio.file.Files.delete(path)
      val md5 = java.security.MessageDigest.getInstance("MD5").digest(bytes)
        .map("%02x".format(_)).mkString
      Seq((25, bytes.length.toLong, md5)).toDF("n_features", "n_bytes", "md5")
    }),

    // -- formatSeaLandMask: coastline + inset zone + water linework
    //    polygonized per zone; faces typed land/sea/water by point evidence
    //    (InputDataFormatting.groovy:1222-1474). 10 zones, each the
    //    SeaLandMaskSpec scene offset by zone*1000 in x: a pond (water), a
    //    two-coastline sea strip with an untyped enclave, two land faces. --
    "osm_sea_land_mask" -> ((s, dir) => {
      val z = s.range(0, 10).select(col("id").cast("int").as("id_zone"),
        (col("id") * 1000).cast("double").as("x0"))
      val zone = z.select(col("id_zone"),
        G.stMakeBox(col("x0"), lit(0.0), col("x0") + 300, lit(300.0)).as("the_geom"))
      val coastline = z.select(col("id_zone"), lit("coastline").as("natural"),
          G.stGeomFromWkt(format_string("LINESTRING(%.0f -10, %.0f 310)",
            col("x0") + 100, col("x0") + 100)).as("the_geom"))
        .unionByName(z.select(col("id_zone"), lit("coastline").as("natural"),
          G.stGeomFromWkt(format_string("LINESTRING(%.0f 310, %.0f -10)",
            col("x0") + 220, col("x0") + 220)).as("the_geom")))
      val water = z.select(col("id_zone"), lit("water").as("type"),
          G.stMakeBox(col("x0") + 20, lit(20.0), col("x0") + 60, lit(60.0)).as("the_geom"))
        .unionByName(z.select(col("id_zone"), lit("sea").as("type"),
          G.stMakeBox(col("x0") + 110, lit(20.0), col("x0") + 130, lit(40.0)).as("the_geom")))
      OsmLayers.formatSeaLandMask(coastline, zone, Some(water), "id_zone", grid, Res)
        .select(col("id_zone"), col("type"),
          round(G.stArea(col("the_geom")), 6).as("area"),
          round(G.stPerimeter(col("the_geom")), 6).as("perimeter"))
        .orderBy("id_zone", "area")
    }),

    // -- formatRoadLayer: type mapping, width defaults, crossing/surface/
    //    sidewalk/speed (InputDataFormatting.groovy:323-482) --------------
    "osm_format_road" -> ((s, dir) => {
      OsmLayers.formatRoadLayer(rawRoads(s, dir).localCheckpoint(), "id_zone")
        .select(col("id_road"), col("id_source"), col("type"), col("width"),
          col("crossing"), col("surface"), col("sidewalk"), col("maxspeed"),
          col("direction"), col("lanes"), col("zindex"), col("tunnel"))
        .orderBy("id_road")
    }))

  // =========================================================================
  val oracles: Map[String, String] = Map(

    "osm_format_rail" -> {
      val tagSql = Map("highspeed" -> "hs", "railway" -> "railway",
        "tunnel" -> "tun", "layer" -> "lyr", "bridge" -> "br",
        "gauge" -> "gau", "usage" -> "usg")
      val typeCase = caseSql(OsmTagMaps.railType, RailCols, tagSql)
      val bridgeList = OsmTagMaps.railCrossingBridge.map(sq).mkString("(", ", ", ")")
      s"""WITH raw AS (SELECT doc_id AS id,
        |    ['rail','subway','tram','disused','abandoned'][CAST(doc_id % 5 AS INT) + 1] AS railway,
        |    CASE WHEN doc_id % 13 = 0 THEN 'yes' ELSE NULL END AS hs,
        |    CASE WHEN doc_id % 6 = 0 THEN 'no' WHEN doc_id % 6 = 1 THEN 'yes' ELSE NULL END AS tun,
        |    CASE WHEN doc_id % 7 = 0 THEN 'yes' WHEN doc_id % 7 = 1 THEN 'viaduct'
        |         WHEN doc_id % 7 = 2 THEN 'movable' ELSE NULL END AS br,
        |    CASE WHEN doc_id % 9 = 0 THEN -1 WHEN doc_id % 9 = 1 THEN 1 ELSE 0 END AS z0,
        |    CASE WHEN doc_id % 5 = 0 THEN CAST(1435 AS DOUBLE) WHEN doc_id % 5 = 1 THEN CAST(1000 AS DOUBLE)
        |         ELSE NULL END AS gauge_d,
        |    CASE WHEN doc_id % 4 = 0 THEN 'main' ELSE 'null' END AS usg,
        |    CAST(doc_id % 3 AS INT) AS id_zone
        |  FROM documents),
        |t1 AS (SELECT *, $typeCase AS type0 FROM raw),
        |t2 AS (SELECT *,
        |    CASE WHEN type0 = 'subway' AND NOT ((tun IS NOT NULL AND tun = 'no' AND z0 >= 0)
        |         OR (br IS NOT NULL AND br IN ('yes', 'viaduct'))) THEN NULL
        |         ELSE type0 END AS type,
        |    CASE WHEN br IN $bridgeList THEN 'bridge' ELSE NULL END AS crossing,
        |    CASE WHEN gauge_d IS NOT NULL THEN gauge_d / 1000 + 1
        |         ELSE CAST(1.435 AS DOUBLE) + 1 END AS width
        |  FROM t1),
        |t3 AS (SELECT *, CASE WHEN z0 = 0 AND crossing IS NOT NULL THEN 1 ELSE z0 END AS zindex
        |  FROM t2),
        |kept AS (SELECT * FROM t3 WHERE zindex >= 0 AND type IS NOT NULL)
        |SELECT CAST(row_number() OVER (ORDER BY id_zone, CAST(id AS VARCHAR)) AS INT) AS id_rail,
        |  CAST(id AS VARCHAR) AS id_source, type, crossing, zindex, width, usg AS usage
        |FROM kept ORDER BY id_rail""".stripMargin
    },

    "osm_format_veget" -> {
      val tagSql = Map("natural" -> "nat", "landuse" -> "lu", "landcover" -> "lc",
        "leisure" -> "lei", "sport" -> "sp", "surface" -> "surf",
        "vineyard" -> "vy", "layer" -> "lyr")
      val typeCase = caseSql(OsmTagMaps.vegetType, VegCols, tagSql)
      val classCase = OsmTagMaps.vegetClass.map { case (t, c) =>
        s"WHEN type = ${sq(t)} THEN ${sq(c)}" }.mkString("CASE ", " ", " ELSE NULL END")
      val sports = Seq("equestrian", "dog_racing", "canadian_football", "cricket",
        "croquet", "golf", "horse_racing", "motocross").map(sq).mkString("(", ", ", ")")
      s"""WITH raw AS (SELECT doc_id AS id,
        |    [NULL, 'wood', 'scrub', 'grassland', 'wetland'][CAST(doc_id % 5 AS INT) + 1] AS nat,
        |    [NULL, 'farmland', 'meadow', 'forest', 'vineyard', 'residential'][CAST(doc_id % 6 AS INT) + 1] AS lu,
        |    CASE WHEN doc_id % 10 = 0 THEN 'trees' ELSE NULL END AS lc,
        |    CASE WHEN doc_id % 11 = 0 THEN 'pitch' WHEN doc_id % 11 = 1 THEN 'park' ELSE NULL END AS lei,
        |    CASE WHEN doc_id % 13 = 0 THEN 'golf' WHEN doc_id % 13 = 1 THEN 'tennis' ELSE NULL END AS sp,
        |    CASE WHEN doc_id % 17 = 0 THEN 'grass' WHEN doc_id % 17 = 1 THEN 'asphalt' ELSE NULL END AS surf,
        |    CASE WHEN doc_id % 19 = 0 THEN 'terraced' WHEN doc_id % 19 = 1 THEN 'no' ELSE NULL END AS vy,
        |    CASE WHEN doc_id % 9 = 0 THEN 1 ELSE 0 END AS zindex,
        |    CAST(doc_id % 3 AS INT) AS id_zone
        |  FROM documents),
        |t1 AS (SELECT *, $typeCase AS type0 FROM raw),
        |t2 AS (SELECT *, CASE WHEN type0 = 'pitch' AND sp IN $sports THEN 'grass'
        |    ELSE type0 END AS type,
        |    ((surf IS NOT NULL AND surf <> 'grass')
        |      OR (type0 = 'pitch' AND sp IS NOT NULL AND sp NOT IN $sports)) AS dropped
        |  FROM t1),
        |kept AS (SELECT * FROM t2 WHERE type0 IS NOT NULL AND NOT dropped)
        |SELECT CAST(row_number() OVER (ORDER BY id_zone, CAST(id AS VARCHAR)) AS INT) AS id_veget,
        |  CAST(id AS VARCHAR) AS id_source, type, $classCase AS height_class, zindex
        |FROM kept ORDER BY id_veget""".stripMargin
    },

    "osm_format_water" ->
      """WITH raw AS (SELECT doc_id AS id,
        |    [NULL, 'water', 'bay', 'strait'][CAST(doc_id % 4 AS INT) + 1] AS nat,
        |    CASE WHEN doc_id % 5 = 0 THEN 'yes' WHEN doc_id % 5 = 1 THEN 'no' ELSE NULL END AS itm,
        |    CASE WHEN doc_id % 7 = 0 THEN 'harbour' WHEN doc_id % 7 = 1 THEN 'mooring' ELSE NULL END AS smk,
        |    CASE WHEN doc_id % 9 = 0 THEN -1 ELSE 0 END AS zindex,
        |    CAST(doc_id % 3 AS INT) AS id_zone
        |  FROM documents),
        |kept AS (SELECT * FROM raw WHERE smk IS NULL OR smk IN ('harbour_basin', 'harbour'))
        |SELECT CAST(row_number() OVER (ORDER BY id_zone, CAST(id AS VARCHAR)) AS INT) AS id_water,
        |  CAST(id AS VARCHAR) AS id_source,
        |  CASE WHEN nat IN ('bay', 'strait') THEN 'sea' ELSE 'water' END AS type,
        |  coalesce(itm = 'yes', false) AS intermittent, zindex
        |FROM kept ORDER BY id_water""".stripMargin,

    // hand-derived: parking face-set reunifies to the full A rect (it wins
    // the shared face by area); sport keeps its non-overlapped remainder;
    // power keeps the disjoint plant; filtered/area<=1 rows vanish
    "osm_format_impervious" ->
      """WITH z AS (SELECT CAST(range AS INT) AS id_zone FROM range(0, 10)),
        |f(type, area) AS (VALUES
        |  ('parking', 3600.0), ('power', 400.0), ('sport', 1600.0))
        |SELECT id_zone, type, round(area, 6) AS area
        |FROM z CROSS JOIN f ORDER BY id_zone, type""".stripMargin,

    // hand-derived: commercial keeps 3600; industrial 400; residential
    // splits into the disjoint 400 part and the big part minus the
    // commercial overlap (20x60) with the industrial rect punched as a hole
    "osm_format_urban" ->
      """WITH z AS (SELECT CAST(range AS INT) AS id_zone FROM range(0, 10)),
        |f(type, area, holes_area) AS (VALUES
        |  ('commercial', 3600.0, 0.0),
        |  ('industrial', 400.0, 0.0),
        |  ('residential', 400.0, 0.0),
        |  ('residential', 10000.0 - 1200.0 - 400.0, 400.0))
        |SELECT id_zone, type, round(area, 6) AS area, round(holes_area, 6) AS holes_area
        |FROM z CROSS JOIN f ORDER BY id_zone, type, area""".stripMargin,

    // same scene as osm_relation_assembly, arriving via the XML envelope
    // (from_xml ids parse as BIGINT)
    "osm_xml_relations" ->
      """SELECT doc_id AS id_relation,
        |  CAST(400 - 4 * (doc_id % 3) AS DOUBLE) AS area,
        |  CAST(4 * (doc_id % 3) AS DOUBLE) AS holes_area,
        |  80.0 AS perimeter
        |FROM documents WHERE doc_id % 7 <> 0 ORDER BY id_relation""".stripMargin,

    // the generating rule the trainer must recover exactly on in-region
    // evaluation points (integer features -> exact split statistics)
    "rf_train_apply" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 16 + 1 > 8 THEN 2
        |    WHEN doc_id % 8 + 1 > 4 THEN 1 ELSE 0 END AS INT) AS pred_class,
        |  CAST((doc_id % 16 + 1) * 10 +
        |    (CASE WHEN doc_id % 8 + 1 > 4 THEN 5 ELSE 0 END) AS DOUBLE) AS pred_value
        |FROM documents ORDER BY doc_id""".stripMargin,

    // persisted-model application is bit-identical to the fresh model:
    // the oracle is rf_train_apply's generating rule, unchanged
    "rf_persist_apply" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 16 + 1 > 8 THEN 2
        |    WHEN doc_id % 8 + 1 > 4 THEN 1 ELSE 0 END AS INT) AS pred_class,
        |  CAST((doc_id % 16 + 1) * 10 +
        |    (CASE WHEN doc_id % 8 + 1 > 4 THEN 5 ELSE 0 END) AS DOUBLE) AS pred_value
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the round trip is lossless (raw IEEE doubles in .shp, trimmed strings
    // in .dbf), so the oracle recomputes the generating arithmetic directly
    "shp_roundtrip" ->
      """WITH d AS (SELECT CAST(doc_id AS INT) AS id FROM documents WHERE doc_id < 40)
        |SELECT 'point' AS kind, id, CAST(id * 3 + 0.5 AS DOUBLE) AS measure,
        |  0.0 AS holes_area, 'p' || id AS name FROM d
        |UNION ALL
        |SELECT 'line', id, CAST(id % 4 + 1 + id % 3 + 1 AS DOUBLE), 0.0, 'l' || id FROM d
        |UNION ALL
        |SELECT 'poly', id,
        |  CAST((id % 4 + 2) * (id % 3 + 2) - CASE WHEN id % 2 = 0 THEN 1 ELSE 0 END AS DOUBLE),
        |  CAST(CASE WHEN id % 2 = 0 THEN 1 ELSE 0 END AS DOUBLE), 'g' || id FROM d
        |ORDER BY kind, id""".stripMargin,

    // byte-exact replica of Tiling.writeAsc: header, then rows top-down,
    // each value 3-decimal fixed + one trailing space, newline per row
    "sink_asc" ->
      """WITH cells AS (SELECT CAST(doc_id % 5 + 1 AS INT) AS c,
        |    CAST(doc_id // 5 + 1 AS INT) AS r,
        |    CAST(doc_id * 7 % 32 AS DOUBLE) / 8 AS v
        |  FROM documents WHERE doc_id < 20),
        |lines AS (SELECT r, string_agg(printf('%.3f', v) || ' ', '' ORDER BY c) AS line
        |  FROM cells GROUP BY r),
        |body AS (SELECT string_agg(line || chr(10), '' ORDER BY r DESC) AS b FROM lines),
        |txt AS (SELECT 'ncols 5' || chr(10) || 'nrows 4' || chr(10) ||
        |    'xllcorner 0.0' || chr(10) || 'yllcorner 0.0' || chr(10) ||
        |    'cellsize 10.0' || chr(10) || 'nodata_value -9999' || chr(10) || b AS t
        |  FROM body)
        |SELECT CAST(length(t) AS BIGINT) AS n_bytes, md5(t) AS md5 FROM txt""".stripMargin,

    // byte-exact replica of Sinks.writeGeoJson for the point scene: Scala
    // Double.toString and DuckDB's double->VARCHAR agree on d.0/d.5 values
    "sink_geojson" ->
      """WITH f AS (SELECT doc_id AS id,
        |    '{"type":"Feature","geometry":{"type":"Point","coordinates":[' ||
        |    CAST(CAST(doc_id % 10 AS DOUBLE) * 2.5 AS VARCHAR) || ',' ||
        |    CAST(CAST(doc_id AS DOUBLE) * 1.5 AS VARCHAR) ||
        |    ']},"properties":{"id":' || CAST(doc_id AS VARCHAR) ||
        |    ',"name":"q' || chr(92) || chr(34) || CAST(doc_id AS VARCHAR) || '"}}' AS feat
        |  FROM documents WHERE doc_id < 25),
        |txt AS (SELECT '{"type":"FeatureCollection","features":[' ||
        |    string_agg(feat, ',' ORDER BY id) || ']}' AS t FROM f)
        |SELECT CAST(25 AS INT) AS n_features, CAST(length(t) AS BIGINT) AS n_bytes,
        |  md5(t) AS md5 FROM txt""".stripMargin,

    // integer-coordinate scene: shoelace sums are exact doubles, no rounding
    "osm_relation_assembly" ->
      """SELECT CAST(doc_id AS INT) AS id_relation,
        |  CAST(400 - 4 * (doc_id % 3) AS DOUBLE) AS area,
        |  CAST(4 * (doc_id % 3) AS DOUBLE) AS holes_area,
        |  80.0 AS perimeter
        |FROM documents WHERE doc_id % 7 <> 0 ORDER BY id_relation""".stripMargin,

    "osm_format_building" -> {
      val tagSql = Map("building" -> "bld", "amenity" -> "amen",
        "building:use" -> "bu", "height" -> "h", "roof:height" -> "rh",
        "building:levels" -> "blev", "roof:levels" -> "rlev",
        "layer" -> "lyr", "roof:shape" -> "rshape")
      val typeCase = caseSql(OsmTagMaps.buildingType.map(r => (r._1, r._3)), BldCols, tagSql)
      val useCase = caseSql(OsmTagMaps.buildingType.map(r => (r._2, r._3)), BldCols, tagSql)
      val bldList = BldTags.map(sq).mkString("[", ", ", "]")
      s"""WITH raw AS (SELECT doc_id AS id, doc_id % 8 AS m8,
        |    CAST(doc_id % 20 + 1 AS DOUBLE) AS v, CAST(doc_id % 12 AS DOUBLE) AS inch,
        |    $bldList[CAST(doc_id % 12 AS INT) + 1] AS bld,
        |    CASE WHEN doc_id % 7 = 0 THEN 'school' ELSE NULL END AS amen,
        |    CASE WHEN doc_id % 5 = 0 THEN ' Hotel ' WHEN doc_id % 5 = 1 THEN 'unknownuse'
        |         ELSE NULL END AS bu,
        |    (doc_id % 3 = 0) AS has_rh,
        |    CASE WHEN doc_id % 4 = 0 THEN CAST(doc_id % 5 + 1 AS INT) ELSE NULL END AS iblev,
        |    (doc_id % 6 = 0) AS has_rlev,
        |    CASE WHEN doc_id % 10 = 9 THEN -1 WHEN doc_id % 10 = 8 THEN 2 ELSE 0 END AS zindex,
        |    CASE WHEN doc_id % 2 = 0 THEN 'gable' ELSE NULL END AS rshape,
        |    CAST(doc_id % 3 AS INT) AS id_zone
        |  FROM documents),
        |tu AS (SELECT *, $typeCase AS type0, $useCase AS use0 FROM raw),
        |tu2 AS (SELECT *, coalesce(type0, 'undefined') AS type,
        |    coalesce(${useOverrideSql("bu")}, coalesce(use0, 'undefined')) AS main_use FROM tu),
        |hr AS (SELECT *, CASE m8 WHEN 0 THEN 0.0 WHEN 1 THEN v WHEN 2 THEN v + 0.5
        |    WHEN 3 THEN v * 12 * 0.0254 WHEN 4 THEN v * 0.0254
        |    WHEN 5 THEN (v * 12 + inch) * 0.0254
        |    WHEN 6 THEN v * 0.3048 ELSE 0.0 END AS hroof FROM tu2),
        |hw AS (SELECT *, CASE WHEN has_rh THEN
        |      (CASE WHEN 2.5 < hroof THEN hroof - 2.5 ELSE 0.0 END)
        |    ELSE hroof END AS hwall,
        |    CAST(coalesce(iblev + (CASE WHEN has_rlev THEN 1 ELSE 0 END), 0) AS INT) AS nl
        |  FROM hr),
        |fh AS (SELECT *, coalesce(${levelMapSql("type")}, 1) AS nld FROM hw),
        |o AS (SELECT id, type, main_use, zindex, rshape, id_zone,
        |  CASE WHEN hwall <> 0 AND hroof <> 0 AND nl <> 0 THEN hwall
        |    WHEN hwall = 0 AND hroof = 0 AND nl = 0 THEN nld * 3.0
        |    WHEN hwall = 0 AND hroof = 0 THEN nl * 3.0
        |    WHEN hwall = 0 THEN hroof
        |    ELSE hwall END AS height_wall,
        |  CASE WHEN hwall <> 0 AND hroof <> 0 AND nl <> 0 THEN hroof
        |    WHEN hwall = 0 AND hroof = 0 AND nl = 0 THEN nld * 3.0
        |    WHEN hwall = 0 AND hroof = 0 THEN nl * 3.0
        |    WHEN hwall = 0 THEN hroof
        |    WHEN hwall > hroof THEN hwall
        |    ELSE hroof END AS height_roof,
        |  CAST(CASE WHEN hwall <> 0 AND hroof <> 0 AND nl <> 0 THEN nl
        |    WHEN hwall = 0 AND hroof = 0 AND nl = 0 THEN nld
        |    WHEN hwall = 0 AND hroof = 0 THEN nl
        |    WHEN hwall = 0 THEN (CASE WHEN nl = 0 THEN greatest(floor(hroof / 3.0), 1) ELSE nl END)
        |    WHEN hwall = hroof THEN (CASE WHEN nl = 0 THEN greatest(floor(hwall / 3.0), 1) ELSE nl END)
        |    WHEN hwall > hroof THEN (CASE WHEN nl = 0 THEN greatest(floor(hwall / 3.0), 1) ELSE nl END)
        |    ELSE (CASE WHEN nl = 0 THEN greatest(floor(hroof / 3.0), 1) ELSE nl END) END AS INT) AS nb_lev,
        |  (hwall = 0 AND hroof = 0 AND nl = 0) AS estimated
        |  FROM fh),
        |kept AS (SELECT * FROM o WHERE nb_lev > 0 AND zindex >= 0)
        |SELECT CAST(row_number() OVER (ORDER BY id_zone, CAST(id AS VARCHAR)) AS INT) AS id_build,
        |  CAST(id AS VARCHAR) AS id_source, type, main_use,
        |  round(height_wall, 6) AS height_wall, round(height_roof, 6) AS height_roof,
        |  nb_lev, zindex, rshape AS roof_shape, estimated
        |FROM kept ORDER BY id_build""".stripMargin
    },

    // Analytic per-face expectations (axis-aligned scene; areas/perimeters
    // from the same double products the engine's shoelace approximates to
    // < 1e-8 — round 6 on both sides; perimeter = EXTERIOR ring only, like
    // ST_PERIMETER). Per zone, ordered by area:
    // sea-rect enclave (land, 400), pond (water, 1600), east strip (land),
    // west ring minus pond (land), sea strip minus enclave (sea).
    "osm_sea_land_mask" ->
      """WITH z AS (SELECT CAST(range AS INT) AS id_zone FROM range(0, 10)),
        |f(type, area, perimeter) AS (VALUES
        |  ('land', 400.0, 80.0),
        |  ('water', 1600.0, 160.0),
        |  ('land', 79.99 * 299.98, 2 * (79.99 + 299.98)),
        |  ('land', 99.99 * 299.98 - 1600, 2 * (99.99 + 299.98)),
        |  ('sea', 120 * 299.98 - 400, 2 * (120 + 299.98)))
        |SELECT id_zone, type, round(area, 6) AS area, round(perimeter, 6) AS perimeter
        |FROM z CROSS JOIN f ORDER BY id_zone, area""".stripMargin,

    "osm_format_road" -> {
      val tagSql = Map("highway" -> "hwy", "width" -> "w", "surface" -> "surf",
        "sidewalk" -> "sw", "layer" -> "lyr", "maxspeed" -> "ms", "lanes" -> "ln",
        "oneway" -> "ow", "bridge" -> "br", "service" -> "svc", "access" -> "acc",
        "area" -> "ar", "tracktype" -> "tt", "tunnel" -> "tun")
      val typeCase = caseSql(OsmTagMaps.roadType, RoadCols, tagSql)
      val surfCase = caseSql(OsmTagMaps.roadSurface, RoadCols, tagSql)
      val bridgeList = OsmTagMaps.roadCrossingBridge.map(sq).mkString("(", ", ", ")")
      val roadList = RoadTags.map(sq).mkString("[", ", ", "]")
      s"""WITH raw AS (SELECT doc_id AS id,
        |    $roadList[CAST(doc_id % 8 AS INT) + 1] AS hwy,
        |    CASE WHEN doc_id % 6 = 0 THEN CAST(doc_id % 9 + 2 AS DOUBLE) + 0.5
        |         WHEN doc_id % 6 = 1 THEN 0.0 ELSE 0.0 END AS w0,
        |    doc_id % 5 AS m5, CAST(doc_id % 90 + 10 AS INT) AS spd_bare,
        |    CAST(doc_id % 50 + 10 AS INT) AS spd_unit,
        |    (doc_id % 4 = 0) AS oneway,
        |    CASE WHEN doc_id % 7 = 0 THEN 'yes' WHEN doc_id % 7 = 1 THEN 'viaduct'
        |         WHEN doc_id % 7 = 2 THEN 'no' ELSE NULL END AS br,
        |    CASE WHEN doc_id % 11 = 0 THEN -1 WHEN doc_id % 11 = 1 THEN 1 ELSE 0 END AS z0,
        |    [NULL, 'asphalt', 'grass', 'sett', 'concrete:plates'][CAST(doc_id % 5 AS INT) + 1] AS surf,
        |    CASE WHEN doc_id % 9 = 0 THEN 'grade1' WHEN doc_id % 9 = 1 THEN 'grade3'
        |         WHEN doc_id % 9 = 2 THEN 'grade5' ELSE NULL END AS tt,
        |    [NULL, 'both', 'left', 'no'][CAST(doc_id % 4 AS INT) + 1] AS sw,
        |    (doc_id % 13 = 0) AS is_drive, (doc_id % 17 = 0) AS is_forest,
        |    (doc_id % 19 = 0) AS is_area, (doc_id % 10 = 5) AS is_tunnel,
        |    CASE WHEN doc_id % 6 = 2 THEN CAST(doc_id % 4 + 1 AS INT) ELSE NULL END AS lanes,
        |    CAST(doc_id % 3 AS INT) AS id_zone
        |  FROM documents),
        |f1 AS (SELECT * FROM raw WHERE NOT (is_drive OR is_forest OR is_area)),
        |t1 AS (SELECT *, coalesce($typeCase, 'unclassified') AS type,
        |    $surfCase AS surf0 FROM f1),
        |t2 AS (SELECT *,
        |    CASE WHEN w0 <= 0 AND ${widthMapSql("type")} IS NOT NULL
        |         THEN ${widthMapSql("type")} ELSE w0 END AS width,
        |    CASE WHEN br IN $bridgeList THEN 'bridge' ELSE NULL END AS crossing,
        |    coalesce(surf0, CASE WHEN tt = 'grade1' THEN 'compacted'
        |      WHEN tt IN ('grade2','grade3') THEN 'gravel'
        |      WHEN tt IN ('grade4','grade5') THEN 'ground' ELSE NULL END) AS surface,
        |    CASE WHEN sw = 'both' THEN 'two' WHEN sw IN ('right','left','yes') THEN 'one'
        |         ELSE 'no' END AS sidewalk,
        |    CASE m5 WHEN 0 THEN spd_bare WHEN 1 THEN CAST(round(spd_unit * 1.609) AS INT)
        |         WHEN 2 THEN spd_unit ELSE -1 END AS maxspeed,
        |    CASE WHEN oneway THEN 1 ELSE 3 END AS direction,
        |    CASE WHEN is_tunnel THEN 1 ELSE 0 END AS tunnel
        |  FROM t1),
        |t3 AS (SELECT *, CASE WHEN z0 = 0 AND crossing IS NOT NULL THEN 1 ELSE z0 END AS zindex
        |  FROM t2),
        |kept AS (SELECT * FROM t3 WHERE zindex >= 0 AND (type <> 'track'
        |    OR surface IN ('unpaved','asphalt','paved','cobblestone','metal','concrete','compacted')))
        |SELECT CAST(row_number() OVER (ORDER BY id_zone, CAST(id AS VARCHAR)) AS INT) AS id_road,
        |  CAST(id AS VARCHAR) AS id_source, type, width, crossing, surface, sidewalk,
        |  maxspeed, direction, lanes, zindex, tunnel
        |FROM kept ORDER BY id_road""".stripMargin
    })
}
