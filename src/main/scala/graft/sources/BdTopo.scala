package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.geom.{GeoFunctions => G}

/**
 * BDTopo v2 building path — loading (BDTopoV2Workflow.groovy:105-122 +
 * InputDataLoading.groovy:220-236: the three BATI shapefiles merged with
 * HAUTEUR>=0, force2D + makeValid, BATI_INDIFFERENCIE typed 'Résidentiel')
 * and formatting (bdtopo InputDataFormatting.groovy:41-375: the NATURE→
 * (type, use) dictionary, height fill rules, formatHeightsAndNbLevels with
 * the BDTopo level table, nb_lev>0 gate, polygon parts with area>1).
 * Dictionaries transcribed verbatim from the reference source.
 */
object BdTopo {

  /** NATURE/type string → (feature type, main use) — types_uses_dictionnary. */
  val TypeDictionary: Map[String, (String, String)] = Map(
    "Bâtiment agricole" -> ("farm_auxiliary", "agricultural"),
    "Bâtiment commercial" -> ("commercial", "commercial"),
    "Bâtiment industriel" -> ("industrial", "industrial"),
    "Serre" -> ("greenhouse", "agricultural"),
    "Silo" -> ("silo", "agricultural"),
    "Aérogare" -> ("aeroway", "transport"),
    "Arc de triomphe" -> ("monument", "heritage"),
    "Arène ou théâtre antique" -> ("monument", "monument"),
    "Bâtiment religieux divers" -> ("religious", "religious"),
    "Bâtiment sportif" -> ("sports_centre", "sport"),
    "Chapelle" -> ("chapel", "religious"),
    "Château" -> ("castle", "heritage"),
    "Eglise" -> ("church", "religious"),
    "Fort, blockhaus, casemate" -> ("military", "military"),
    "Gare" -> ("train_station", "transport"),
    "Mairie" -> ("townhall", "government"),
    "Monument" -> ("monument", "monument"),
    "Péage" -> ("toll_booth", "transport"),
    "Préfecture" -> ("government", "government"),
    "Sous-préfecture" -> ("government", "government"),
    "Tour, donjon, moulin" -> ("historic", "heritage"),
    "Moulin à vent" -> ("historic", "heritage"),
    "Tour, donjon" -> ("historic", "heritage"),
    "Tribune" -> ("grandstand", "entertainment_arts_culture"),
    "Résidentiel" -> ("residential", "residential"),
    "Agricole" -> ("agricultural", "agricultural"),
    "Commercial et services" -> ("commercial", "commercial"),
    "Industriel" -> ("industrial", "industrial"),
    "Religieux" -> ("religious", "religious"),
    "Sportif" -> ("sport", "sport"),
    "Annexe" -> ("annex", "building"),
    "Industriel, agricole ou commercial" -> ("commercial", "commercial"),
    "Bâtiment" -> ("undefined", "undefined"),
    "Industrie lourde" -> ("industrial", "industrial"))

  /** building type → default levels — building_type_level. */
  val TypeLevel: Map[String, Int] = Map("building" -> 1, "undefined" -> 1, "house" -> 1, "detached" -> 1, "residential" -> 1, "apartments" -> 1, "bungalow" -> 0, "historic" -> 0, "monument" -> 0, "ruins" -> 0, "castle" -> 1, "agricultural" -> 0, "farm" -> 0, "farm_auxiliary" -> 0, "barn" -> 0, "greenhouse" -> 0, "silo" -> 0, "commercial" -> 2, "industrial" -> 0, "sport" -> 0, "sports_centre" -> 0, "grandstand" -> 0, "transport" -> 0, "train_station" -> 0, "toll_booth" -> 0, "toll" -> 0, "terminal" -> 0, "airport_terminal" -> 0, "healthcare" -> 1, "education" -> 1, "entertainment_arts_culture" -> 0, "sustenance" -> 1, "military" -> 0, "religious" -> 0, "chapel" -> 0, "church" -> 0, "government" -> 1, "townhall" -> 1, "office" -> 1, "emergency" -> 0, "hotel" -> 2, "hospital" -> 2, "parking" -> 1, "slight_construction" -> 0, "water_tower" -> 0, "fortress" -> 0, "abbey" -> 0, "cathedral" -> 0, "mosque" -> 0, "musalla" -> 0, "temple" -> 0, "synagogue" -> 0, "shrine" -> 0, "place_of_worship" -> 0, "wayside_shrine" -> 0, "swimming_pool" -> 0, "fitness_centre" -> 1, "horse_riding" -> 0, "ice_rink" -> 0, "pitch" -> 0, "stadium" -> 0, "track" -> 0, "sports_hall" -> 0, "ammunition" -> 0, "bunker" -> 0, "barracks" -> 1, "casemate" -> 0, "station" -> 0, "government_office" -> 1, "stable" -> 0, "sty" -> 0, "cowshed" -> 0, "digester" -> 0, "farmhouse" -> 0, "bank" -> 1, "bureau_de_change" -> 0, "boat_rental" -> 0, "car_rental" -> 0, "internet_cafe" -> 0, "kiosk" -> 0, "money_transfer" -> 0, "market" -> 0, "marketplace" -> 0, "pharmacy" -> 0, "post_office" -> 1, "retail" -> 0, "shop" -> 0, "store" -> 0, "supermarket" -> 0, "warehouse" -> 0, "factory" -> 0, "gas" -> 0, "heating_station" -> 0, "oil_mill" -> 0, "oil" -> 0, "wellsite" -> 0, "well_cluster" -> 0, "grain_silo" -> 0, "villa" -> 1, "dormitory" -> 1, "condominium" -> 1, "sheltered_housing" -> 0, "workers_dormitory" -> 0, "terrace" -> 1, "transportation" -> 0, "hangar" -> 0, "tower" -> 1, "control_tower" -> 0, "aeroway" -> 1, "roundhouse" -> 0, "social_facility" -> 1, "college" -> 1, "kindergarten" -> 0, "school" -> 0, "university" -> 1, "cinema" -> 1, "arts_centre" -> 0, "brothel" -> 1, "casino" -> 0, "community_centre" -> 0, "conference_centre" -> 1, "events_venue" -> 1, "exhibition_centre" -> 0, "gambling" -> 0, "music_venue" -> 0, "nightclub" -> 0, "planetarium" -> 0, "social_centre" -> 0, "studio" -> 0, "theatre" -> 0, "library" -> 1, "museum" -> 0, "aquarium" -> 0, "gallery" -> 0, "information" -> 0, "restaurant" -> 0, "bar" -> 0, "cafe" -> 0, "fast_food" -> 0, "ice_cream" -> 0, "pub" -> 0, "attraction" -> 0)

  /**
   * Load the building layer from a BDTopo v2 commune directory: the three
   * BATI shapefiles unioned to (the_geom, id_source, height_wall, type)
   * with the reference's HAUTEUR >= 0 null-excluding filter (SQL
   * three-valued: a missing HAUTEUR drops the row).
   */
  def loadBuildings(spark: SparkSession, dir: String): DataFrame = {
    def layer(name: String, typeCol: Column): DataFrame =
      Shapefile.read(spark, s"$dir/$name.shp").select(
        G.stMakeValid(col("the_geom")).as("the_geom"),
        Shapefile.attr("id").as("id_source"),
        Shapefile.attr("hauteur").try_cast("double").as("height_wall"),
        typeCol.as("type"))
        .where(col("height_wall") >= 0)
    layer("BATI_INDIFFERENCIE", lit("Résidentiel"))
      .unionByName(layer("BATI_INDUSTRIEL", Shapefile.attr("nature")))
      .unionByName(layer("BATI_REMARQUABLE", Shapefile.attr("nature")))
  }

  /**
   * Format loaded buildings into the abstract model: dictionary type/use
   * (default building/building; MAIN_USE is null at loading so the
   * type-only branch applies), height_roof filled from height_wall when
   * absent, formatHeightsAndNbLevels repair, nb_lev > 0 gate, polygon
   * parts with area > 1, zindex 0. Ids dense per zone.
   */
  def formatBuildingLayer(raw: DataFrame, zoneId: String,
                          hLevMin: Double = 3.0): DataFrame = {
    val ft = element_at(typedLit(TypeDictionary.view.mapValues(_._1).toMap), col("type"))
    val fu = element_at(typedLit(TypeDictionary.view.mapValues(_._2).toMap), col("type"))
    val typed = raw.select(col(zoneId), col("id_source"), col("the_geom"),
      coalesce(ft, lit("building")).as("ftype"),
      when(col("type").isNotNull, coalesce(fu, lit("building")))
        .otherwise("building").as("main_use"),
      coalesce(col("height_wall"), lit(0.0)).as("__hw0"))
      .withColumn("__hr0", when(col("__hw0") =!= 0, col("__hw0")).otherwise(lit(0.0)))
      .withColumn("__fh", OsmFormatting.formatHeights(col("__hw0"), col("__hr0"),
        lit(0), hLevMin, col("ftype"), TypeLevel))
      .where(col("__fh.nb_lev") > 0)
    val parts = typed
      .select(col(zoneId), col("id_source"),
        posexplode(G.stExplode(col("the_geom"))).as(Seq("__part", "the_geom")),
        col("__fh.height_wall").as("height_wall"),
        col("__fh.height_roof").as("height_roof"),
        col("__fh.nb_lev").as("nb_lev"),
        col("ftype").as("type"), col("main_use"),
        col("__fh.estimated").as("estimated"))
      .where(G.stDimension(col("the_geom")) === 2 && G.stArea(col("the_geom")) > 1)
      .withColumn("zindex", lit(0))
    OsmLayers.denseIds(parts, zoneId, Seq(col("id_source"), col("__part")), "id_build")
      .select(col(zoneId), col("the_geom"), col("id_build"), col("id_source"),
        col("height_wall"), col("height_roof"), col("nb_lev"),
        col("type"), col("main_use"), col("zindex"), col("estimated"))
  }

  // ---- roads --------------------------------------------------------------

  /** NATURE → (type, maxspeed, surface) — formatRoadLayer's switch
    * (bdtopo InputDataFormatting.groovy:463-545). Width defaults come from
    * RoadTypeWidth; 'bridge' is deliberately absent there (the reference's
    * map lookup returns null). */
  val RoadNature: Map[String, (String, Int, String)] = Map(
    "Autoroute" -> (("motorway", 130, "asphalt")),
    "Type autoroutier" -> (("motorway", 130, "asphalt")),
    "Quasi-autoroute" -> (("trunk", 130, "asphalt")),
    "Bretelle" -> (("highway_link", 50, "asphalt")),
    "Route à 2 chaussées" -> (("primary", 80, "asphalt")),
    "Route à 1 chaussée" -> (("unclassified", 50, "asphalt")),
    "Route empierrée" -> (("track", 10, "paved")),
    "Chemin" -> (("track", 0, "ground")),
    "Sentier" -> (("path", 0, "ground")),
    "Pont" -> (("bridge", 0, "asphalt")),
    "NC" -> (("unclassified", 0, "asphalt")),
    "Rond-point" -> (("roundabout", 30, "asphalt")),
    "Piste cyclable" -> (("cycleway", 0, "asphalt")))

  val RoadTypeWidth: Map[String, Double] = Map(
    "highway" -> 8, "motorway" -> 24, "trunk" -> 16, "primary" -> 10,
    "secondary" -> 10, "tertiary" -> 8, "residential" -> 8, "unclassified" -> 3,
    "track" -> 2, "path" -> 2, "footway" -> 2, "cycleway" -> 2, "steps" -> 2,
    "highway_link" -> 8, "roundabout" -> 4, "ferry" -> 0, "pedestrian" -> 3,
    "service" -> 3)

  /** ROUTE shapefile → the loading schema (BDTopoV2Workflow.groovy:129-133 +
    * InputDataLoading INPUT_ROAD): POS_SOL >= 0, ferry/stair natures out,
    * IMPORTANCE '1'..'5' as rank. */
  def loadRoads(spark: SparkSession, dir: String): DataFrame =
    Shapefile.read(spark, s"$dir/ROUTE.shp").select(
      G.stMakeValid(col("the_geom")).as("the_geom"),
      Shapefile.attr("id").as("id_source"),
      Shapefile.attr("largeur").try_cast("double").as("width"),
      Shapefile.attr("nature").as("type"),
      Shapefile.attr("pos_sol").try_cast("int").as("zindex"),
      Shapefile.attr("franchisst").as("crossing"),
      Shapefile.attr("sens").as("direction"),
      when(Shapefile.attr("importance").isin("1", "2", "3", "4", "5"),
        Shapefile.attr("importance").cast("int")).as("rank"),
      Shapefile.attr("nb_voies").try_cast("int").as("nb_voies"))
      .where(col("zindex") >= 0 &&
        (col("type").isNull || !col("type").isin("Bac auto", "Bac piéton", "Escalier")))

  /** formatRoadLayer (bdtopo InputDataFormatting.groovy:408-619): NATURE
    * switch with the rank-dependent maxspeed rules (Groovy null <= 4 is
    * TRUE, so a missing rank on 'Route à 1 chaussée' reads 80), width
    * override only for non-null non-zero widths, FRANCHISST crossing with
    * the zindex rewrite, SENS direction codes, and the zindex>=0 AND
    * type != 'path' gate. */
  def formatRoadLayer(raw: DataFrame, zoneId: String): DataFrame = {
    val nature = element_at(typedLit(RoadNature.view.mapValues(_._1).toMap), col("type"))
    val baseSpeed = element_at(typedLit(RoadNature.view.mapValues(_._2).toMap), col("type"))
    val surface = element_at(typedLit(RoadNature.view.mapValues(_._3).toMap), col("type"))
    val qType = coalesce(nature, lit("unclassified"))
    val maxspeed =
      when(col("type") === "Route à 2 chaussées",
        when(col("rank") === 6, 0).when(col("rank") === 5, 30).otherwise(80))
        .when(col("type") === "Route à 1 chaussée",
          when(col("rank") === 6, 0).when(col("rank") === 5, 30)
            .when(col("rank").isNull || col("rank") <= 4, 80).otherwise(50))
        .otherwise(coalesce(baseSpeed, lit(50)))
    val defWidth = element_at(typedLit(RoadTypeWidth), qType) // null for 'bridge'
    val qWidth = when(col("width").isNotNull && col("width") =!= 0, col("width"))
      .otherwise(defWidth)
    val qCrossing = when(col("crossing") === "Gué ou radier", "crossing")
      .when(col("crossing") === "Pont", "bridge")
      .otherwise(lit(null).cast("string"))
    val qZindex = when(col("crossing") === "Gué ou radier", 0)
      .when(col("crossing") === "Pont" &&
        (col("zindex").isNull || col("zindex") === 0), 1)
      .otherwise(col("zindex"))
    val dir3 = when(col("direction") === "Double", 3)
      .when(col("direction") === "Direct", 1)
      .when(col("direction") === "Inverse", 2).otherwise(-1)
    val kept = raw.select(col(zoneId), col("id_source"), col("the_geom"),
        qType.as("type"), qWidth.as("width"), qCrossing.as("crossing"),
        coalesce(surface, lit("asphalt")).as("surface"), lit("no").as("sidewalk"),
        maxspeed.as("maxspeed"), dir3.as("direction"), col("nb_voies").as("lanes"),
        qZindex.as("zindex"), lit(0).as("tunnel"))
      .where(col("zindex") >= 0 && col("type") =!= "path")
      .select(col(zoneId), col("id_source"),
        posexplode(G.stExplode(col("the_geom"))).as(Seq("__part", "the_geom")),
        col("width"), col("type"), col("crossing"), col("surface"), col("sidewalk"),
        col("maxspeed"), col("direction"), col("lanes"), col("zindex"), col("tunnel"))
      .where(!G.stIsEmpty(col("the_geom")))
    OsmLayers.denseIds(kept, zoneId, Seq(col("id_source"), col("__part")), "id_road")
      .select(col(zoneId), col("the_geom"), col("id_road"), col("id_source"),
        col("width"), col("type"), col("crossing"), col("surface"), col("sidewalk"),
        col("maxspeed"), col("direction"), col("lanes"), col("zindex"), col("tunnel"))
  }

  // ---- water --------------------------------------------------------------

  val WaterNature: Map[String, String] = Map(
    "Aqueduc" -> "aqueduct", "Canal" -> "canal", "Delta" -> "bay",
    "Ecoulement canalisé" -> "canal", "Ecoulement endoréique" -> "water",
    "Ecoulement hyporhéique" -> "water", "Ecoulement karstique" -> "water",
    "Ecoulement naturel" -> "water", "Ecoulement phréatique" -> "water",
    "Estuaire" -> "bay", "Inconnue" -> "water", "Lac" -> "lake",
    "Lagune" -> "lagoon", "Mangrove" -> "mangrove", "Mare" -> "pond",
    "Plan d'eau de gravière" -> "pond", "Plan d'eau de mine" -> "basin",
    "Ravine" -> "water", "Réservoir-bassin" -> "basin",
    "Réservoir-bassin d'orage" -> "basin", "Réservoir-bassin piscicole" -> "basin",
    "Retenue" -> "basin", "Retenuebarrage" -> "basin", "Retenue-barrage" -> "basin",
    "Retenue-bassin portuaire" -> "basin", "Retenue-digue" -> "basin",
    "Surface d'eau" -> "water", "Bassin" -> "basin")

  def loadWater(spark: SparkSession, dir: String): DataFrame =
    Shapefile.read(spark, s"$dir/SURFACE_EAU.shp").select(
      G.stMakeValid(col("the_geom")).as("the_geom"),
      Shapefile.attr("id").as("id_source"),
      Shapefile.attr("nature").as("type"),
      Shapefile.attr("regime").as("regime"))

  /** formatHydroLayer (bdtopo InputDataFormatting.groovy:619-695): NATURE
    * dictionary (unmapped rows drop), intermittent = non-Permanent regime,
    * zindex 0, polygon parts with area > 1. */
  def formatHydroLayer(raw: DataFrame, zoneId: String): DataFrame = {
    val typ = element_at(typedLit(WaterNature), col("type"))
    val kept = raw.select(col(zoneId), col("id_source"), col("the_geom"),
        typ.as("type"),
        coalesce(col("regime").isNotNull && col("regime") =!= "Permanent", lit(false))
          .as("intermittent"),
        lit(0).as("zindex"))
      .where(col("type").isNotNull)
      .select(col(zoneId), col("id_source"),
        posexplode(G.stExplode(col("the_geom"))).as(Seq("__part", "the_geom")),
        col("type"), col("intermittent"), col("zindex"))
      .where(G.stDimension(col("the_geom")) === 2 && G.stArea(col("the_geom")) > 1)
    OsmLayers.denseIds(kept, zoneId, Seq(col("id_source"), col("__part")), "id_water")
      .select(col(zoneId), col("the_geom"), col("id_water"), col("id_source"),
        col("type"), col("intermittent"), col("zindex"))
  }

  // ---- rails --------------------------------------------------------------

  val RailNature: Map[String, String] = Map(
    "LGV" -> "highspeed", "Principale" -> "rail", "Voie ferrée principale" -> "rail",
    "Voie de service" -> "service_track", "Voie non exploitée" -> "disused",
    "Transport urbain" -> "tram", "Funiculaire ou crémaillère" -> "funicular",
    "Metro" -> "subway", "Métro" -> "subway", "Tramway" -> "tram",
    "Pont" -> "bridge", "Tunnel" -> "tunnel") // 'Sans objet'/'NC' → null

  def loadRails(spark: SparkSession, dir: String): DataFrame =
    Shapefile.read(spark, s"$dir/TRONCON_VOIE_FERREE.shp").select(
      G.stMakeValid(col("the_geom")).as("the_geom"),
      Shapefile.attr("id").as("id_source"),
      Shapefile.attr("nature").as("type"),
      Shapefile.attr("pos_sol").try_cast("int").as("zindex"),
      Shapefile.attr("franchisst").as("crossing"),
      when(coalesce(Shapefile.attr("nb_voies").try_cast("int"), lit(0)) === 0, 1.435)
        .otherwise(lit(1.435) * Shapefile.attr("nb_voies").try_cast("int")).as("width"))
      .where(col("zindex") >= 0)

  /** formatRailsLayer (bdtopo InputDataFormatting.groovy:704-800): NATURE
    * dictionary ('Sans objet'/'NC' drop, missing NATURE → unclassified),
    * usage 'main' for highspeed/rail/tram/bridge, width+1 ballast (or the
    * 2.435 standard-gauge default when width is 0/absent), FRANCHISST
    * crossing through the SAME dictionary (so 'Tunnel' is a legal crossing). */
  def formatRailsLayer(raw: DataFrame, zoneId: String): DataFrame = {
    val typ = when(col("type").isNotNull, element_at(typedLit(RailNature), col("type")))
      .otherwise("unclassified")
    val usage = when(typ.isin("highspeed", "rail", "tram", "bridge"), "main")
      .otherwise(lit(null).cast("string"))
    val kept = raw.select(col(zoneId), col("id_source"), col("the_geom"),
        typ.as("type"), usage.as("usage"),
        element_at(typedLit(RailNature), col("crossing")).as("crossing"),
        coalesce(col("zindex"), lit(0)).as("zindex"),
        when(col("width").isNull || col("width") === 0, 1.435 + 1)
          .otherwise(col("width") + 1).as("width"))
      .where(col("zindex") >= 0 && col("type").isNotNull)
      .select(col(zoneId), col("id_source"),
        posexplode(G.stExplode(col("the_geom"))).as(Seq("__part", "the_geom")),
        col("type"), col("crossing"), col("zindex"), col("width"), col("usage"))
      .where(!G.stIsEmpty(col("the_geom")))
    OsmLayers.denseIds(kept, zoneId, Seq(col("id_source"), col("__part")), "id_rail")
      .select(col(zoneId), col("the_geom"), col("id_rail"), col("id_source"),
        col("type"), col("crossing"), col("zindex"), col("width"), col("usage"))
  }

  // ---- vegetation ---------------------------------------------------------

  val VegetationNature: Map[String, String] = Map(
    "Zone arborée" -> "wood", "Forêt fermée de feuillus" -> "forest",
    "Forêt fermée mixte" -> "forest", "Forêt fermée de conifères" -> "forest",
    "Forêt ouverte" -> "forest", "Peupleraie" -> "forest", "Haie" -> "hedge",
    "Lande ligneuse" -> "heath", "Verger" -> "orchard", "Vigne" -> "vineyard",
    "Bois" -> "forest", "Bananeraie" -> "banana_plants", "Mangrove" -> "mangrove",
    "Canne à sucre" -> "sugar_cane", "Houblonnière" -> "hops",
    "Rizière" -> "rice_field", "Piste en herbe" -> "grass",
    "Terrain de football" -> "grass", "Terrain de rugby" -> "grass",
    "Marais" -> "marsh")

  val VegetationClass: Map[String, String] = Map(
    "tree" -> "high", "wood" -> "high", "forest" -> "high", "scrub" -> "low",
    "grassland" -> "low", "heath" -> "low", "tree_row" -> "high", "hedge" -> "high",
    "mangrove" -> "high", "orchard" -> "high", "vineyard" -> "low",
    "banana_plants" -> "high", "sugar_cane" -> "low", "unclassified" -> "low",
    "hops" -> "low", "rice_field" -> "low", "grass" -> "low", "marsh" -> "low")

  def loadVegetation(spark: SparkSession, dir: String): DataFrame =
    Shapefile.read(spark, s"$dir/ZONE_VEGETATION.shp").select(
      G.stMakeValid(col("the_geom")).as("the_geom"),
      Shapefile.attr("id").as("id_source"),
      Shapefile.attr("nature").as("type"))

  /** formatVegetationLayer (bdtopo InputDataFormatting.groovy:802-909):
    * NATURE dictionary (missing NATURE → unclassified; unmapped NATURE →
    * NULL type kept, like the reference's insertion of a null lookup),
    * height class per mapped type, zindex 0, polygon parts with area > 1. */
  def formatVegetationLayer(raw: DataFrame, zoneId: String): DataFrame = {
    val typ = when(col("type").isNotNull, element_at(typedLit(VegetationNature), col("type")))
      .otherwise("unclassified")
    val kept = raw.select(col(zoneId), col("id_source"), col("the_geom"),
        typ.as("type"),
        element_at(typedLit(VegetationClass), typ).as("height_class"),
        lit(0).as("zindex"))
      .select(col(zoneId), col("id_source"),
        posexplode(G.stExplode(col("the_geom"))).as(Seq("__part", "the_geom")),
        col("type"), col("height_class"), col("zindex"))
      .where(G.stDimension(col("the_geom")) === 2 && G.stArea(col("the_geom")) > 1)
    OsmLayers.denseIds(kept, zoneId, Seq(col("id_source"), col("__part")), "id_veget")
      .select(col(zoneId), col("the_geom"), col("id_veget"), col("id_source"),
        col("type"), col("height_class"), col("zindex"))
  }

  // ---- impervious + urban areas -------------------------------------------

  /** SURFACE_ACTIVITE CATEGORIE → type (InputDataLoading.groovy:288-296). */
  val ActivityCategory: Map[String, String] = Map(
    "Administratif" -> "government", "Enseignement" -> "education",
    "Santé" -> "healthcare", "Culture et loisirs" -> "entertainment_arts_culture",
    "Transport" -> "transport", "Industriel ou commercial" -> "commercial",
    "Gestion des eaux" -> "industrial", "Sport" -> "sport")

  /** The impervious weight map — NOTE the reference picks
    * `subMap(types).max { it.key }.key`, i.e. the alphabetically LARGEST
    * known type; the weights themselves are inert (replicated as-is). */
  val ImperviousKnownTypes: Set[String] = Set(
    "government", "entertainment_arts_culture", "education", "military",
    "industrial", "commercial", "healthcare", "transport", "building",
    "sport", "cemetery", "religious")

  /** INPUT_IMPERVIOUS (InputDataLoading.groovy:306-330): sport grounds,
    * protective slabs/dams/locks, road surfaces, activity surfaces (their
    * 'unknown' rows KEPT here), hard runways. */
  def loadImpervious(spark: SparkSession, dir: String): DataFrame = {
    def lyr(name: String, pred: Column, typ: Column): DataFrame =
      Shapefile.read(spark, s"$dir/$name.shp")
        .where(pred)
        .select(G.stMakeValid(col("the_geom")).as("the_geom"),
          Shapefile.attr("id").as("id_source"), typ.as("type"))
    lyr("TERRAIN_SPORT", Shapefile.attr("nature").isin("Piste de sport", "Indifférencié"), lit("sport"))
      .unionByName(lyr("CONSTRUCTION_SURFACIQUE",
        Shapefile.attr("nature").isin("Barrage", "Ecluse", "Dalle de protection"), lit("building")))
      .unionByName(lyr("SURFACE_ROUTE", lit(true), lit("transport")))
      .unionByName(lyr("SURFACE_ACTIVITE", lit(true),
        coalesce(element_at(typedLit(ActivityCategory), Shapefile.attr("categorie")), lit("unknown"))))
  }

  /** INPUT_URBAN_AREAS (InputDataLoading.groovy:280-303): activity surfaces
    * with a mapped category ('unknown' dropped), exploded. */
  def loadUrbanAreas(spark: SparkSession, dir: String): DataFrame =
    Shapefile.read(spark, s"$dir/SURFACE_ACTIVITE.shp")
      .select(G.stMakeValid(col("the_geom")).as("the_geom"),
        Shapefile.attr("id").as("id_source"),
        element_at(typedLit(ActivityCategory), Shapefile.attr("categorie")).as("type"))
      .where(col("type").isNotNull)

  /**
   * formatImperviousLayer (bdtopo InputDataFormatting.groovy:909-957):
   * per-zone noded overlay of all impervious linework; each face collects
   * the types of every polygon containing its point-on-surface; the face
   * type is the alphabetically largest KNOWN type (the reference's
   * subMap/max-by-key idiom — faces whose containing rows are all
   * 'unknown' drop); polygon parts with area > 1.
   */
  def formatImperviousLayer(raw: DataFrame, zoneId: String,
                            grid: graft.index.CellGrid, res: Int): DataFrame = {
    import graft.operators.{SpatialJoin, SpatialUnits}
    val faces = raw
      .select(col(zoneId), G.stToMultiLine(col("the_geom")).as("the_geom"))
      .groupBy(col(zoneId)).agg(collect_list(col("the_geom")).as("__gs"))
      .select(col(zoneId), explode(SpatialUnits.polygonizeUdf(col("__gs"))).as("__face"))
      .withColumn("__pos", G.stPointOnSurf(col("__face")))
      .select(col(zoneId).as("__fz"), col("__face"),
        G.stX(col("__pos")).as("__px"), G.stY(col("__pos")).as("__py"))
    val typed = raw.select(col(zoneId), col("type").as("__t"), col("the_geom"))
    val known = ImperviousKnownTypes
    val pick = udf { (ts: Seq[String]) =>
      val ks = ts.filter(known.contains).distinct
      if (ks.isEmpty) null else ks.max // alphabetically largest, like the reference
    }
    val win = SpatialJoin.pointInPolygon(faces, "__px", "__py", typed, "the_geom", grid, res)
      .where(col("__fz") === col(zoneId))
      .groupBy(col(zoneId), col("__face"))
      .agg(pick(collect_list(col("__t"))).as("type"))
      .where(col("type").isNotNull)
      .select(col(zoneId), col("type"),
        explode(G.stExplode(col("__face"))).as("the_geom"))
      .where(G.stDimension(col("the_geom")) === 2 && G.stArea(col("the_geom")) > 1)
    OsmLayers.denseIds(win, zoneId,
      Seq(col("type"), G.stX(G.stCentroid(col("the_geom"))),
        G.stY(G.stCentroid(col("the_geom")))), "id_impervious")
      .select(col(zoneId), col("the_geom"), col("id_impervious"), col("type"))
  }
}
