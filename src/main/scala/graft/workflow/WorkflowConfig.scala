package graft.workflow

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/**
 * Config-driven workflow entry — the reference's
 * `extractProcessingParameters` (osm/WorkflowOSM.groovy:787-1000): a JSON
 * config is merged over defaults into a validated parameter map that GATES
 * which stages of the indicator chain run. Semantics replicated:
 *
 *  - defaults: distance 200, hLevMin 3, surface_vegetation 10000,
 *    surface_hydro 2500, surface_urban_areas 10, snappingTolerance 0.01,
 *    svfSimplified true, estimateHeight true, the 7-key LCZ weight map;
 *  - indicatorUse restricted to LCZ/UTRF/TEB/TARGET (uppercased; invalid
 *    non-empty lists throw);
 *  - grid indicators validated against the reference whitelist plus the
 *    COUNT_WARM_ prefix family (:906-913); LCZ_FRACTION/LCZ_PRIMARY pull
 *    LCZ into indicatorUse, UTRF_* pull UTRF (:920-926);
 *  - TARGET forces a 100 m grid with LAND_TYPE_FRACTION/BUILDING_HEIGHT/
 *    STREET_WIDTH when no grid block is given, extends the indicator list
 *    otherwise, and requires x_size == y_size;
 *  - mapOfWeights must contain exactly the 7 default keys;
 *  - x/y sizes must be > 0; grid output restricted to asc/fgb; domain to
 *    zone/zone_extended; lcz_lod bounds per the reference's (buggy,
 *    unsatisfiable `< 0 && > 10`) guard — replicated as written, so any
 *    integer passes, as in the reference;
 *  - road_traffic and noise_indicators.ground_acoustic booleans.
 *
 * Null-safe scalar parsing follows DataUtils.asFloat/asInteger/asBoolean:
 * unparseable values behave as absent. JSON parsing uses Jackson (already
 * on the Spark classpath).
 */
object WorkflowConfig {

  val DefaultWeights: Map[String, Double] = Map(
    "sky_view_factor" -> 4, "aspect_ratio" -> 3, "building_surface_fraction" -> 8,
    "impervious_surface_fraction" -> 0, "pervious_surface_fraction" -> 0,
    "height_of_roughness_elements" -> 6, "terrain_roughness_length" -> 0.5)

  val AllowedRsuIndicators: Seq[String] = Seq("LCZ", "UTRF", "TEB", "TARGET")

  val AllowedGridIndicators: Seq[String] = Seq(
    "LAND_TYPE_FRACTION", "BUILDING_HEIGHT", "BUILDING_TYPE_FRACTION",
    "UTRF_AREA_FRACTION", "UTRF_FLOOR_AREA_FRACTION",
    "LCZ_FRACTION", "LCZ_PRIMARY", "FREE_EXTERNAL_FACADE_DENSITY",
    "BUILDING_HEIGHT_WEIGHTED", "BUILDING_SURFACE_DENSITY",
    "BUILDING_HEIGHT_DISTRIBUTION", "FRONTAL_AREA_INDEX", "SEA_LAND_FRACTION",
    "ASPECT_RATIO", "SVF", "HEIGHT_OF_ROUGHNESS_ELEMENTS", "TERRAIN_ROUGHNESS",
    "PROJECTED_FACADE_DENSITY_DIR", "URBAN_SPRAWL_AREAS",
    "URBAN_SPRAWL_DISTANCES", "URBAN_SPRAWL_COOL_DISTANCES", "STREET_WIDTH",
    "BUILDING_DIRECTION", "BUILDING_NUMBER")

  final case class GridParams(xSize: Int, ySize: Int, output: String,
                              rowCol: Option[Boolean], indicators: Seq[String],
                              domain: Option[String], lczLod: Option[Int],
                              urbanSprawlAreas: Option[Boolean])

  final case class Params(distance: Double, prefixName: String, hLevMin: Int,
                          indicatorUse: Seq[String], svfSimplified: Boolean,
                          surfaceVegetation: Double, surfaceHydro: Double,
                          surfaceUrbanAreas: Double, snappingTolerance: Double,
                          mapOfWeights: Map[String, Double], estimateHeight: Boolean,
                          gridIndicators: Option[GridParams],
                          roadTraffic: Boolean, noiseGroundAcoustic: Boolean) {
    /** Chain gating, as consumed by the indicator pipeline. */
    def computeLcz: Boolean = indicatorUse.contains("LCZ")
    def computeUtrf: Boolean = indicatorUse.contains("UTRF")
    def computeTeb: Boolean = indicatorUse.contains("TEB")
    def computeTarget: Boolean = indicatorUse.contains("TARGET")
  }

  val Defaults: Params = Params(distance = 200.0, prefixName = "", hLevMin = 3,
    indicatorUse = Seq.empty, svfSimplified = true, surfaceVegetation = 10000.0,
    surfaceHydro = 2500.0, surfaceUrbanAreas = 10.0, snappingTolerance = 0.01,
    mapOfWeights = DefaultWeights, estimateHeight = true, gridIndicators = None,
    roadTraffic = false, noiseGroundAcoustic = false)

  // ---- DataUtils.asFloat/asInteger/asBoolean null-safe parses -------------
  private def asDouble(n: JsonNode): Option[Double] =
    if (n == null || n.isNull) None
    else if (n.isNumber) Some(n.doubleValue)
    else scala.util.Try(n.asText.toDouble).toOption
  private def asInt(n: JsonNode): Option[Int] =
    if (n == null || n.isNull) None
    else if (n.isNumber) Some(n.intValue)
    else scala.util.Try(n.asText.toInt).toOption
  private def asBool(n: JsonNode): Option[Boolean] =
    if (n == null || n.isNull) None
    else if (n.isBoolean) Some(n.booleanValue)
    else n.asText.toLowerCase match {
      case "true" => Some(true); case "false" => Some(false); case _ => None
    }

  def parse(json: String): Params = extract(new ObjectMapper().readTree(json))

  private def extract(root: JsonNode): Params = {
    if (root == null || root.isNull) return Defaults
    var p = Defaults
    asDouble(root.get("distance")).foreach(d => p = p.copy(distance = d))
    Option(root.get("prefixName")).filter(_.isTextual)
      .foreach(n => p = p.copy(prefixName = n.asText))
    asInt(root.get("hLevMin")).foreach(h => p = p.copy(hLevMin = h))

    val rsu = root.get("rsu_indicators")
    var targetGrid = false
    if (rsu != null && !rsu.isNull) {
      val useNode = rsu.get("indicatorUse")
      if (useNode != null && useNode.isArray) {
        import scala.jdk.CollectionConverters._
        val uses = useNode.elements().asScala.map(_.asText.toUpperCase).toSeq
        if (uses.nonEmpty) {
          val allowed = AllowedRsuIndicators.intersect(uses)
          if (allowed.isEmpty)
            throw new IllegalArgumentException(
              s"Please set a valid list of RSU indicator names in $AllowedRsuIndicators")
          targetGrid = uses.contains("TARGET")
          p = p.copy(indicatorUse = uses)
        }
      }
      asDouble(rsu.get("snappingTolerance")).foreach(v => p = p.copy(snappingTolerance = v))
      asDouble(rsu.get("surface_vegetation")).foreach(v => p = p.copy(surfaceVegetation = v))
      asDouble(rsu.get("surface_hydro")).foreach(v => p = p.copy(surfaceHydro = v))
      asDouble(rsu.get("surface_urban_areas")).foreach(v => p = p.copy(surfaceUrbanAreas = v))
      asBool(rsu.get("svfSimplified")).foreach(v => p = p.copy(svfSimplified = v))
      asBool(rsu.get("estimateHeight")).foreach(v => p = p.copy(estimateHeight = v))
      val weights = rsu.get("mapOfWeights")
      if (weights != null && weights.isObject) {
        import scala.jdk.CollectionConverters._
        val m = weights.properties().asScala
          .map(e => e.getKey -> e.getValue.doubleValue).toMap
        if ((DefaultWeights ++ m).size != DefaultWeights.size)
          throw new IllegalArgumentException(
            "The number of mapOfWeights parameters must contain exactly the parameters " +
              DefaultWeights.keys.mkString(","))
        p = p.copy(mapOfWeights = m)
      }
    }

    val gridNode = root.get("grid_indicators")
    if (targetGrid && (gridNode == null || gridNode.isNull)) {
      // TARGET with no grid block: the reference's implied 100 m grid
      p = p.copy(gridIndicators = Some(GridParams(100, 100, "fgb", None,
        Seq("LAND_TYPE_FRACTION", "BUILDING_HEIGHT", "STREET_WIDTH"), None, None, None)))
    } else if (gridNode != null && !gridNode.isNull) {
      val x = asInt(gridNode.get("x_size")).getOrElse(0)
      val y = asInt(gridNode.get("y_size")).getOrElse(0)
      if (x != 0 && y != 0) {
        if (x <= 0 || y <= 0)
          throw new IllegalArgumentException("Invalid grid size padding. Must be greater that 0")
        import scala.jdk.CollectionConverters._
        val listNode = gridNode.get("indicators")
        val listed =
          if (listNode == null || !listNode.isArray) Seq.empty[String]
          else listNode.elements().asScala.map(_.asText).toSeq
        if (listed.isEmpty)
          throw new IllegalArgumentException("The list of indicator names cannot be null or empty")
        var allowedOut = listed.filter(v =>
          v.startsWith("COUNT_WARM_") || AllowedGridIndicators.contains(v))
        if (allowedOut.isEmpty)
          throw new IllegalArgumentException(
            s"Please set a valid list of indicator names in $AllowedGridIndicators")
        // grid indicators pull their RSU families into indicatorUse
        var uses = p.indicatorUse
        listed.map(_.trim.toUpperCase).foreach {
          case v if v == "LCZ_FRACTION" || v == "LCZ_PRIMARY" => uses = uses :+ "LCZ"
          case v if v == "UTRF_AREA_FRACTION" || v == "UTRF_FLOOR_AREA_FRACTION" =>
            uses = uses :+ "UTRF"
          case _ =>
        }
        p = p.copy(indicatorUse = uses)
        if (targetGrid) {
          allowedOut = (allowedOut ++
            Seq("LAND_TYPE_FRACTION", "BUILDING_HEIGHT_WEIGHTED", "STREET_WIDTH")).distinct
          if (x != y)
            throw new IllegalArgumentException(
              "TARGET model supports only regular grid. Please set the same x and y resolutions")
        }
        val output = Option(gridNode.get("output")).filter(_.isTextual)
          .map(_.asText.toLowerCase).filter(o => o == "asc" || o == "fgb").getOrElse("fgb")
        val domain = Option(gridNode.get("domain")).filter(_.isTextual)
          .map(_.asText.toLowerCase).filter(d => d == "zone" || d == "zone_extended")
        val rowCol = asBool(gridNode.get("rowCol"))
        // the reference's lcz_lod range guard is `< 0 && > 10` — an
        // unsatisfiable conjunction, so every integer passes; replicated
        val lczLod = asInt(gridNode.get("lcz_lod"))
        val sprawl = asBool(gridNode.get("urban_sprawl_areas"))
        p = p.copy(gridIndicators =
          Some(GridParams(x, y, output, rowCol, allowedOut, domain, lczLod, sprawl)))
      }
    }

    asBool(root.get("road_traffic")).foreach(v => p = p.copy(roadTraffic = v))
    val noise = root.get("noise_indicators")
    if (noise != null && !noise.isNull)
      asBool(noise.get("ground_acoustic")).foreach(v => p = p.copy(noiseGroundAcoustic = v))
    p
  }
}
