package graft.indicators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.geom.{GeoFunctions => G}

/**
 * Scale-transfer aggregations — Spark re-expression of the reference's
 * GenericIndicators.groovy. The reference runs each family as its own
 * RIGHT JOIN … GROUP BY into a temp table; here each family is an aggregate
 * spec ([[Family]]), and [[perUnit]] runs every family a scale needs over
 * one lower table as ONE hash aggregate (partial+final map-side combine for
 * free) and ONE left join back to the upper table, so empty upper units keep
 * the reference's COALESCE defaults.
 */
object GenericIndicators {

  /** One family's share of a [[perUnit]] pass: per-row input columns derived
    * from the lower rows, aggregate columns over them, and output columns
    * over the upper row left-joined with the aggregates (outputs may read the
    * upper unit's columns, e.g. its `the_geom`). */
  final case class Parts(inputs: Seq[Column], aggs: Seq[Column], outputs: Seq[Column])

  /** A scale-transfer family: its [[Parts]] given the prefix its internal
    * column names carry, so several families (two instances of one family
    * included) share one aggregate without name clashes. */
  type Family = String => Parts

  /**
   * Scale transfer of `families` from `lower` to `upper` (one row per `id`):
   * one projection of the families' inputs over `lower`, one
   * `groupBy(id).agg`, one left join to `upper` and one select of `upper`'s
   * columns plus every family's outputs. Pass only the upper columns the
   * result should keep and the outputs read.
   */
  def perUnit(lower: DataFrame, upper: DataFrame, id: String)(families: Family*): DataFrame = {
    val parts = families.zipWithIndex.map { case (f, i) => f(s"__f${i}_") }
    val aggs = parts.flatMap(_.aggs)
    val joined =
      if (aggs.isEmpty) upper
      else upper.join(lower.select(col(id) +: parts.flatMap(_.inputs): _*)
        .groupBy(col(id)).agg(aggs.head, aggs.tail: _*), Seq(id), "left")
    joined.select(upper.columns.map(col) ++ parts.flatMap(_.outputs): _*)
  }

  sealed trait UnweightedOp
  case object OpSum extends UnweightedOp
  case object OpAvg extends UnweightedOp
  case object OpGeomAvg extends UnweightedOp
  case object OpStd extends UnweightedOp
  case object OpDens extends UnweightedOp
  case object OpNbDens extends UnweightedOp

  /**
   * Per-upper-unit SUM / AVG / STD / GEOM_AVG (= EXP(AVG(LOG x))) / DENS
   * (SUM/upper-area) / NB_DENS (COUNT of `idLow`/upper-area) over
   * lower-scale columns, keeping empty upper units with 0 —
   * GenericIndicators.groovy:57-125. DENS and NB_DENS read the upper
   * `the_geom`.
   *
   * @param vars map of lower-scale column -> operations
   */
  def unweightedOperationFromLowerScale(idLow: String,
                                        vars: Map[String, Seq[UnweightedOp]]): Family = p => {
    val ops = vars.toSeq
    def in(v: String) = col(s"${p}v_$v")
    def agg(name: String) = col(s"$p$name")
    val area = G.stArea(col("the_geom"))
    Parts(
      ops.collect { case (v, os) if os.exists(_ != OpNbDens) => col(v).cast("double").as(s"${p}v_$v") } ++
        (if (ops.exists(_._2.contains(OpNbDens))) Seq(col(idLow).as(s"${p}id")) else Nil),
      ops.flatMap { case (v, os) => os.map {
        case OpSum     => sum(in(v)).as(s"${p}sum_$v")
        case OpAvg     => avg(in(v)).as(s"${p}avg_$v")
        case OpStd     => stddev_pop(in(v)).as(s"${p}std_$v")
        case OpGeomAvg => exp(avg(log(in(v)))).as(s"${p}geom_avg_$v")
        case OpDens    => sum(in(v)).as(s"${p}dsum_$v")
        case OpNbDens  => count(col(s"${p}id")).as(s"${p}ncnt_$v")
      }},
      ops.flatMap { case (v, os) => os.map {
        case OpSum     => coalesce(agg(s"sum_$v"), lit(0.0)).as(s"sum_$v")
        case OpAvg     => coalesce(agg(s"avg_$v"), lit(0.0)).as(s"avg_$v")
        case OpStd     => coalesce(agg(s"std_$v"), lit(0.0)).as(s"std_$v")
        case OpGeomAvg => coalesce(agg(s"geom_avg_$v"), lit(0.0)).as(s"geom_avg_$v")
        case OpDens    => coalesce(agg(s"dsum_$v") / area, lit(0.0)).as(s"${v}_density")
        case OpNbDens  => coalesce(agg(s"ncnt_$v") / area, lit(0.0)).as(s"${v}_number_density")
      }})
  }

  /**
   * Weighted mean and weighted std per upper unit —
   * GenericIndicators.groovy:148-212. The reference materializes the mean in
   * a temp table then rescans for the std; we fuse to ONE aggregate pass via
   * the algebraic identity std² = Σw·v²/Σw − μ² (same result, half the
   * shuffles — SURVEY §2.4).
   *
   * @param varsWeights (variable, weight) pairs of lower-scale columns
   */
  def weightedAggregatedStatistics(varsWeights: Seq[(String, String)]): Family = p => {
    def c(kind: String, v: String, w: String) = col(s"$p${kind}_${v}_$w")
    Parts(
      varsWeights.flatMap { case (v, w) =>
        Seq(col(v).as(s"${p}v_${v}_$w"), col(w).as(s"${p}w_${v}_$w")) },
      varsWeights.flatMap { case (v, w) =>
        val x = c("v", v, w); val wt = c("w", v, w)
        Seq(sum(x * wt).as(s"${p}sw_${v}_$w"), sum(x * x * wt).as(s"${p}sww_${v}_$w"),
          sum(wt).as(s"${p}sumw_${v}_$w")) },
      varsWeights.flatMap { case (v, w) =>
        val sw = c("sw", v, w); val sww = c("sww", v, w); val sumw = c("sumw", v, w)
        val mean = sw / sumw
        Seq(
          when(sumw.isNull || sumw === 0, 0.0).otherwise(coalesce(mean, lit(0.0)))
            .as(s"avg_${v}_${w}_weighted"),
          when(sumw.isNull || sumw === 0, 0.0)
            .otherwise(coalesce(sqrt(greatest(sww / sumw - mean * mean, lit(0.0))), lit(0.0)))
            .as(s"std_${v}_${w}_weighted"))
      })
  }

  /**
   * Area fraction per type group (+optional floor-area fraction, which reads
   * the lower `nb_lev`), remainder folded into *_undefined —
   * GenericIndicators.groovy:697-800. Pure CASE-WHEN aggregates.
   *
   * @param areaTypes map fractionName -> accepted `type` values
   */
  def typeProportion(typeField: String, areaTypes: Map[String, Seq[String]],
                     floorAreaTypes: Map[String, Seq[String]] = Map.empty): Family = p => {
    val area = col(s"${p}area"); val tpe = col(s"${p}type")
    val floorArea = area * col(s"${p}nb_lev")
    def fractions(types: Map[String, Seq[String]], tot: Column, pfx: String, outPfx: String) = {
      val names = types.keys.toSeq
      val base = names.map { name =>
        name -> when(tot.isNull || tot === 0, 0.0).otherwise(coalesce(col(s"$p$pfx$name") / tot, lit(0.0)))
      }
      // fold the unexplained remainder into *_undefined when requested
      // (GenericIndicators.groovy:766-778)
      val folded = names.filter(k => k == "undefined" || k == "undefined_lcz")
        .foldLeft(base.toMap) { (m, uc) =>
          val total = names.map(m).reduce(_ + _)
          m.updated(uc, when(total < 1.0, lit(1.0) - total + m(uc)).otherwise(m(uc)))
        }
      names.map(k => folded(k).as(s"$outPfx$k"))
    }
    Parts(
      Seq(G.stArea(col("the_geom")).as(s"${p}area"), col(typeField).as(s"${p}type")) ++
        (if (floorAreaTypes.nonEmpty) Seq(col("nb_lev").as(s"${p}nb_lev")) else Nil),
      Seq(sum(area).as(s"${p}tot")) ++
        areaTypes.map { case (name, compo) =>
          sum(when(tpe.isin(compo: _*), area)).as(s"${p}a_$name") }.toSeq ++
        (if (floorAreaTypes.nonEmpty) Seq(sum(floorArea).as(s"${p}ftot")) else Nil) ++
        floorAreaTypes.map { case (name, compo) =>
          sum(when(tpe.isin(compo: _*), floorArea)).as(s"${p}f_$name") }.toSeq,
      fractions(areaTypes, col(s"${p}tot"), "a_", "area_fraction_") ++
        fractions(floorAreaTypes, col(s"${p}ftot"), "f_", "floor_area_fraction_"))
  }

  /**
   * Building direction distribution + characterization —
   * GenericIndicators.groovy:291-411 (golden: block 4 → equality 4/12,
   * main direction ang97_5, uniqueness 6/50):
   * per building, the minimum rectangle's minimum diameter gives the short
   * axis (LEN_L, ANG_L) and the π/2-rotated axis (LEN_H = building area /
   * LEN_L, ANG_H); lengths bucketed by rounded azimuth degree into
   * `angleRangeSize`° classes (nested CASE: ANG_L wins the bucket); per
   * upper unit the distribution is characterized (Perkins equality,
   * two-largest uniqueness, extremum bucket name); empty units → -1 /
   * "unknown" (reference defaults). The per-building kernel is one UDF
   * projected once; the bucket sums read its struct fields.
   */
  def buildingDirectionDistribution(angleRangeSize: Int = 15): Family = {
    require(180 % angleRangeSize == 0 && 180 / angleRangeSize > 1)
    val nb = 180 / angleRangeSize
    val props = udf { (wkb: Array[Byte]) =>
      val g = graft.geom.Geo.fromWkb(wkb)
      val rect = graft.geom.Geo.minimumRectangle(g)
      val diam = new org.locationtech.jts.algorithm.MinimumDiameter(rect).getDiameter
      val cs = diam.getCoordinates
      val lenL = diam.getLength
      val lenH = g.getArea / lenL
      val angL360 = math.round(math.toDegrees(
        graft.geom.Geo.azimuth(cs(0).x, cs(0).y, cs(1).x, cs(1).y))).toDouble
      // ST_ROTATE(geom, pi/2) is a CCW rotation; azimuth is translation-
      // invariant so rotate the direction vector: (dx,dy) -> (-dy,dx)
      val dx = cs(1).x - cs(0).x; val dy = cs(1).y - cs(0).y
      val angH360 = math.round(math.toDegrees(
        graft.geom.Geo.azimuth(0, 0, -dy, dx))).toDouble
      // reference quirk replicated: >=180 for ANG_L but strict >180 for ANG_H
      val angL = if (angL360 >= 180) angL360 - 180 else angL360
      val angH = if (angH360 > 180) angH360 - 180 else angH360
      (lenL, lenH, angL, angH)
    }
    def name(b: Int): String = {
      val center = b * angleRangeSize + angleRangeSize / 2.0
      "ang" + f"$center%.1f".replace('.', '_') // Groovy float toString keeps one decimal
    }
    val names = (0 until nb).map(name)
    p => {
      val k = col(s"${p}k")
      val (lenL, lenH, angL, angH) =
        (k.getField("_1"), k.getField("_2"), k.getField("_3"), k.getField("_4"))
      val buckets = names.map(n => col(s"$p$n"))
      val arr = array(buckets: _*)
      val tot = aggregate(arr, lit(0.0), (a, x) => a + x)
      val sorted = array_sort(arr)
      val x1 = element_at(sorted, -1); val x2 = element_at(sorted, -2)
      val mx = greatest(buckets: _*)
      val mainDir = coalesce(names.zip(buckets).map { case (n, c) => when(c === mx, lit(n)) } :+
        lit("unknown"): _*)
      val empty = buckets.head.isNull
      Parts(
        Seq(props(col("the_geom")).as(s"${p}k")),
        (0 until nb).map { b =>
          val lo = b * angleRangeSize; val hi = lo + angleRangeSize
          sum(when(angL >= lo && angL < hi, lenL)
            .otherwise(when(angH >= lo && angH < hi, lenH).otherwise(0.0))).as(s"$p${name(b)}")
        },
        Seq(
          when(empty, lit("unknown")).otherwise(mainDir).as("main_building_direction"),
          when(empty, -1.0)
            .otherwise(aggregate(arr, lit(0.0), (a, x) => a + least(x, tot / nb)) / tot)
            .as("building_direction_equality"),
          when(empty, -1.0).otherwise(abs(x1 - x2) / (x1 + x2))
            .as("building_direction_uniqueness")))
    }
  }

  /**
   * Per-row distribution characterization over an array of bucket values —
   * GenericIndicators.groovy:448-646, there a Groovy row-loop + JDBC batch
   * insert; here pure Catalyst higher-order functions (no row-at-a-time IO):
   * - uniqueness: |x1−x2|/(x1+x2) of the two largest buckets
   * - equality  : Perkins Skill Score vs uniform = Σ min(x_i, Σx/n)/Σx
   * - extremum  : index of the max bucket (deterministic: first max)
   */
  /**
   * Distribution characterization over pivot COLUMNS with primary AND
   * secondary extremum — the `keep2ndCol=true, keepColVal=true` shape the
   * grid-LCZ aggregation uses (GenericIndicators.groovy:448-646 via
   * WorkflowGeoIndicators.groovy:1785-1830). Reference semantics:
   *  - rows where the distribution columns are NULL (upper units with no
   *    lower geometry) default to equality/uniqueness/extremum_val = -1 and
   *    extremum cols = 'unknown';
   *  - the Groovy sorts the row map ASC by value with a STABLE sort, then
   *    takes the last two entries: ties resolve to the LATER column in
   *    pivot order. (The reference's pivot order itself comes from a
   *    SELECT DISTINCT — nondeterministic in H2 — so we fix it to the
   *    caller's `cols` order, the correspondence-map order for LCZ.)
   * Implemented per-row in Catalyst: array_sort over (value, index) structs
   * reproduces the stable ascending sort exactly.
   *
   * @return idCol, equality_value, uniqueness_value, extremum_col,
   *         extremum_col2, extremum_val
   */
  def distributionCharacterizationCols(df: DataFrame, cols: Seq[String],
                                       idCol: String): DataFrame = {
    val n = cols.length
    require(n >= 2, "need at least two distribution columns")
    val entries = array(cols.zipWithIndex.map { case (c, i) =>
      struct(col(c).cast("double").as("v"), lit(i).as("i"))
    }: _*)
    // stable ascending by value: (v, i) lexicographic == Groovy stable sort
    val sorted = array_sort(entries)
    val tot = aggregate(sorted, lit(0.0), (acc, e) => acc + e.getField("v"))
    val x1 = element_at(sorted, -1).getField("v")
    val x2 = element_at(sorted, -2).getField("v")
    val i1 = element_at(sorted, -1).getField("i")
    val i2 = element_at(sorted, -2).getField("i")
    val names = array(cols.map(lit): _*)
    val anyNull = cols.map(col(_).isNull).reduce(_ || _)
    df.select(
      col(idCol),
      // all-zero rows: the Groovy inserts NULL, and the final outer
      // COALESCE(x, -1) turns it into -1 just like missing rows
      when(anyNull || tot === 0, -1.0)
        .otherwise(aggregate(sorted, lit(0.0),
          (acc, e) => acc + least(e.getField("v"), tot / n)) / tot)
        .as("equality_value"),
      when(anyNull || x1 + x2 === 0, -1.0)
        .otherwise(abs(x1 - x2) / (x1 + x2)).as("uniqueness_value"),
      when(anyNull, "unknown").otherwise(element_at(names, i1 + 1)).as("extremum_col"),
      when(anyNull, "unknown").otherwise(element_at(names, i2 + 1)).as("extremum_col2"),
      when(anyNull, -1.0).otherwise(x1).as("extremum_val"))
  }

  def distributionCharacterization(df: DataFrame, arrayCol: String, idCol: String): DataFrame = {
    val arr = col(arrayCol)
    val tot = aggregate(arr, lit(0.0), (acc, x) => acc + x)
    val n = size(arr)
    val sorted = array_sort(arr) // ascending
    val x1 = element_at(sorted, -1) // max
    val x2 = element_at(sorted, -2)
    df.select(
      col(idCol),
      when(tot === 0, lit(null)).otherwise(
        aggregate(arr, lit(0.0), (acc, x) => acc + least(x, tot / n)) / tot).as("equality_value"),
      when(x1 + x2 === 0, lit(0.0)).otherwise(abs(x1 - x2) / (x1 + x2)).as("uniqueness_value"),
      expr(s"array_position($arrayCol, array_max($arrayCol))").cast("int").as("extremum_index"))
  }
}
