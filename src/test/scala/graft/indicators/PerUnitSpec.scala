package graft.indicators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.SparkTestBase
import graft.geom.{GeoFunctions => G}
import graft.index.CellGrid
import graft.indicators.GenericIndicators._
import graft.operators.SpatialJoin
import graft.workflow.{WorkflowChain, WorkflowRunner}

/** Each scale's per-unit aggregate (one `perUnit` pass per lower table)
  * against the composition it replaced: one groupBy and one join back to
  * the unit per family, kept below as the reference. The fixture holds an
  * empty unit at every scale, a null `type`, a null and a zero
  * `height_roof`, a zero-weight block and a building across two grid cells. */
class PerUnitSpec extends SparkTestBase {
  import spark.implicits._
  private val grid = CellGrid.fixture
  private val Res = 10

  // ---- the per-family composition, as it stood before `perUnit` ----------

  private object Reference {
    def unweighted(lower: DataFrame, upper: DataFrame, idUp: String, idLow: String,
                   vars: Map[String, Seq[UnweightedOp]]): DataFrame = {
      val aggs: Seq[Column] = vars.toSeq.flatMap { case (v, ops) =>
        ops.map {
          case OpSum     => sum(col(v).cast("double")).as(s"sum_$v")
          case OpAvg     => avg(col(v).cast("double")).as(s"avg_$v")
          case OpStd     => stddev_pop(col(v).cast("double")).as(s"std_$v")
          case OpGeomAvg => exp(avg(log(col(v).cast("double")))).as(s"geom_avg_$v")
          case OpDens    => sum(col(v).cast("double")).as(s"__dsum_$v")
          case OpNbDens  => count(col(idLow)).as(s"__ncnt_$v")
        }
      }
      val joined = upper.join(lower.groupBy(col(idUp)).agg(aggs.head, aggs.tail: _*), Seq(idUp), "left")
      joined.select(col(idUp) +: vars.toSeq.flatMap { case (v, ops) =>
        ops.map {
          case OpSum     => coalesce(col(s"sum_$v"), lit(0.0)).as(s"sum_$v")
          case OpAvg     => coalesce(col(s"avg_$v"), lit(0.0)).as(s"avg_$v")
          case OpStd     => coalesce(col(s"std_$v"), lit(0.0)).as(s"std_$v")
          case OpGeomAvg => coalesce(col(s"geom_avg_$v"), lit(0.0)).as(s"geom_avg_$v")
          case OpDens    => coalesce(col(s"__dsum_$v") / G.stArea(col("the_geom")), lit(0.0)).as(s"${v}_density")
          case OpNbDens  => coalesce(col(s"__ncnt_$v") / G.stArea(col("the_geom")), lit(0.0))
            .as(s"${v}_number_density")
        }
      }: _*)
    }

    def weighted(lower: DataFrame, upper: DataFrame, idUp: String,
                 varsWeights: Seq[(String, String)]): DataFrame = {
      val aggs = varsWeights.flatMap { case (v, w) =>
        Seq(sum(col(v) * col(w)).as(s"__sw_${v}_$w"), sum(col(v) * col(v) * col(w)).as(s"__sww_${v}_$w"),
          sum(col(w)).as(s"__w_${v}_$w"))
      }
      val joined = upper.select(idUp)
        .join(lower.groupBy(col(idUp)).agg(aggs.head, aggs.tail: _*), Seq(idUp), "left")
      joined.select(col(idUp) +: varsWeights.flatMap { case (v, w) =>
        val sw = col(s"__sw_${v}_$w"); val sww = col(s"__sww_${v}_$w"); val sumw = col(s"__w_${v}_$w")
        val mean = sw / sumw
        Seq(when(sumw.isNull || sumw === 0, 0.0).otherwise(coalesce(mean, lit(0.0)))
            .as(s"avg_${v}_${w}_weighted"),
          when(sumw.isNull || sumw === 0, 0.0)
            .otherwise(coalesce(sqrt(greatest(sww / sumw - mean * mean, lit(0.0))), lit(0.0)))
            .as(s"std_${v}_${w}_weighted"))
      }: _*)
    }

    def typeProportion(lower: DataFrame, upper: DataFrame, idField: String, typeField: String,
                       areaTypes: Map[String, Seq[String]],
                       floorAreaTypes: Map[String, Seq[String]]): DataFrame = {
      val area = G.stArea(col("the_geom")); val floorArea = area * col("nb_lev")
      val aggs = Seq(sum(area).as("__area")) ++
        areaTypes.map { case (n, c) => sum(when(col(typeField).isin(c: _*), area)).as(s"__a_$n") } ++
        (if (floorAreaTypes.nonEmpty) Seq(sum(floorArea).as("__farea")) else Nil) ++
        floorAreaTypes.map { case (n, c) => sum(when(col(typeField).isin(c: _*), floorArea)).as(s"__f_$n") }
      val joined = upper.select(idField)
        .join(lower.groupBy(col(idField)).agg(aggs.head, aggs.tail: _*), Seq(idField), "left")
      def fractions(names: Iterable[String], tot: Column, pfx: String, outPfx: String) =
        names.toSeq.map { n =>
          when(tot.isNull || tot === 0, 0.0).otherwise(coalesce(col(s"$pfx$n") / tot, lit(0.0))).as(s"$outPfx$n")
        }
      val withFracs = joined.select(col(idField) +:
        (fractions(areaTypes.keys, col("__area"), "__a_", "area_fraction_") ++
          fractions(floorAreaTypes.keys, col("__farea"), "__f_", "floor_area_fraction_")): _*)
      def foldUndefined(df: DataFrame, keys: Iterable[String], pfx: String): DataFrame = {
        val undef = keys.filter(k => k == "undefined" || k == "undefined_lcz").map(k => s"$pfx$k")
        if (undef.isEmpty) df
        else {
          val total = keys.map(k => col(s"$pfx$k")).reduce(_ + _)
          undef.foldLeft(df) { (d, uc) =>
            d.withColumn(uc, when(total < 1.0, lit(1.0) - total + col(uc)).otherwise(col(uc)))
          }
        }
      }
      foldUndefined(foldUndefined(withFracs, areaTypes.keys, "area_fraction_"),
        floorAreaTypes.keys, "floor_area_fraction_")
    }

    /** The per-building kernel is the family's own (its input column); the
      * bucketing, the join back and the characterization are the old ones. */
    def direction(building: DataFrame, upper: DataFrame, idUp: String, angleRangeSize: Int): DataFrame = {
      val nb = 180 / angleRangeSize
      val kernel = GenericIndicators.buildingDirectionDistribution(angleRangeSize)("__").inputs.head
      val p = building.select(col(idUp), kernel).select(col(idUp),
        col("__k._1").as("__len_l"), col("__k._2").as("__len_h"),
        col("__k._3").as("__ang_l"), col("__k._4").as("__ang_h"))
      def name(b: Int) = "ang" + f"${b * angleRangeSize + angleRangeSize / 2.0}%.1f".replace('.', '_')
      val buckets = (0 until nb).map { b =>
        val lo = b * angleRangeSize; val hi = lo + angleRangeSize
        sum(when(col("__ang_l") >= lo && col("__ang_l") < hi, col("__len_l"))
          .otherwise(when(col("__ang_h") >= lo && col("__ang_h") < hi, col("__len_h")).otherwise(0.0)))
          .as(name(b))
      }
      val names = (0 until nb).map(name)
      val joined = upper.select(idUp)
        .join(p.groupBy(col(idUp)).agg(buckets.head, buckets.tail: _*), Seq(idUp), "left")
      val arr = array(names.map(col): _*)
      val tot = aggregate(arr, lit(0.0), (a, x) => a + x)
      val sorted = array_sort(arr)
      val x1 = element_at(sorted, -1); val x2 = element_at(sorted, -2)
      val mx = greatest(names.map(col): _*)
      val mainDir = coalesce(names.map(n => when(col(n) === mx, lit(n))) :+ lit("unknown"): _*)
      joined.select(col(idUp),
        when(col(names.head).isNull, lit("unknown")).otherwise(mainDir).as("main_building_direction"),
        when(col(names.head).isNull, -1.0)
          .otherwise(aggregate(arr, lit(0.0), (a, x) => a + least(x, tot / nb)) / tot)
          .as("building_direction_equality"),
        when(col(names.head).isNull, -1.0).otherwise(abs(x1 - x2) / (x1 + x2))
          .as("building_direction_uniqueness"))
    }

    def freeExternalFacadeDensity(building: DataFrame, rsu: DataFrame): DataFrame = {
      val agg = building.groupBy("id_rsu").agg(
        sum((lit(1.0) - col("contiguity")) * col("total_facade_length") * col("height_wall")).as("__s"))
      rsu.select(col("id_rsu"), col("the_geom")).join(agg, Seq("id_rsu"), "left")
        .select(col("id_rsu"),
          coalesce(col("__s") / G.stArea(col("the_geom")), lit(0.0)).as("free_external_facade_density"))
    }

    def block(bi: DataFrame, blocks: DataFrame): DataFrame = {
      val sums = unweighted(bi.select("id_block", "area", "floor_area", "volume", "id_build"),
          blocks.select("id_block"), "id_block", "id_build",
          Map("area" -> Seq(OpSum), "floor_area" -> Seq(OpSum), "volume" -> Seq(OpSum)))
        .withColumnRenamed("sum_area", "area").withColumnRenamed("sum_floor_area", "floor_area")
        .withColumnRenamed("sum_volume", "volume")
      val holes = blocks.select(col("id_block"),
        (G.stHolesArea(col("the_geom")) / G.stArea(col("the_geom"))).as("hole_area_density"))
      val closingness = bi.select(col("id_block"), G.stHolesArea(col("the_geom")).as("bu_holes"))
        .join(blocks.select(col("id_block"), G.stHolesArea(col("the_geom")).as("bl_holes")), "id_block")
        .groupBy("id_block").agg((first(col("bl_holes")) - sum(col("bu_holes"))).as("closingness"))
      val compactness = bi.groupBy("id_block")
        .agg((sum(col("contiguity") * (G.stPerimeter(col("the_geom")) + G.stHolesPerim(col("the_geom"))) *
          col("height_wall")) / pow(sum(col("volume")), 2.0 / 3.0)).as("net_compactness"))
      blocks.join(sums, Seq("id_block"), "left")
        .join(holes, Seq("id_block"), "left")
        .join(direction(bi.select("id_build", "id_block", "the_geom"), blocks.select("id_block"),
          "id_block", 15), Seq("id_block"), "left")
        .join(closingness, Seq("id_block"), "left")
        .join(compactness, Seq("id_block"), "left")
        .join(weighted(bi.select("id_block", "height_roof", "area"), blocks.select("id_block"),
          "id_block", Seq(("height_roof", "area"))), Seq("id_block"), "left")
    }
  }

  // ---- fixture ------------------------------------------------------------

  private def box(x0: Int, y0: Int, x1: Int, y1: Int) = s"POLYGON(($x0 $y0,$x1 $y0,$x1 $y1,$x0 $y1,$x0 $y0))"

  /** Buildings with the building-scale columns the scales read; `area` is
    * the geometry's area, as `computeBuildingsIndicators` makes it. */
  private lazy val buildings: DataFrame = {
    val rows = Seq(
      // id, wkt, block, rsu, type, height_roof, height_wall, nb_lev
      (1, box(5, 5, 25, 20), 1, 1, Some("residential"), Some(10.0), 8.0, 3),
      (2, "POLYGON((50 10,70 20,65 30,45 20,50 10))", 1, 1, None, None, 6.0, 2),
      (3, box(60, 60, 90, 70), 2, 1, Some("house"), Some(0.0), 5.0, 1),
      (4, "POLYGON((110 10,150 10,150 50,110 50,110 10),(120 20,130 20,130 30,120 30,120 20))",
        2, 2, Some("industrial"), Some(20.0), 18.0, 5),
      (5, box(160, 10, 170, 60), 2, 2, Some("building"), Some(12.0), 10.0, 4),
      (6, box(10, 110, 30, 130), 4, 3, Some("commercial"), Some(7.0), 7.0, 2),
      (7, box(90, 70, 110, 80), 2, 2, Some("residential"), Some(9.0), 9.0, 3)) // across x = 100
    val df = rows.toDF("id_build", "wkt", "id_block", "id_rsu", "type", "height_roof", "height_wall", "nb_lev")
      .select(col("*"), G.stGeomFromWkt(col("wkt")).as("the_geom")).drop("wkt")
      .withColumn("area", G.stArea(col("the_geom")))
      .withColumn("floor_area", col("area") * col("nb_lev"))
      .withColumn("volume", col("area") * col("height_wall"))
      .withColumn("contiguity", (col("id_build") % 3) * 0.1)
      .withColumn("total_facade_length", G.stPerimeter(col("the_geom")))
      .withColumn("number_building_neighbor", (col("id_build") % 2).cast("long"))
      .withColumn("minimum_building_spacing", col("id_build") * 1.5)
    spark.createDataFrame(df.rdd, df.schema) // an RDD source: nothing folds at planning
  }
  private def units(id: String, boxes: (Int, String)*): DataFrame =
    boxes.toDF(id, "wkt").select(col(id), G.stGeomFromWkt(col("wkt")).as("the_geom"))
  /** Block 3 holds no building; block 1 has a hole. */
  private lazy val blocks = units("id_block",
    1 -> "POLYGON((0 0,80 0,80 40,0 40,0 0),(30 30,35 30,35 35,30 35,30 30))",
    2 -> box(55, 0, 175, 85), 3 -> box(300, 0, 340, 40), 4 -> box(5, 105, 35, 135))
  /** RSU 4 holds no building. */
  private lazy val rsus = units("id_rsu",
    1 -> box(0, 0, 100, 100), 2 -> box(100, 0, 200, 100), 3 -> box(0, 100, 100, 200),
    4 -> box(100, 100, 200, 200))
  /** Cell 4 holds no building; building 7 lies across cells 1 and 2. */
  private lazy val cells = units("id_grid",
    1 -> box(0, 0, 100, 100), 2 -> box(100, 0, 200, 100), 3 -> box(0, 100, 100, 200),
    4 -> box(100, 100, 200, 200))
    .withColumn("id_col", ((col("id_grid") - 1) % 2).cast("int"))
    .withColumn("id_row", ((col("id_grid") - 1) / 2).cast("int"))

  /** Every column of `ref` is in `got`, row for row by `id`: doubles within
    * 1e-9, everything else exact. */
  private def assertSame(got: DataFrame, ref: DataFrame, id: String): Unit = {
    val bad = OverlayReference.mismatches(got, ref, id)
    assert(bad.isEmpty, bad.take(10).mkString("\n"))
  }

  // ---- the scales -----------------------------------------------------------

  test("block scale: computeBlockIndicators equals the per-family composition") {
    // block 4's one building weighs nothing
    val bi = buildings.withColumn("area", when(col("id_block") === 4, 0.0).otherwise(col("area")))
    val got = WorkflowChain.computeBlockIndicators(bi, blocks)
    val ref = Reference.block(bi, blocks)
    assert(got.columns.toSeq == ref.columns.toSeq)
    assertSame(got, ref, "id_block")
    val b = got.collect().map(r => r.getAs[Int]("id_block") -> r).toMap
    assert(b(3).getAs[String]("main_building_direction") == "unknown")
    assert(b(3).isNullAt(b(3).fieldIndex("closingness")) && b(3).getAs[Double]("area") == 0.0)
    assert(b(4).getAs[Double]("avg_height_roof_area_weighted") == 0.0)
  }

  test("RSU scale: the building families of computeRsuIndicators equal the per-family composition") {
    val got = WorkflowChain.computeRsuIndicators(buildings, rsus, None, None, None, None, None,
      Seq("LCZ", "UTRF", "TEB"), svfSimplified = true, grid, Res)
    val rsu = rsus.select("id_rsu")
    val forTypes = buildings.select("id_rsu", "type", "the_geom", "nb_lev")
    val ops: Map[String, Seq[UnweightedOp]] = Map("floor_area" -> Seq(OpDens),
      "height_roof" -> Seq(OpGeomAvg, OpAvg, OpStd), "volume" -> Seq(OpDens, OpAvg),
      "number_building_neighbor" -> Seq(OpAvg), "minimum_building_spacing" -> Seq(OpAvg),
      "building" -> Seq(OpNbDens))
    val ref = rsu
      .join(Reference.typeProportion(forTypes, rsu, "id_rsu", "type",
        WorkflowChain.LczTypeComposition, Map.empty), "id_rsu")
      .join(Reference.typeProportion(forTypes, rsu, "id_rsu", "type",
        WorkflowRunner.TebTypeComposition, WorkflowRunner.TebTypeComposition), "id_rsu")
      .join(Reference.freeExternalFacadeDensity(buildings, rsus), "id_rsu")
      .join(Reference.unweighted(buildings, rsus, "id_rsu", "id_build", ops)
        .withColumnRenamed("floor_area_density", "building_floor_area_density")
        .withColumnRenamed("volume_density", "building_volume_density"), "id_rsu")
      .join(Reference.weighted(buildings.withColumn("barea", G.stArea(col("the_geom"))), rsu, "id_rsu",
          Seq(("height_roof", "barea"), ("nb_lev", "barea")))
        .withColumnRenamed("avg_height_roof_barea_weighted", "avg_height_roof_area_weighted")
        .withColumnRenamed("std_height_roof_barea_weighted", "std_height_roof_area_weighted")
        .withColumnRenamed("avg_nb_lev_barea_weighted", "avg_nb_lev_area_weighted")
        .drop("std_nb_lev_barea_weighted"), "id_rsu")
      .join(Reference.direction(buildings, rsu, "id_rsu", 15), "id_rsu")
    assert(!got.columns.contains("std_nb_lev_area_weighted"))
    assertSame(got, ref, "id_rsu")
    val empty = got.where(col("id_rsu") === 4).head()
    assert(empty.getAs[String]("main_building_direction") == "unknown")
    assert(empty.getAs[Double]("building_number_density") == 0.0)
  }

  test("grid scale: rasterizeIndicators' cut and relation aggregates equal the per-family composition") {
    val inds = Seq("BUILDING_NUMBER", "BUILDING_DIRECTION", "BUILDING_HEIGHT_WEIGHTED",
      "BUILDING_TYPE_FRACTION", "BUILDING_HEIGHT")
    val got = WorkflowRunner.rasterizeIndicators(
      WorkflowRunner.Layers(zone = rsus, building = buildings), cells, inds, grid, Res)
    val cellGeoms = cells.select("id_grid", "the_geom"); val ids = cells.select("id_grid")
    val cut = OverlayReference.cutBuilding(cellGeoms, buildings, grid, Res)
    assert(cut.where(col("id_build") === 7).select("id_grid").as[Int].collect().sorted.toSeq == Seq(1, 2))
    val rel = SpatialJoin.intersectsJoin(buildings.withColumnRenamed("the_geom", "__bg"), "__bg",
      cells.select(col("id_grid"), col("the_geom").as("__cg")), "__cg", grid, Res)
    val ref = ids
      .join(Reference.unweighted(rel.select("id_grid", "height_roof", "id_build"), cellGeoms,
        "id_grid", "id_build", Map("height_roof" -> Seq(OpAvg, OpStd))), "id_grid")
      .join(Reference.unweighted(cut.select("id_grid", "id_build"), cellGeoms, "id_grid", "id_build",
        Map("building" -> Seq(OpNbDens))), "id_grid")
      .join(Reference.direction(cut, ids, "id_grid", 30), "id_grid")
      .join(Reference.weighted(cut, ids, "id_grid", Seq(("height_roof", "area"))), "id_grid")
      .join(Reference.typeProportion(cut, ids, "id_grid", "type",
        WorkflowRunner.TebTypeComposition, WorkflowRunner.TebTypeComposition), "id_grid")
    assertSame(got, ref, "id_grid")
    assert(got.where(col("id_grid") === 4).head().getAs[String]("main_building_direction") == "unknown")
  }

  test("the combined aggregate projects the direction kernel once") {
    val plan = perUnit(buildings, rsus, "id_rsu")(
      typeProportion("type", WorkflowChain.LczTypeComposition),
      RsuIndicators.freeExternalFacadeDensity,
      unweightedOperationFromLowerScale("id_build", Map("height_roof" -> Seq(OpAvg))),
      weightedAggregatedStatistics(Seq(("height_roof", "area"))),
      buildingDirectionDistribution(15)).queryExecution.optimizedPlan
    // the kernel is the one UDF returning a struct (the others return doubles)
    val kernels = plan.collect { case p => p.expressions.map(_.collect {
      case u: ScalaUDF if u.dataType.isInstanceOf[StructType] => u }.size).sum }.sum
    assert(kernels == 1, plan)
  }

  test("two instances of one family share an aggregate without clashing") {
    val out = perUnit(buildings, rsus.select("id_rsu"), "id_rsu")(
      typeProportion("type", Map("res" -> Seq("residential"))),
      typeProportion("type", Map("ind" -> Seq("industrial"))))
      .collect().map(r => r.getAs[Int]("id_rsu") -> r).toMap
    assert(out(2).getAs[Double]("area_fraction_ind") > 0 && out(2).getAs[Double]("area_fraction_res") > 0)
    assert(out(4).getAs[Double]("area_fraction_ind") == 0.0)
  }
}
