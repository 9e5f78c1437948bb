package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory}
import org.locationtech.jts.io.{WKBReader, WKTReader}
import graft.fixtures.GeoFixture
import graft.index.CellGrid
import graft.indicators.Lcz
import graft.lake.{CurationPipeline, Lake, Pages, PagesPipeline}
import graft.operators.{ConnectedComponents, Curation, Dedup, Pii, SpatialJoin, SpatialUnits, Tiling}
import graft.workflow.{WorkflowChain, WorkflowConfig, WorkflowRunner}

/** What every workload shares: the session, the span recorder, the seed
  * and a scratch directory inside the checkout. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long, work: Path) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** A named metric value. */
final case class M(name: String, value: Double, unit: String)

/**
 * One closed-loop workload. `iterate` runs one cold operation inside a span
 * named "op" (the timed part) and then checks its outputs against
 * references the code under test did not produce; it returns false on a
 * mismatch. `traced` runs the same work and records every layer: in a
 * span of its own around the layer's materialized output, or, for the lake
 * workloads, from the lake's snapshot log and the listener.
 */
abstract class Workload(val ctx: Ctx) {
  def items: Long
  /** Iterations run before timing starts, so JIT and codegen settle. */
  def warmups: Int = 1
  /** Workloads whose traced pass runs in this workload's traced run: their
    * layers are measured there. */
  def companions: Seq[String] = Nil
  /** Makes the inputs; run three times, its median counts in setup_s. */
  def prepare(): Unit
  def iterate(): Boolean
  def traced(): Boolean
  /** Workload-specific end-to-end lines (printed, not part of the result). */
  def extraE2e(): Seq[M] = Nil
  /** Per-layer metrics from the traced iterations. */
  def layers(traced: Seq[Span]): Seq[M]

  protected def spark: SparkSession = ctx.spark
  protected def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  protected def fail(msg: String): Boolean = { System.err.println(s"check failed: $msg"); false }
  protected def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  /** Spans named `name` inside the traced iterations. */
  protected def within(traced: Seq[Span], name: String): Seq[Span] =
    traced.flatMap(ctx.tracer.within(_, name))
  /** Median over traced iterations of a layer span's wall. */
  protected def layerSeconds(traced: Seq[Span], name: String): Double =
    med(within(traced, name).map(_.seconds))
  protected def dirBytes(p: Path): (Long, Int) =
    if (!Files.exists(p)) (0L, 0)
    else {
      val files = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.map(Files.size).sum, files.count(_.getFileName.toString.endsWith(".parquet")))
    }
  protected def freshDir(name: String): Path = {
    val p = ctx.work.resolve(name); Bench.deleteTree(p); p
  }
}

object Workloads {
  val Names: Seq[String] = Seq("pages_tiles", "pages_lake", "city_chain", "curation_lake")
  val grid: CellGrid = CellGrid.fixture
  val res = 10

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "pages_tiles" => new PagesTiles(ctx, 2000000L)
    case "pages_lake" => new PagesLake(ctx, 200000L)
    case "city_chain" => new CityChain(ctx, 2000L)
    case "curation_lake" => new CurationLake(ctx, 2000L)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Tiles of the pages pipeline, keyed (id_rsu, id_col, id_row) → count. */
  def tileRows(rows: Array[Row]): Map[(Int, Long, Long), Long] =
    rows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap

  def tiles(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("id_rsu"),
        Tiling.tileCol(col("x"), 0.0, 10.0).as("id_col"),
        Tiling.tileRow(col("y"), 0.0, 10.0).as("id_row"))
      .agg(count(lit(1)).as("cnt"))

  def rsu(spark: SparkSession): DataFrame =
    GeoFixture.rsuDf(spark).select(col("id_rsu"), col("the_geom"))

  /** RSU ids containing (x, y), by plain JTS containment over every RSU. */
  lazy val fixtureRsus: Seq[(Int, Geometry)] = {
    val r = new WKTReader()
    GeoFixture.rsus.map { case (id, wkt, _, _, _) => (id, r.read(wkt)) }
  }
  private val gf = new GeometryFactory()
  def bruteForceRsus(x: Double, y: Double): Set[Int] = {
    val p = gf.createPoint(new Coordinate(x, y))
    fixtureRsus.collect { case (id, g) if g.contains(p) => id }.toSet
  }
}

// ---------------------------------------------------------------------------

/** pages → geocode → broadcast point-in-polygon → tile aggregate, no
  * persistence; plus a local[1] pass on the same input for scaling. */
final class PagesTiles(ctx: Ctx, val n: Long) extends Workload(ctx) {
  import Workloads._
  def items: Long = n
  override def warmups: Int = 4
  override def companions: Seq[String] = Seq("pages_lake")
  private val rsuDf = rsu(spark)
  private var sampleRef: Map[Long, Set[Int]] = Map.empty
  private var firstTiles: Option[Map[(Int, Long, Long), Long]] = None

  private def points: DataFrame = Pages.geocode(Gen.pages(spark, n, ctx.seed))

  def run(s: SparkSession): Array[Row] =
    tiles(SpatialJoin.pointInPolygon(Pages.geocode(Gen.pages(s, n, ctx.seed)), "x", "y",
      rsu(s), "the_geom", grid, res)).collect()

  private def sampleIds: Seq[Long] = {
    val off = Gen.pageOffset(ctx.seed, n)
    (0L until 1000L).map(k => off + k * (n / 1000) + k % 7)
  }

  def prepare(): Unit = {
    val pts = points.where(col("i").isInCollection(sampleIds)).select("i", "x", "y").collect()
    sampleRef = pts.map(r => r.getLong(0) -> bruteForceRsus(r.getDouble(1), r.getDouble(2))).toMap
  }

  private def sampleMatches(): Boolean = {
    val got = SpatialJoin.pointInPolygon(points.where(col("i").isInCollection(sampleIds)),
        "x", "y", rsuDf, "the_geom", grid, res)
      .select("i", "id_rsu").collect()
      .groupBy(_.getLong(0)).map { case (i, rs) => i -> rs.map(_.getInt(1)).toSet }
    val bad = sampleRef.filter { case (i, want) => got.getOrElse(i, Set.empty) != want }
    bad.isEmpty || fail(s"pointInPolygon differs from JTS containment on ${bad.size} sampled pages")
  }

  private def sameTiles(rows: Array[Row]): Boolean = {
    val t = tileRows(rows)
    if (firstTiles.isEmpty) firstTiles = Some(t)
    (firstTiles.get == t && t.values.sum > 0) || fail("tile counts differ between iterations")
  }

  def expectedTiles: Map[(Int, Long, Long), Long] = {
    if (firstTiles.isEmpty) firstTiles = Some(tileRows(run(spark)))
    firstTiles.get
  }

  def iterate(): Boolean = {
    val rows = ctx.span("op")(run(spark))
    sameTiles(rows) & sampleMatches()
  }

  def traced(): Boolean = {
    var cached = List.empty[DataFrame]
    def materialize(df: DataFrame): DataFrame = {
      val c = df.persist(StorageLevel.MEMORY_AND_DISK); c.count(); cached ::= c; c
    }
    val rows = ctx.span("op") {
      val pts = ctx.span("lake.Pages.synth")(materialize(points.select("i", "x", "y")))
      val withCell = ctx.span("index.cellColumn")(materialize(
        pts.withColumn(SpatialJoin.CellCol, SpatialJoin.cellColumn(grid, res, col("x"), col("y")))))
      val joined = ctx.span("operators.SpatialJoin.pointInPolygon")(materialize(
        SpatialJoin.pointInPolygon(pts, "x", "y", rsuDf, "the_geom", grid, res)))
      val out = ctx.span("operators.Tiling.aggregate")(tiles(joined).collect())
      (out, withCell, joined)
    }
    ctx.span("pip.counts") {
      val (_, withCell, joined) = rows
      val cover = rsuDf.select(explode(SpatialJoin.coverFlagUdf(grid, res)(col("the_geom"))).as("cf"))
        .select(col("cf._1").as("cover_cell"), col("cf._2").as("interior"))
      val c = withCell.join(broadcast(cover), col(SpatialJoin.CellCol) === col("cover_cell"))
        .agg(count(lit(1)), sum(when(col("interior"), 1L).otherwise(0L))).head()
      pipCounts = (c.getLong(0), c.getLong(1), joined.count())
    }
    cached.foreach(_.unpersist(blocking = true))
    sameTiles(rows._1)
  }
  private var pipCounts = (0L, 0L, 0L)

  /** items/s of the same input at local[1] (the session is replaced). */
  def singleCoreRate(seconds: Double): Double = {
    val s1 = Bench.session(1)
    try {
      run(s1) // warm-up
      val t0 = System.nanoTime(); val deadline = t0 + (seconds * 1e9).toLong
      val times = mutable.ArrayBuffer.empty[Double]
      while (times.size < 3 || (System.nanoTime() < deadline && times.size < 50)) {
        val a = System.nanoTime(); run(s1); times += (System.nanoTime() - a) / 1e9
      }
      n / Stats.median(times.toSeq)
    } finally s1.stop()
  }

  def layers(traced: Seq[Span]): Seq[M] = {
    val (cand, interior, refined) = pipCounts
    Seq(
      M("lake.Pages.synth_s", layerSeconds(traced, "lake.Pages.synth"), "s"),
      M("index.cellColumn_s", layerSeconds(traced, "index.cellColumn"), "s"),
      M("operators.SpatialJoin.pointInPolygon_s", layerSeconds(traced, "operators.SpatialJoin.pointInPolygon"), "s"),
      M("operators.Tiling.aggregate_s", layerSeconds(traced, "operators.Tiling.aggregate"), "s"),
      M("operators.SpatialJoin.pip.candidates", cand.toDouble, "count"),
      M("operators.SpatialJoin.pip.refined", refined.toDouble, "count"),
      M("operators.SpatialJoin.pip.interior_frac", if (cand == 0) 0 else interior.toDouble / cand, "ratio"),
      M("operators.SpatialJoin.pip.useful_ratio", if (cand == 0) 0 else refined.toDouble / cand, "ratio"))
  }
}

// ---------------------------------------------------------------------------

/** PagesPipeline.run into a fresh lake, then a resume over the committed
  * lake. PagesPipeline.run synthesizes its pages from a count and takes no
  * seed, so the benchmark commits the seeded "pages" stage with Lake.stage
  * first and the run resumes from it. */
final class PagesLake(ctx: Ctx, val n: Long) extends Workload(ctx) {
  import Workloads._
  def items: Long = n

  private var expected: Map[(Int, Long, Long), Long] = Map.empty
  private var inputBytes = 1L
  private var coldLakeBytes = 0L
  private var coldFiles = 0
  private val walls = mutable.ArrayBuffer.empty[Map[String, Double]]

  val Stages: Seq[String] = Seq("pages", "extracted", "assigned", "tiles")

  private def pipeline(root: Path): Array[Row] = {
    Lake.stage(spark, root.toString, "pages")(Gen.pages(spark, n, ctx.seed))
    val r = PagesPipeline.run(spark, root.toString, n, grid, res)
    require(r.pages == n && r.extracted == n, s"pipeline counted ${r.pages} pages, ${r.extracted} extracted")
    Lake.read(spark, root.toString, "tiles").collect()
  }

  /** The stage bodies of PagesPipeline.run, each reading its input back
    * from the committed lake; used only for lake.compute. */
  private def bodies(root: String): Seq[(String, () => DataFrame)] = Seq(
    "pages" -> (() => Gen.pages(spark, n, ctx.seed)),
    "extracted" -> (() => {
      val e = Lake.read(spark, root, "pages").withColumn("etext", Pages.extractText(col("html")))
      val bad = e.where(col("etext").isNull || col("etext") =!= col("text")).count()
      require(bad == 0, s"byte-identity violated for $bad pages")
      e.drop("html")
    }),
    "assigned" -> (() =>
      SpatialJoin.pointInPolygon(Pages.geocode(Lake.read(spark, root, "extracted")), "x", "y",
        rsu(spark), "the_geom", grid, res).select(col("url"), col("i"), col("x"), col("y"), col("id_rsu"))),
    "tiles" -> (() => tiles(Lake.read(spark, root, "assigned"))))

  /** Input bytes of the synthesized pages; the reference tiles (the
    * pages_tiles pipeline on the same input) are computed once. */
  def prepare(): Unit = {
    inputBytes = Gen.pages(spark, n, ctx.seed)
      .agg(sum(octet_length(col("url")) + octet_length(col("html")) + octet_length(col("text")) +
        octet_length(col("lang")) + 16L)).head().getLong(0)
    if (expected.isEmpty) expected = new PagesTiles(ctx, n).expectedTiles
  }

  private def coldAndResume(traced: Boolean): Boolean = {
    val root = freshDir("lake_pages")
    var startMs = 0L
    val cold = ctx.span("op") { startMs = System.currentTimeMillis(); pipeline(root) }
    val (bytes, files) = dirBytes(root)
    coldLakeBytes = bytes; coldFiles = files
    if (traced) walls += LakeLayers.stageWalls(root, Stages, startMs)
    val before = Stages.map(s => Lake.snapshots(root.toString, s).size)
    val again = ctx.span("resume")(pipeline(root))
    val after = Stages.map(s => Lake.snapshots(root.toString, s).size)
    var ok = (tileRows(cold) == expected) || fail("lake tile counts differ from pages_tiles")
    ok &= (tileRows(again) == tileRows(cold)) || fail("resume returned different rows")
    ok &= (before == after && after.forall(_ == 1)) || fail("resume wrote a new snapshot")
    if (traced) {
      ctx.span("lake.compute") {
        bodies(root.toString).foreach { case (s, body) => ctx.span(s"lake.compute.$s")(noop(body())) }
      }
      Lake.invalidate(root.toString, "tiles")
      val t = ctx.span("lake.tail")(pipeline(root))
      ok &= (tileRows(t) == tileRows(cold)) || fail("tail recompute returned different rows")
    }
    Bench.deleteTree(root)
    ok
  }

  def iterate(): Boolean = coldAndResume(traced = false)
  def traced(): Boolean = coldAndResume(traced = true)

  override def extraE2e(): Seq[M] = Seq(
    M("resume_s", med(ctx.tracer.all("resume").map(_.seconds)), "s"),
    M("lake_bytes_ratio", coldLakeBytes.toDouble / inputBytes, "ratio"))

  def layers(traced: Seq[Span]): Seq[M] =
    LakeLayers(ctx, traced, Stages, walls.toSeq, coldLakeBytes, coldFiles, inputBytes)
}

/** The lake.* per-layer metrics shared by the two lake workloads. A traced
  * iteration holds "op" (the program's own cold run), "resume",
  * "lake.compute" (the stage bodies into a no-op sink) and "lake.tail" (the
  * last stage invalidated and the run repeated). `walls` has one entry per
  * traced iteration: each stage's wall, read from the lake's snapshot log. */
object LakeLayers {
  /** Wall of each stage of a cold run, from the `committedAtMs` the lake
    * logged for it: the first stage from `startMs`, each next one from the
    * previous stage's commit. */
  def stageWalls(root: Path, stages: Seq[String], startMs: Long): Map[String, Double] = {
    val commits = stages.map(s => Lake.snapshots(root.toString, s).map(_._3).min)
    stages.zip((startMs +: commits).zip(commits).map { case (a, b) => (b - a) / 1e3 }).toMap
  }

  def apply(ctx: Ctx, traced: Seq[Span], stages: Seq[String], walls: Seq[Map[String, Double]],
            bytes: Long, files: Int, inputBytes: Long): Seq[M] = {
    val t = ctx.tracer
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def within(name: String) = traced.flatMap(t.within(_, name))
    val commit = med(walls.map(_.values.sum))
    val compute = med(within("lake.compute").map(s => t.children(s).map(_.seconds).sum))
    Seq(
      M("lake.commit_s", commit, "s"),
      M("lake.compute_s", compute, "s"),
      M("lake.commit_overhead_frac", if (commit <= 0) 0 else (commit - compute) / commit, "ratio"),
      M("lake.written_mb", bytes / 1e6, "MB"),
      M("lake.bytes_ratio", bytes.toDouble / inputBytes, "ratio"),
      M("lake.files", files.toDouble, "count"),
      M("lake.jobs", med(within("op").map(t.metrics(_).jobs.toDouble)), "count"),
      M("lake.resume_s", med(within("resume").map(_.seconds)), "s"),
      M("lake.read_mb", med(within("resume").map(t.metrics(_).bytesRead / 1e6)), "MB"),
      M("lake.tail_recompute_s", med(within("lake.tail").map(_.seconds)), "s")
    ) ++ stages.map(s => M(s"lake.stage.${s}_s", med(walls.flatMap(_.get(s))), "s"))
  }
}

// ---------------------------------------------------------------------------

/** A generated city through the CityProbe stage wiring (the
  * computeAllGeoIndicators chain, then LCZ and grid rasterization). */
final class CityChain(ctx: Ctx, val n: Long) extends Workload(ctx) {
  import Workloads._
  import CityChain.Stages
  def items: Long = n
  val city: Gen.City = Gen.City(n, ctx.seed)
  private var layersDf: WorkflowRunner.Layers = _
  private var cells: DataFrame = _
  private var sampleGeoms: Map[Long, Geometry] = Map.empty
  private var polyCounts = (0L, 0L, 0L)
  private val params = WorkflowConfig.Defaults.copy(indicatorUse = Seq("LCZ", "UTRF", "TEB"))

  def prepare(): Unit = {
    layersDf = city.layers(spark)
    cells = city.cells(spark).localCheckpoint()
    val ids = (0L until 200L).map(k => k * (n / 200) + k % 3)
    val r = new WKBReader()
    sampleGeoms = layersDf.building.where(col("id_build").isInCollection(ids))
      .select("id_build", "the_geom").collect()
      .map(row => row.getLong(0) -> r.read(row.getAs[Array[Byte]](1))).toMap
  }

  private final case class Out(rsu: DataFrame, blocks: DataFrame, bInd: DataFrame,
                               blkInd: DataFrame, rsuInd: DataFrame, lcz: DataFrame, rast: DataFrame)

  /** The chain; `stage(i, checkpoint)(body)` runs stage `Stages(i)`. */
  private def chain(stage: (Int, Boolean) => (=> DataFrame) => DataFrame): Out = {
    val layers = layersDf; val uses = params.indicatorUse
    val mesh = stage(0, false) {
      SpatialUnits.prepareTSUData(layers.zone, layers.road, layers.rail, layers.vegetation,
        layers.water, None, None, params.surfaceVegetation, params.surfaceHydro,
        params.surfaceUrbanAreas, grid, res).withColumn("id_zone", lit(1))
    }
    val rsu = stage(1, true)(SpatialUnits.createTSU(mesh, "id_zone", "the_geom"))
    val blocks = stage(2, true)(ConnectedComponents.createBlocks(layers.building, grid, res))
    val blockRel = blocks.select(col("id_block"), explode(col("id_builds")).as("id_build"))
    val rsuRel = stage(3, false) {
      SpatialJoin.assignMaxOverlap(layers.building, "id_build", "the_geom",
        rsu.select("id_rsu", "the_geom"), "id_rsu", "the_geom", grid, res)
    }
    val bInd = stage(4, true) {
      WorkflowChain.computeBuildingsIndicators(layers.building, layers.road, uses, grid, res)
        .join(blockRel, Seq("id_build"), "left").join(rsuRel, Seq("id_build"), "left")
    }
    val blkRsuRel = SpatialJoin.assignMaxOverlap(blocks, "id_block", "the_geom",
      rsu.select("id_rsu", "the_geom"), "id_rsu", "the_geom", grid, res)
    val blkInd = stage(5, true) {
      WorkflowChain.computeBlockIndicators(bInd, blocks.select("id_block", "the_geom"))
        .join(blkRsuRel, Seq("id_block"), "left")
    }
    val rsuInd = stage(6, true) {
      WorkflowChain.computeRsuIndicators(bInd.where(col("id_rsu").isNotNull), rsu,
        layers.road, layers.vegetation, layers.water, None, None, uses, params.svfSimplified, grid, res)
    }
    val lcz = stage(7, true) {
      Lcz.identifyLczType(rsuInd.select(col("id_rsu"),
        col("ground_sky_view_factor").as("sky_view_factor"), col("aspect_ratio"),
        col("building_fraction_lcz").as("building_surface_fraction"),
        col("impervious_fraction_lcz").as("impervious_surface_fraction"),
        col("pervious_fraction_lcz").as("pervious_surface_fraction"),
        col("geom_avg_height_roof").as("height_of_roughness_elements"),
        col("effective_terrain_roughness_length").as("terrain_roughness_length")),
        rsuInd, params.mapOfWeights)
    }
    val rast = stage(8, true) {
      WorkflowRunner.rasterizeIndicators(layers, cells,
        Seq("LAND_TYPE_FRACTION", "BUILDING_HEIGHT", "BUILDING_NUMBER", "BUILDING_HEIGHT_WEIGHTED",
          "FREE_EXTERNAL_FACADE_DENSITY", "ASPECT_RATIO", "STREET_WIDTH", "BUILDING_SURFACE_DENSITY"),
        grid, res, rsuLcz = Some(lcz.select(col("id_rsu"), col("lcz_primary"))
          .join(rsu.select("id_rsu", "the_geom"), "id_rsu")))
    }
    Out(rsu, blocks, bInd, blkInd, rsuInd, lcz, rast)
  }

  private def check(o: Out): Boolean = {
    var ok = (o.bInd.count() == n) || fail("building indicators: not one row per building")
    ok &= (o.rast.count() == city.nCells) || fail("rasterized grid: not one row per cell")
    ok &= (o.blkInd.count() == o.blocks.count()) || fail("block indicators: not one row per block")
    val nRsu = o.rsu.count()
    ok &= (o.rsuInd.count() <= nRsu && o.lcz.count() == o.rsuInd.count() && nRsu > 0) ||
      fail("RSU indicator / LCZ row counts do not follow the RSU count")
    // assignMaxOverlap against brute-force JTS max overlap on the sample
    val r = new WKBReader()
    val rsus = o.rsu.select("id_rsu", "the_geom").collect()
      .map(row => (row.getAs[Number](0).longValue, r.read(row.getAs[Array[Byte]](1))))
    val got = o.bInd.where(col("id_build").isInCollection(sampleGeoms.keys))
      .select(col("id_build"), col("id_rsu").cast("long")).collect()
      .map(row => row.getLong(0) -> (if (row.isNullAt(1)) None else Some(row.getLong(1)))).toMap
    val bad = sampleGeoms.count { case (id, g) =>
      val areas = rsus.map { case (rid, rg) => rid -> (if (rg.intersects(g)) rg.intersection(g).getArea else 0.0) }.toMap
      val best = if (areas.isEmpty) 0.0 else areas.values.max
      got.get(id).flatten match {
        case None => best > 0
        case Some(rid) => best <= 0 || areas.getOrElse(rid, 0.0) < best * (1 - 1e-9)
      }
    }
    ok &= (bad == 0) || fail(s"assignMaxOverlap differs from JTS max overlap on $bad sampled buildings")
    ok
  }

  def iterate(): Boolean = {
    val o = ctx.span("op")(chain((_, ckpt) => body => if (ckpt) body.localCheckpoint() else body))
    check(o)
  }

  def traced(): Boolean = {
    val o = ctx.span("op")(chain((i, _) => body => {
      val df = ctx.span(Stages(i) + ".call")(body)
      ctx.span(Stages(i) + ".action")(df.localCheckpoint())
    }))
    if (polyCounts._1 == 0) ctx.span("poly.counts") {
      val a = layersDf.building.select("id_build", "the_geom")
      val b = a.select(col("id_build").as("id_b"), col("the_geom").as("geom_b"))
      polyCounts = (SpatialJoin.candidates(a, "the_geom", b, "geom_b", grid, res).count(),
        SpatialJoin.candidatesBbox(a, "the_geom", b, "geom_b", grid, res).count(),
        SpatialJoin.intersectsJoin(a, "the_geom", b, "geom_b", grid, res).count())
    }
    check(o)
  }

  def layers(traced: Seq[Span]): Seq[M] = {
    val t = ctx.tracer
    val perStage = Stages.flatMap { s =>
      val calls = within(traced, s + ".call"); val acts = within(traced, s + ".action")
      val both = calls ++ acts
      Seq(M(s + ".call_s", med(calls.map(_.seconds)), "s"),
        M(s + ".action_s", med(acts.map(_.seconds)), "s"),
        M(s + ".jobs", both.map(t.metrics(_).jobs).sum.toDouble / math.max(1, traced.size), "count"),
        M(s + ".shuffle_mb", both.map(t.metrics(_).shuffleMb).sum / math.max(1, traced.size), "MB"))
    }
    val (cand, bbox, inter) = polyCounts
    perStage ++ Seq(
      M("operators.SpatialJoin.candidates.pairs", cand.toDouble, "count"),
      M("operators.SpatialJoin.candidatesBbox.pairs", bbox.toDouble, "count"),
      M("operators.SpatialJoin.intersectsJoin.pairs", inter.toDouble, "count"),
      M("operators.SpatialJoin.poly.useful_ratio", if (cand == 0) 0 else inter.toDouble / cand, "ratio"))
  }
}

object CityChain {
  /** The nine chain stages, each named by its public function. */
  val Stages: Seq[String] = Seq(
    "operators.SpatialUnits.prepareTSUData", "operators.SpatialUnits.createTSU",
    "operators.ConnectedComponents.createBlocks", "operators.SpatialJoin.assignMaxOverlap",
    "workflow.WorkflowChain.computeBuildingsIndicators", "workflow.WorkflowChain.computeBlockIndicators",
    "workflow.WorkflowChain.computeRsuIndicators", "indicators.Lcz.identifyLczType",
    "workflow.WorkflowRunner.rasterizeIndicators")
  val LayerNames: Seq[(String, String)] =
    Stages.flatMap(s => Seq(s"$s.call_s" -> "s", s"$s.action_s" -> "s", s"$s.jobs" -> "count",
      s"$s.shuffle_mb" -> "MB")) ++
    Seq("operators.SpatialJoin.candidates.pairs" -> "count",
      "operators.SpatialJoin.candidatesBbox.pairs" -> "count",
      "operators.SpatialJoin.intersectsJoin.pairs" -> "count",
      "operators.SpatialJoin.poly.useful_ratio" -> "ratio")
}

// ---------------------------------------------------------------------------

/** CurationPipeline.run into a fresh lake over a generated corpus, then a
  * resume, then `Lake.invalidate("packed")` and a re-run of the tail. */
final class CurationLake(ctx: Ctx, val n: Long) extends Workload(ctx) {
  def items: Long = n
  override def warmups: Int = 2
  override def companions: Seq[String] = Seq("city_chain")
  private var docs: DataFrame = _
  private var inputBytes = 1L
  private var coldLakeBytes = 0L
  private var coldFiles = 0
  private var pairs = 0L
  private val walls = mutable.ArrayBuffer.empty[Map[String, Double]]
  private val minQuality = 0.5
  val Stages: Seq[String] = Seq("curated", "redacted", "sampled", "packed")

  def prepare(): Unit = {
    val input = freshDir("corpus")
    Gen.corpus(spark, n, ctx.seed).write.parquet(input.toString)
    docs = spark.read.parquet(input.toString)
    inputBytes = dirBytes(input)._1
  }

  private def pipeline(root: Path): DataFrame =
    CurationPipeline.run(spark, root.toString, docs, lang = "en", minQuality = minQuality)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.mkString("|")).sorted.toSeq

  private def coldResumeTail(traced: Boolean): Boolean = {
    val root = freshDir("lake_curation")
    var startMs = 0L
    val cold = ctx.span("op") { startMs = System.currentTimeMillis(); rows(pipeline(root)) }
    val (bytes, files) = dirBytes(root)
    coldLakeBytes = bytes; coldFiles = files
    if (traced) walls += LakeLayers.stageWalls(root, Stages, startMs)
    val before = Stages.map(s => Lake.snapshots(root.toString, s).size)
    val again = ctx.span("resume")(rows(pipeline(root)))
    val after = Stages.map(s => Lake.snapshots(root.toString, s).size)
    Lake.invalidate(root.toString, "packed")
    val tail = ctx.span("lake.tail")(rows(pipeline(root)))
    var ok = cold.nonEmpty || fail("curation kept no documents")
    ok &= !cold.exists(r => java.lang.Math.floorMod(r.takeWhile(_ != '|').toLong, 50L) == 1L) ||
      fail("an exact duplicate (id % 50 == 1) survived")
    ok &= (again == cold) || fail("resume returned different rows")
    ok &= (before == after && after.forall(_ == 1)) || fail("resume wrote a new snapshot")
    ok &= (tail == cold && Lake.snapshots(root.toString, "packed").size == 2) ||
      fail("tail recompute differs or did not write one new snapshot")
    if (traced) {
      val kept = Lake.read(spark, root.toString, "curated")
      val redacted = Lake.read(spark, root.toString, "redacted")
      val sampled = Lake.read(spark, root.toString, "sampled")
      ctx.span("lake.compute") {
        ctx.span("operators.Curation.curate")(noop(Curation.curate(docs, "doc_id", "text", "en", minQuality)))
        ctx.span("operators.Pii.redactDocs")(noop(Pii.redactDocs(
          docs.join(kept.select("doc_id"), Seq("doc_id")), "doc_id", "text")))
        ctx.span("operators.Curation.sampleByHash")(noop(Curation.sampleByHash(
          redacted.join(kept, Seq("doc_id")), col("doc_id"), col("lang_id"), Map("en" -> 900), 100)))
        ctx.span("operators.Curation.packSequences")(noop(Curation.packSequences(
          sampled, "doc_id", col("n_tokens"), col("lang_id"), 512)))
      }
      ctx.span("operators.Dedup.exact")(noop(Dedup.exact(docs, "doc_id", "text")))
      pairs = ctx.span("operators.Dedup.minhashLsh") {
        val reps = docs.join(Dedup.exact(docs, "doc_id", "text").select("doc_id"), Seq("doc_id"))
        Dedup.minhashLsh(reps, "doc_id", "text", 3, 16, 3, 0.4).count()
      }
    }
    Bench.deleteTree(root)
    ok
  }

  def iterate(): Boolean = coldResumeTail(traced = false)
  def traced(): Boolean = coldResumeTail(traced = true)

  override def extraE2e(): Seq[M] = Seq(
    M("resume_s", med(ctx.tracer.all("resume").map(_.seconds)), "s"),
    M("lake_bytes_ratio", coldLakeBytes.toDouble / inputBytes, "ratio"))

  def layers(traced: Seq[Span]): Seq[M] = {
    val t = ctx.tracer
    val dedup = within(traced, "operators.Dedup.exact") ++ within(traced, "operators.Dedup.minhashLsh")
    LakeLayers(ctx, traced, Stages, walls.toSeq, coldLakeBytes, coldFiles, inputBytes) ++ Seq(
      M("operators.Dedup.exact_s", layerSeconds(traced, "operators.Dedup.exact"), "s"),
      M("operators.Dedup.minhashLsh_s", layerSeconds(traced, "operators.Dedup.minhashLsh"), "s"),
      M("operators.Dedup.minhashLsh.pairs", pairs.toDouble, "count"),
      M("operators.Curation.curate_s", layerSeconds(traced, "operators.Curation.curate"), "s"),
      M("operators.Pii.redactDocs_s", layerSeconds(traced, "operators.Pii.redactDocs"), "s"),
      M("operators.Curation.sampleByHash_s", layerSeconds(traced, "operators.Curation.sampleByHash"), "s"),
      M("operators.Curation.packSequences_s", layerSeconds(traced, "operators.Curation.packSequences"), "s"),
      M("operators.Dedup.shuffle_mb", dedup.map(t.metrics(_).shuffleMb).sum / math.max(1, traced.size), "MB"))
  }
}
