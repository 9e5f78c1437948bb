package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.geom.{Geo, GeoFunctions => G}
import graft.index.CellGrid

/**
 * Cell-equijoin spatial joins — the engine's replacement for the reference's
 * universal join idiom `a.the_geom && b.the_geom AND ST_INTERSECTS(...)` over
 * an R-tree (SURVEY.md §2.3, §4): candidate pruning is a hash equi-join on
 * cell id; refinement is a prepared-geometry predicate that only ever
 * *removes* pairs (covers have no false negatives).
 *
 * Scale design (100 TB side = `points`/`source`):
 *  - the big side computes exactly ONE cell per row (integer math, no
 *    explode) — no blow-up of the large input;
 *  - the polygon side (reference polygons: buildings/RSU/zones) explodes to
 *    its fixed-res cover and is broadcast when small → ZERO shuffle of the
 *    big table; when large, both sides shuffle on cell id with optional
 *    salting of hot cells (urban hotspots / popular domains, SURVEY §7.4.5);
 *  - polygon/line × polygon/line pairs come from ONE generator,
 *    `candidates`: both sides explode to their ENVELOPE covers, which is
 *    exactly the reference's `&&`. Duplicates from multi-cell × multi-cell
 *    covers go with the reference-point trick (pair kept only in the cell
 *    that contains the bbox-intersection corner) — no `distinct` shuffle.
 *    The corner lies in both envelopes, so its cell is in both covers and
 *    every bbox-intersecting pair survives exactly once.
 */
object SpatialJoin {

  val CellCol = "__cell"
  private val SaltCol = "__salt"

  /**
   * Pure-Catalyst cell id of a point — bit-identical to `CellGrid.cell`
   * (same clamp + morton interleave) but expressed as Column ops so the
   * 10^12-row side stays inside whole-stage codegen: no UDF boxing, no JTS,
   * no per-row allocation on the hot path.
   */
  def cellColumn(grid: CellGrid, res: Int, x: Column, y: Column): Column = {
    val cs = grid.cellSize(res)
    val maxIdx = (1L << res) - 1
    def clampIdx(c: Column): Column =
      least(greatest(floor(c).cast("long"), lit(0L)), lit(maxIdx))
    def spread(v0: Column): Column = {
      var v = v0.bitwiseAND(lit(0x1fffffffL))
      v = (v.bitwiseOR(shiftleft(v, 16))).bitwiseAND(lit(0x0000ffff0000ffffL))
      v = (v.bitwiseOR(shiftleft(v, 8))).bitwiseAND(lit(0x00ff00ff00ff00ffL))
      v = (v.bitwiseOR(shiftleft(v, 4))).bitwiseAND(lit(0x0f0f0f0f0f0f0f0fL))
      v = (v.bitwiseOR(shiftleft(v, 2))).bitwiseAND(lit(0x3333333333333333L))
      (v.bitwiseOR(shiftleft(v, 1))).bitwiseAND(lit(0x5555555555555555L))
    }
    val ix = clampIdx((x - grid.minX) / cs)
    val iy = clampIdx((y - grid.minY) / cs)
    lit(res.toLong << 58).bitwiseOR(shiftleft(spread(iy), 1)).bitwiseOR(spread(ix))
  }

  /** cover(geom,res) as a UDF bound to a grid. */
  def coverUdf(grid: CellGrid, res: Int) =
    udf((wkb: Array[Byte]) => grid.cover(Geo.fromWkb(wkb), res))

  /** cover cells with an interior flag: cells containsProperly-covered by
    * the polygon need NO point-level refinement (every point of such a cell
    * is in the polygon INTERIOR — exact, not approximate). World-BORDER
    * cells are never flagged interior: out-of-bounds points clamp to border
    * cells (CellGrid.cell), so an unrefined border match could emit a
    * far-away clamped point as a false positive. */
  def coverFlagUdf(grid: CellGrid, res: Int) =
    udf { (wkb: Array[Byte]) =>
      val g = Geo.fromWkb(wkb)
      val cands = grid.cover(g, res)
      val prep = org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(g)
      cands.map(id => (id,
        !grid.isBorderCell(id) && prep.containsProperly(grid.boundsGeom(id))))
    }
  def cellUdf(grid: CellGrid, res: Int) =
    udf((x: Double, y: Double) => grid.cell(x, y, res))
  def radiusCellsUdf(grid: CellGrid, res: Int, r: Double) =
    udf((wkb: Array[Byte]) => {
      val e = Geo.fromWkb(wkb).getEnvelopeInternal
      e.expandBy(r)
      grid.coverEnvelope(e, res)
    })

  /**
   * Point-in-polygon join: `points(xCol,yCol,...) ⋈ polys(geomCol,...)`,
   * keeping point rows whose (x,y) is contained in the polygon
   * (reference: point-on-surface containment mode of `spatialJoin`,
   * SpatialUnits.groovy:479-527).
   *
   * @param broadcastPolys broadcast the exploded polygon cover (small dims)
   * @param salts >1 replicates the polygon side `salts` ways and routes
   *              points by hash — spreads a hot cell over `salts` reducers.
   */
  def pointInPolygon(points: DataFrame, xCol: String, yCol: String,
                     polys: DataFrame, geomCol: String,
                     grid: CellGrid, res: Int,
                     broadcastPolys: Boolean = true, salts: Int = 1): DataFrame = {
    val polyCells0 = polys
      .withColumn("__cf", explode(coverFlagUdf(grid, res)(col(geomCol))))
      .withColumn(CellCol, col("__cf._1"))
      .withColumn("__interior", col("__cf._2"))
      .drop("__cf")
    // point side stays pure Catalyst (codegen'd integer math — no UDF on the
    // 10^12-row side); bit-identical to CellGrid.cell (CellGridSpec property)
    val ptCells0   = points.withColumn(CellCol, cellColumn(grid, res, col(xCol), col(yCol)))
    val (polyCells, ptCells, keys) =
      if (broadcastPolys || salts <= 1) (polyCells0, ptCells0, Seq(CellCol))
      else (polyCells0.withColumn(SaltCol, explode(lit((0 until salts).toArray))),
            ptCells0.withColumn(SaltCol, pmod(xxhash64(col(xCol), col(yCol)), lit(salts)).cast("int")),
            Seq(CellCol, SaltCol))
    val polySide = if (broadcastPolys) broadcast(polyCells) else polyCells
    // interior-cell fast path: points whose cell is containsProperly-covered
    // skip the JTS predicate entirely (most cells of a large polygon cover)
    ptCells.join(polySide, keys)
      .where(col("__interior") || G.stContainsPoint(col(geomCol), col(xCol), col(yCol)))
      .drop(CellCol, SaltCol, "__interior")
  }

  /**
   * Point-in-polygon join over a COMPACT (mixed-resolution) cover: the
   * polygon side emits interior cells at the coarsest resolution that fits
   * (quadtree compaction — the H3 `compact` semantics the north rule names),
   * so a city-sized polygon covers in O(perimeter) cells instead of
   * O(area). The join runs as one equi-join per resolution present in the
   * compacted cover (point cell ids at coarser resolutions are pure-Catalyst
   * ancestor bit-math), unioned; interior cells skip refinement entirely.
   *
   * Resolutions present are discovered with one tiny aggregation over the
   * (small) polygon side — a deliberate driver round-trip, same class as
   * collecting a broadcast side.
   */
  def pointInPolygonCompact(points: DataFrame, xCol: String, yCol: String,
                            polys: DataFrame, geomCol: String,
                            grid: CellGrid, res: Int, minRes: Int = 4,
                            broadcastPolys: Boolean = true): DataFrame = {
    val compactUdf = udf { (wkb: Array[Byte]) =>
      val g = Geo.fromWkb(wkb)
      val cells = grid.compactCover(g, res, minRes)
      val prep = org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(g)
      // a compact cell is interior iff containsProperly (cells emitted above
      // `res` are covered but may touch the boundary; check exactly);
      // world-border cells never count as interior — they absorb clamped
      // out-of-bounds points (see coverFlagUdf)
      cells.map(id => (id,
        !grid.isBorderCell(id) && prep.containsProperly(grid.boundsGeom(id))))
    }
    val polyCells = polys
      .withColumn("__cf", explode(compactUdf(col(geomCol))))
      .withColumn(CellCol, col("__cf._1"))
      .withColumn("__interior", col("__cf._2"))
      .drop("__cf")
      .localCheckpoint() // tiny; reused once per resolution level
    import scala.jdk.CollectionConverters._
    val resolutions = polyCells
      .select(shiftrightunsigned(col(CellCol), 58).cast("int").as("__res"))
      .distinct().collect().map(_.getInt(0)).sorted
    val joined = resolutions.map { r =>
      val polySide0 = polyCells.where(shiftrightunsigned(col(CellCol), 58) === r)
      val polySide = if (broadcastPolys) broadcast(polySide0) else polySide0
      points.withColumn(CellCol, cellColumn(grid, r, col(xCol), col(yCol)))
        .join(polySide, CellCol)
    }.reduce(_ unionAll _)
    joined
      .where(col("__interior") || G.stContainsPoint(col(geomCol), col(xCol), col(yCol)))
      .drop(CellCol, "__interior")
  }

  /**
   * Candidate pairs of two polygon/line sets whose envelopes intersect: the
   * reference's `a.the_geom && b.the_geom` R-tree prefilter
   * (RsuIndicators.groovy:141-155) as a hash equi-join on ENVELOPE-cover
   * cells. A pair is kept only in the cell of its reference point, the
   * lower-left corner of the two envelopes' intersection. That point lies in
   * both envelopes, so its cell is in both covers: every bbox-intersecting
   * pair comes out exactly once, whatever the shapes. (Geometry-pruned
   * covers need not hold that cell for non-convex shapes and lines, and
   * would drop the pair.) Columns of both inputs are kept; callers refine
   * with an exact predicate. `pad` expands both envelopes (e.g. by a snap
   * tolerance) so nearly-touching pairs are kept; `keys` adds extra
   * equi-join keys (e.g. a zone id) so pairing never crosses groups.
   */
  def candidates(a: DataFrame, aGeom: String, b: DataFrame, bGeom: String,
                 grid: CellGrid, res: Int, broadcastB: Boolean = false,
                 pad: Double = 0.0, keys: Seq[String] = Nil): DataFrame = {
    // a null geometry, like an empty one, has a null envelope: no cells, no pairs
    def env(wkb: Array[Byte]) =
      if (wkb == null) new org.locationtech.jts.geom.Envelope() else Geo.fromWkb(wkb).getEnvelopeInternal
    val envU = udf((wkb: Array[Byte]) => {
      val e = env(wkb)
      if (e.isNull) null else { e.expandBy(pad); Array(e.getMinX, e.getMinY) }
    })
    val envCoverU = udf((wkb: Array[Byte]) => {
      val e = env(wkb)
      if (e.isNull) Array.empty[Long] else { e.expandBy(pad); grid.coverEnvelope(e, res) }
    })
    val aC = a.withColumn("__aenv", envU(col(aGeom)))
      .withColumn(CellCol, explode(envCoverU(col(aGeom))))
    val bC0 = b.withColumn("__benv", envU(col(bGeom)))
      .withColumn(CellCol, explode(envCoverU(col(bGeom))))
    val bC = if (broadcastB) broadcast(bC0) else bC0
    val refCell = cellUdf(grid, res)(
      greatest(col("__aenv")(0), col("__benv")(0)),
      greatest(col("__aenv")(1), col("__benv")(1)))
    aC.join(bC, CellCol +: keys)
      .where(refCell === col(CellCol))
      .drop(CellCol, "__aenv", "__benv")
  }

  /** `candidates` under its former name: the outside-in benchmark
    * (perfbench/src/perfbench/Workloads.scala) compiles against it. */
  def candidatesBbox(a: DataFrame, aGeom: String, b: DataFrame, bGeom: String,
                     grid: CellGrid, res: Int): DataFrame = candidates(a, aGeom, b, bGeom, grid, res)

  /** Intersection join: candidates refined by prepared ST_INTERSECTS
    * (reference `&&` + ST_INTERSECTS — BuildingIndicators.groovy:162-163). */
  def intersectsJoin(a: DataFrame, aGeom: String, b: DataFrame, bGeom: String,
                     grid: CellGrid, res: Int, broadcastB: Boolean = false): DataFrame =
    candidates(a, aGeom, b, bGeom, grid, res, broadcastB)
      .where(G.stIntersects(col(bGeom), col(aGeom)))

  /**
   * Tile / zone assignment, max-overlap mode: each source polygon assigned to
   * the target with the largest intersection area — the reference's
   * correlated `ORDER BY ST_AREA(ST_INTERSECTION(...)) DESC LIMIT 1`
   * decorrelated to a max_by aggregate (SpatialUnits.groovy:500-511; SURVEY
   * §4 "manually decorrelated").
   * Tie-break: larger target id (deterministic).
   */
  def assignMaxOverlap(source: DataFrame, srcId: String, srcGeom: String,
                       target: DataFrame, tgtId: String, tgtGeom: String,
                       grid: CellGrid, res: Int, broadcastTarget: Boolean = true): DataFrame = {
    val cand = candidates(source, srcGeom,
        target.select(col(tgtId), col(tgtGeom).as("__tgeom")), "__tgeom",
        grid, res, broadcastTarget)
      .withColumn("__ia", G.stIntersectionArea(col("__tgeom"), col(srcGeom)))
      .where(col("__ia") > 0)
    cand.groupBy(col(srcId))
      .agg(max(struct(col("__ia"), col(tgtId))).getField(tgtId).as(tgtId))
  }

  /**
   * Bounded min-distance join (k-ring-expansion kNN; reference
   * `ST_EXPAND(a,100) && b -> MIN(ST_DISTANCE)` with default when no
   * neighbour — BuildingIndicators.groovy:304-432). Duplicate candidates are
   * harmless under MIN, so no dedup pass is needed.
   * Returns `source.*` + `minDistCol`.
   */
  def minDistanceWithin(source: DataFrame, srcId: String, srcGeom: String,
                        target: DataFrame, tgtGeom: String,
                        maxDist: Double, defaultDist: Double,
                        grid: CellGrid, res: Int, minDistCol: String = "min_distance",
                        broadcastTarget: Boolean = true,
                        excludeSelfId: Option[String] = None): DataFrame = {
    val srcCells = source.select(col(srcId), col(srcGeom))
      .withColumn(CellCol, explode(radiusCellsUdf(grid, res, maxDist)(col(srcGeom))))
    val tgtSel = excludeSelfId match {
      case Some(tid) => target.select(col(tgtGeom).as("__tgeom"), col(tid).as("__tid"))
      case None      => target.select(col(tgtGeom).as("__tgeom"))
    }
    val tgtCells0 = tgtSel.withColumn(CellCol, explode(coverUdf(grid, res)(col("__tgeom"))))
    val tgtCells = if (broadcastTarget) broadcast(tgtCells0) else tgtCells0
    val joined0 = srcCells.join(tgtCells, CellCol)
    val joined = excludeSelfId match {
      case Some(_) => joined0.where(col(srcId) =!= col("__tid"))
      case None    => joined0
    }
    val dists = joined
      .withColumn("__d", G.stDistance(col(srcGeom), col("__tgeom")))
      .where(col("__d") <= maxDist)
      .groupBy(col(srcId)).agg(min(col("__d")).as(minDistCol))
    source.join(dists, Seq(srcId), "left")
      .withColumn(minDistCol, coalesce(col(minDistCol), lit(defaultDist)))
  }
}
