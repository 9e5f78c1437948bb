package graft.index

import org.locationtech.jts.geom.{Envelope, Geometry}
import org.locationtech.jts.geom.prep.PreparedGeometryFactory
import graft.geom.Geo

/**
 * Hierarchical square cell index (H3/S2-style *semantics* — resolution
 * levels, cover, compact cover, k-ring — over a deterministic quadtree /
 * Z-order scheme; see SURVEY.md §7.0: no H3/S2 jar ships offline, and the
 * north rule needs the semantics, not hex math).
 *
 * This replaces the reference's per-join R-tree spatial index
 * (BuildingIndicators.groovy:148-149 `createSpatialIndex`): candidate pruning
 * becomes a hash equi-join on cell id, refinement a prepared-geometry
 * predicate — the Spark-native equivalent of `a.the_geom && b.the_geom AND
 * ST_INTERSECTS(...)` (SURVEY §2.3).
 *
 * Cell id layout (Long): [6 bits res][29 bits morton-y interleave][29 bits
 * morton-x interleave] — res ≤ 28, so ids of different resolutions never
 * collide and `parent` is a constant-shift operation.
 *
 * The world is a power-of-two square so every cell boundary is an exact
 * binary fraction — cell assignment is bit-reproducible across JVMs.
 */
final case class CellGrid(minX: Double, minY: Double, worldSize: Double) {
  require(worldSize > 0)
  val maxRes = 28

  @inline private def cellsPerAxis(res: Int): Long = 1L << res
  @inline def cellSize(res: Int): Double = worldSize / cellsPerAxis(res).toDouble

  // -- morton interleave of two ≤29-bit ints --------------------------------
  @inline private def spread(v0: Long): Long = {
    var v = v0 & 0x1fffffffL
    v = (v | (v << 16)) & 0x0000ffff0000ffffL
    v = (v | (v << 8))  & 0x00ff00ff00ff00ffL
    v = (v | (v << 4))  & 0x0f0f0f0f0f0f0f0fL
    v = (v | (v << 2))  & 0x3333333333333333L
    v = (v | (v << 1))  & 0x5555555555555555L
    v
  }
  @inline private def unspread(v0: Long): Long = {
    var v = v0 & 0x5555555555555555L
    v = (v | (v >> 1))  & 0x3333333333333333L
    v = (v | (v >> 2))  & 0x0f0f0f0f0f0f0f0fL
    v = (v | (v >> 4))  & 0x00ff00ff00ff00ffL
    v = (v | (v >> 8))  & 0x0000ffff0000ffffL
    v = (v | (v >> 16)) & 0x00000000ffffffffL
    v
  }

  private val CoordMask = (1L << 58) - 1

  @inline def encode(ix: Long, iy: Long, res: Int): Long =
    (res.toLong << 58) | (spread(iy) << 1) | spread(ix)
  @inline def resOf(id: Long): Int = (id >>> 58).toInt
  @inline def ixOf(id: Long): Long = unspread(id & CoordMask)
  @inline def iyOf(id: Long): Long = unspread((id & CoordMask) >> 1)

  @inline private def clampIdx(i: Long, res: Int): Long =
    math.min(math.max(i, 0L), cellsPerAxis(res) - 1)

  /** Cell containing point (x,y) at `res`. Points outside world bounds clamp
    * to the border cell (they still join deterministically). */
  def cell(x: Double, y: Double, res: Int): Long = {
    val cs = cellSize(res)
    encode(clampIdx(math.floor((x - minX) / cs).toLong, res),
           clampIdx(math.floor((y - minY) / cs).toLong, res), res)
  }

  def bounds(id: Long): Envelope = {
    val res = resOf(id); val cs = cellSize(res)
    val ix = ixOf(id); val iy = iyOf(id)
    new Envelope(minX + ix * cs, minX + (ix + 1) * cs, minY + iy * cs, minY + (iy + 1) * cs)
  }
  def boundsGeom(id: Long): Geometry = {
    val e = bounds(id); Geo.box(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
  }

  /** True iff the cell touches the world border. Border cells absorb
    * out-of-bounds points (the clamp in `cell`), so callers must never
    * treat them as "fully interior to a polygon" — a clamped far-away point
    * would then skip refinement and emit a false positive. */
  def isBorderCell(id: Long): Boolean = {
    val res = resOf(id); val max = cellsPerAxis(res) - 1
    val ix = ixOf(id); val iy = iyOf(id)
    ix == 0 || iy == 0 || ix == max || iy == max
  }

  def parent(id: Long): Long = {
    val res = resOf(id)
    require(res > 0, "res-0 cell has no parent")
    encode(ixOf(id) >> 1, iyOf(id) >> 1, res - 1)
  }
  def children(id: Long): Array[Long] = {
    val res = resOf(id); val ix = ixOf(id) << 1; val iy = iyOf(id) << 1
    Array(encode(ix, iy, res + 1), encode(ix + 1, iy, res + 1),
          encode(ix, iy + 1, res + 1), encode(ix + 1, iy + 1, res + 1))
  }
  /** All cells at `res` intersecting the envelope; none for a null
    * envelope (an empty geometry's), whose min > max would otherwise give
    * negative extents with a positive product. */
  def coverEnvelope(e: Envelope, res: Int): Array[Long] =
    if (e.isNull) Array.emptyLongArray
    else {
      val cs = cellSize(res)
      val x0 = clampIdx(math.floor((e.getMinX - minX) / cs).toLong, res)
      val x1 = clampIdx(math.floor((e.getMaxX - minX) / cs).toLong, res)
      val y0 = clampIdx(math.floor((e.getMinY - minY) / cs).toLong, res)
      val y1 = clampIdx(math.floor((e.getMaxY - minY) / cs).toLong, res)
      val out = new Array[Long](((x1 - x0 + 1) * (y1 - y0 + 1)).toInt)
      var i = 0; var iy = y0
      while (iy <= y1) {
        var ix = x0
        while (ix <= x1) { out(i) = encode(ix, iy, res); i += 1; ix += 1 }
        iy += 1
      }
      out
    }

  /** Fixed-res cover of a geometry: bbox cells refined to those actually
    * intersecting the geometry (candidate-pruning cover; false positives
    * impossible, so join refinement only removes pairs). */
  def cover(g: Geometry, res: Int): Array[Long] = {
    val cands = coverEnvelope(g.getEnvelopeInternal, res)
    if (cands.length <= 4) cands // tiny cover: skip the prepare cost
    else {
      val prep = PreparedGeometryFactory.prepare(g)
      cands.filter(id => prep.intersects(boundsGeom(id)))
    }
  }

  /** Compact (mixed-resolution) cover: quadtree descent; cells fully covered
    * by the geometry are emitted at the coarsest level, partial cells recurse
    * down to `res`. This is the H3 `compact` semantics (north rule). */
  def compactCover(g: Geometry, res: Int, minRes: Int = 0): Array[Long] = {
    val prep = PreparedGeometryFactory.prepare(g)
    val out = Array.newBuilder[Long]
    def descend(id: Long): Unit = {
      val cellGeom = boundsGeom(id)
      if (!prep.intersects(cellGeom)) ()
      else if (prep.covers(cellGeom) || resOf(id) == res) out += id
      else children(id).foreach(descend)
    }
    coverEnvelope(g.getEnvelopeInternal, minRes).foreach(descend)
    out.result()
  }
}

object CellGrid {
  /** World for the Geoclimate fixture plane and the synthetic pages table:
    * power-of-two square covering [-16384, 16384)². */
  val fixture: CellGrid = CellGrid(-16384.0, -16384.0, 32768.0)
}
