package graft.indicators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Geometry
import graft.geom.{Geo, GeoFunctions => G}
import graft.index.CellGrid
import graft.operators.SpatialJoin

/**
 * EXACT ground sky-view factor (the non-simplified option) — the engine's
 * re-expression of H2GIS `ST_SVF` + `groundSkyViewFactor`
 * (RsuIndicators.groovy:219-348): sample points on the building-free ground
 * of each RSU, ray-cast `numberOfDirection` azimuths per point against
 * building walls within `rayLength`, and average
 * SVF = 1 − Σ_k max(sin²γ_k)/n per RSU (finite-direction hemisphere
 * integration — Bernard, Bocher, Petit, Palominos 2018, Climate 6(3):60;
 * sin²(atan(h/t)) computed as h²/(h²+t²)).
 *
 * Deliberate divergence, documented: the reference samples with H2GIS
 * ST_GENERATEPOINTS, which is RANDOM (unseeded — its output is not
 * reproducible run-to-run). We sample the same expected density with a
 * Halton (2,3) low-discrepancy sequence + rejection, which is deterministic
 * AND lower-variance; the grid's correctness gate depends on it.
 *
 * Scale design: candidate pruning is the same k-ring cell-equijoin as every
 * other join (points explode to the cells of their ray disk; buildings to
 * their cover); refinement + ray casting run per (point, nearby walls)
 * group — no all-pairs, no driver state. Points per RSU are capped at 100
 * (reference LEAST(...,100)).
 */
object Svf {

  /** radical inverse base 2 (dyadic — exact in doubles). */
  def radical2(i0: Int): Double = {
    var i = i0; var f = 0.5; var r = 0.0
    while (i > 0) { if ((i & 1) == 1) r += f; f *= 0.5; i >>= 1 }
    r
  }
  /** radical inverse base 3 (fixed digit order, same op sequence as SQL). */
  def radical3(i0: Int): Double = {
    var i = i0; var f = 1.0 / 3; var r = 0.0
    while (i > 0) { r += (i % 3) * f; f /= 3; i /= 3 }
    r
  }

  /** Deterministic in-polygon sampling: first `n` Halton(2,3) points of the
    * envelope (offset by 1e-4 so samples never land on integer boundaries)
    * that fall in the polygon INTERIOR; scans at most `maxTrials` candidates. */
  def deterministicPoints(wkb: Array[Byte], n: Int, maxTrials: Int = 4096): Array[(Double, Double)] = {
    val env = Geo.fromWkb(wkb).getEnvelopeInternal
    val w = env.getWidth; val h = env.getHeight
    val out = Array.newBuilder[(Double, Double)]
    var found = 0; var i = 1
    while (found < n && i <= maxTrials) {
      val x = env.getMinX + 1e-4 + radical2(i) * w
      val y = env.getMinY + 1e-4 + radical3(i) * h
      if (Geo.containsPointFast(wkb, x, y)) { out += ((x, y)); found += 1 }
      i += 1
    }
    out.result()
  }

  /** Direction unit vectors θ_k = 2πk/n — computed ONCE here and emitted as
    * exact literals into the SQL oracle, so both engines branch identically
    * on ray/segment crossing tests. */
  def directions(n: Int): Array[(Double, Double)] =
    Array.tabulate(n)(k => (math.cos(2 * math.Pi * k / n), math.sin(2 * math.Pi * k / n)))

  /** Ray/segment crossing parameter along the ray (NaN if no crossing):
    * identical formula to the SQL replica — see svfOracleHitSql. */
  @inline private def rayT(px: Double, py: Double, cx: Double, cy: Double,
                           x1: Double, y1: Double, x2: Double, y2: Double,
                           rayLength: Double): Double = {
    val dx = x2 - x1; val dy = y2 - y1
    val denom = cx * dy - cy * dx
    if (denom == 0) return Double.NaN
    val t = ((x1 - px) * dy - (y1 - py) * dx) / denom
    val u = (cy * (x1 - px) - cx * (y1 - py)) / denom
    if (t > 0 && t <= rayLength && u >= 0 && u <= 1) t else Double.NaN
  }

  /** SVF of one point against candidate walls (wkb + wall height). */
  def svfAtPoint(px: Double, py: Double, walls: Seq[(Array[Byte], Double)],
                 dirs: Array[(Double, Double)], rayLength: Double): Double = {
    val segs = walls.toArray.map { case (wkb, hw) => (Geo.segments(Geo.fromWkb(wkb)), hw) }
    var sum = 0.0
    var k = 0
    while (k < dirs.length) {
      val (cx, cy) = dirs(k)
      var maxSin2 = 0.0
      var b = 0
      while (b < segs.length) {
        val (ss, hw) = segs(b)
        var s = 0
        while (s < ss.length) {
          val (x1, y1, x2, y2) = ss(s)
          val t = rayT(px, py, cx, cy, x1, y1, x2, y2, rayLength)
          if (!t.isNaN) {
            val sin2 = hw * hw / (hw * hw + t * t)
            if (sin2 > maxSin2) maxSin2 = sin2
          }
          s += 1
        }
        b += 1
      }
      sum += maxSin2
      k += 1
    }
    1.0 - sum / dirs.length
  }

  /**
   * The full groundSkyViewFactor chain. `rsu(id_rsu, the_geom)`, `pairs` =
   * the buildings × RSU relation ([[RsuIndicators.unitPairs]]), `building(
   * the_geom, height_wall)` the walls (related to the RSU or not —
   * obstruction search is purely spatial, as in the reference's ST_DWITHIN).
   * Returns (id_rsu, ground_sky_view_factor); RSUs whose every sample point
   * has NO wall within rayLength average only over points that do (reference
   * inner-join semantics), and RSUs with no scored points get 1.0.
   */
  def groundSkyViewFactor(rsu: DataFrame, pairs: DataFrame, building: DataFrame,
                          grid: CellGrid, res: Int,
                          pointDensity: Double = 0.008, rayLength: Double = 100.0,
                          numberOfDirection: Int = 60,
                          broadcastBuildings: Boolean = true): DataFrame = {
    val dirs = directions(numberOfDirection)

    // 1. building-free ground per RSU (rsuDiff/rsuDiffTot)
    val withB = pairs.groupBy("id_rsu")
      .agg(first(col("unit_geom")).as("__rg"), G.st_union_agg(col("the_geom")).as("__bu"))
      .select(col("id_rsu"), {
        val diff = G.stDifference(col("__rg"), G.stMakeValid(col("__bu")))
        when(G.stIsEmpty(diff), G.stExteriorRing(G.stNormalize(col("__rg"))))
          .otherwise(diff).as("__free")
      })
    val freeTot = rsu.join(withB, Seq("id_rsu"), "left")
      .select(col("id_rsu"), coalesce(col("__free"), col("the_geom")).as("__free"))
      .localCheckpoint() // feeds both the polygon and the line point branches

    val b = building.select(col("the_geom").as("__bgeom"), col("height_wall"))

    // 2. sample points (deterministic Halton; reference: random
    //    ST_GENERATEPOINTS — see scaladoc)
    val ptsUdf = udf { (wkb: Array[Byte], density: Double) =>
      val g = Geo.fromWkb(wkb)
      val parts = (0 until g.getNumGeometries).map(g.getGeometryN)
      parts.filter(p => p.getDimension == 2 && p.getArea > 0).flatMap { p =>
        val pw = Geo.toWkb(p)
        val n = math.min(math.floor(density * p.getArea).toLong, 100L).toInt
        if (n == 0) { val ip = p.getInteriorPoint; Seq((ip.getX, ip.getY)) }
        else deterministicPoints(pw, n).toSeq
      }.toArray
    }
    // line-dimension leftovers: ST_LocateAlong(geom, 0.5, 0.01) — segment
    // midpoints offset 0.01 to the LEFT of the segment direction
    val linePtsUdf = udf { (wkb: Array[Byte]) =>
      val g = Geo.fromWkb(wkb)
      if (g.getDimension != 1) Array.empty[(Double, Double)]
      else Geo.segments(g).map { case (x1, y1, x2, y2) =>
        val len = math.hypot(x2 - x1, y2 - y1)
        val mx = (x1 + x2) / 2; val my = (y1 + y2) / 2
        (mx - (y2 - y1) / len * 0.01, my + (x2 - x1) / len * 0.01)
      }
    }
    val points = freeTot
      .select(col("id_rsu"), explode(ptsUdf(col("__free"), lit(pointDensity))).as("__p"))
      .unionAll(freeTot.select(col("id_rsu"), explode(linePtsUdf(col("__free"))).as("__p")))
      .select(col("id_rsu"), col("__p._1").as("px"), col("__p._2").as("py"))
      .distinct() // reference UNION dedups

    // 3. candidate walls within rayLength (k-ring cell equi-join + DWITHIN)
    val ptCellsUdf = udf { (px: Double, py: Double) =>
      grid.coverEnvelope(new org.locationtech.jts.geom.Envelope(
        px - rayLength, px + rayLength, py - rayLength, py + rayLength), res)
    }
    val ptCells = points.withColumn(SpatialJoin.CellCol, explode(ptCellsUdf(col("px"), col("py"))))
    val bCells0 = b
      .withColumn(SpatialJoin.CellCol, explode(SpatialJoin.coverUdf(grid, res)(col("__bgeom"))))
    // broadcast when the wall layer is dimension-sized; shuffle equi-join
    // on cell otherwise (continent-scale building layers)
    val bCells = if (broadcastBuildings) broadcast(bCells0) else bCells0
    val cand = ptCells.join(bCells, SpatialJoin.CellCol)
      .where(G.stDWithin(col("__bgeom"), G.stPoint(col("px"), col("py")), lit(rayLength)))
      .dropDuplicates("id_rsu", "px", "py", "__bgeom", "height_wall")

    // 4. per-point ray cast, 5. per-RSU average (inner-join semantics; 1.0
    //    when no point scored)
    val svfUdf = udf { (px: Double, py: Double, walls: Seq[(Array[Byte], Double)]) =>
      svfAtPoint(px, py, walls, dirs, rayLength)
    }
    val perPoint = cand.groupBy("id_rsu", "px", "py")
      .agg(collect_list(struct(col("__bgeom"), col("height_wall"))).as("__walls"))
      .select(col("id_rsu"), svfUdf(col("px"), col("py"), col("__walls")).as("__svf"))
    val perRsu = perPoint.groupBy("id_rsu").agg(avg("__svf").as("__avg"))
    rsu.select("id_rsu").join(perRsu, Seq("id_rsu"), "left")
      .select(col("id_rsu"),
        coalesce(col("__avg"), lit(1.0)).as("ground_sky_view_factor"))
  }
}
