package graft.geom

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Geometry

/**
 * Column-level geometry function surface (the engine's analogue of the
 * reference's H2GIS scalar SQL functions, SURVEY.md §2.8). All functions take
 * and return WKB `BinaryType` columns. Scalar UDFs here are deliberately plain
 * Spark UDFs over WKB: they sit *after* cell-equijoin candidate pruning, so
 * they run on pruned pairs only; the hot path (cell assignment) is integer
 * math, not JTS.
 */
object GeoFunctions {

  // -- constructors / codec --
  val stGeomFromWkt  = udf((s: String) => Geo.toWkb(Geo.fromWkt(s)))
  val stAsWkt        = udf((b: Array[Byte]) => Geo.toWkt(Geo.fromWkb(b)))
  val stPoint        = udf((x: Double, y: Double) => Geo.toWkb(Geo.point(x, y)))
  val stMakeBox      = udf((x0: Double, y0: Double, x1: Double, y1: Double) => Geo.toWkb(Geo.box(x0, y0, x1, y1)))

  // -- measures --
  val stArea          = udf((b: Array[Byte]) => Geo.fromWkb(b).getArea)
  val stLength        = udf((b: Array[Byte]) => Geo.fromWkb(b).getLength)
  val stPerimeter     = udf((b: Array[Byte]) => Geo.perimeter(Geo.fromWkb(b)))
  val stHolesArea     = udf((b: Array[Byte]) => Geo.holesArea(Geo.fromWkb(b)))
  val stHolesPerim    = udf((b: Array[Byte]) => Geo.holesPerimeter(Geo.fromWkb(b)))
  val stX             = udf((b: Array[Byte]) => Geo.fromWkb(b).getCoordinate.x)
  val stY             = udf((b: Array[Byte]) => Geo.fromWkb(b).getCoordinate.y)

  // -- unary transforms --
  val stConvexHull   = udf((b: Array[Byte]) => Geo.toWkb(Geo.fromWkb(b).convexHull()))
  val stCentroid     = udf((b: Array[Byte]) => Geo.toWkb(Geo.fromWkb(b).getCentroid))
  val stPointOnSurf  = udf((b: Array[Byte]) => Geo.toWkb(Geo.fromWkb(b).getInteriorPoint))
  val stMakeValid    = udf((b: Array[Byte]) => Geo.toWkb(org.locationtech.jts.geom.util.GeometryFixer.fix(Geo.fromWkb(b))))
  val stBuffer       = udf((b: Array[Byte], d: Double) => Geo.toWkb(Geo.fromWkb(b).buffer(d)))
  val stBufferMitre  = udf((b: Array[Byte], d: Double) => Geo.toWkb(Geo.bufferMitre(Geo.fromWkb(b), d)))
  val stBufferFlat   = udf((b: Array[Byte], d: Double) => Geo.toWkb(Geo.bufferFlat(Geo.fromWkb(b), d)))
  val stExpand       = udf((b: Array[Byte], d: Double) => Geo.toWkb(Geo.expand(Geo.fromWkb(b), d)))
  /** ST_BUFFER with explicit quadrant segments (H2GIS 3-arg form). */
  val stBufferQuad   = udf((b: Array[Byte], d: Double, quadSegs: Int) =>
    Geo.toWkb(Geo.fromWkb(b).buffer(d, quadSegs)))
  val stRemoveHoles  = udf((b: Array[Byte]) => Geo.toWkb(Geo.removeHoles(Geo.fromWkb(b))))
  /** ST_EXTERIORRING of (the first polygon of) a polygonal geometry. */
  val stExteriorRing = udf { (b: Array[Byte]) =>
    Geo.fromWkb(b) match {
      case p: org.locationtech.jts.geom.Polygon => Geo.toWkb(p.getExteriorRing)
      case mp: org.locationtech.jts.geom.MultiPolygon if mp.getNumGeometries > 0 =>
        Geo.toWkb(mp.getGeometryN(0).asInstanceOf[org.locationtech.jts.geom.Polygon].getExteriorRing)
      case g => Geo.toWkb(g)
    }
  }
  val stNormalize = udf { (b: Array[Byte]) =>
    val g = Geo.fromWkb(b); g.normalize(); Geo.toWkb(g)
  }
  /** ST_TESSELATE: constrained triangulation of a polygonal geometry
    * (WorkflowGeoIndicators.groovy:2113 splits big sea/land polygons into
    * triangles so per-pair overlay work stays bounded). */
  val stTesselate = udf { (b: Array[Byte]) =>
    Geo.toWkb(org.locationtech.jts.triangulate.polygon.PolygonTriangulator
      .triangulate(Geo.fromWkb(b)))
  }
  /** Sprawl closing buffer: quad 2, flat, mitre limit 2 (SpatialUnits.groovy:659-661). */
  val stBufferClosing = udf((b: Array[Byte], d: Double) => Geo.toWkb(Geo.bufferClosing(Geo.fromWkb(b), d)))
  // envelope bounds (ST_EXTENT building blocks)
  val stXMin = udf((b: Array[Byte]) => Geo.fromWkb(b).getEnvelopeInternal.getMinX)
  val stYMin = udf((b: Array[Byte]) => Geo.fromWkb(b).getEnvelopeInternal.getMinY)
  val stXMax = udf((b: Array[Byte]) => Geo.fromWkb(b).getEnvelopeInternal.getMaxX)
  val stYMax = udf((b: Array[Byte]) => Geo.fromWkb(b).getEnvelopeInternal.getMaxY)

  // -- binary ops --
  val stIntersection = udf((a: Array[Byte], b: Array[Byte]) => Geo.toWkb(Geo.fromWkb(a).intersection(Geo.fromWkb(b))))
  val stDifference   = udf((a: Array[Byte], b: Array[Byte]) => Geo.toWkb(Geo.fromWkb(a).difference(Geo.fromWkb(b))))
  val stUnion        = udf((a: Array[Byte], b: Array[Byte]) => Geo.toWkb(Geo.fromWkb(a).union(Geo.fromWkb(b))))
  val stSnap         = udf((a: Array[Byte], b: Array[Byte], tol: Double) =>
    Geo.toWkb(org.locationtech.jts.operation.overlay.snap.GeometrySnapper.snap(Geo.fromWkb(a), Geo.fromWkb(b), tol)(0)))

  // -- predicates (prepared-geometry refinement: first arg is the indexed /
  //    replicated side, cached per thread — SURVEY §4 "prepared refinement") --
  val stIntersects = udf((a: Array[Byte], b: Array[Byte]) => Geo.prepared(a).intersects(Geo.fromWkb(b)))
  val stContains   = udf((a: Array[Byte], b: Array[Byte]) => Geo.prepared(a).contains(Geo.fromWkb(b)))
  val stCovers     = udf((a: Array[Byte], b: Array[Byte]) => Geo.prepared(a).covers(Geo.fromWkb(b)))
  val stContainsPoint = udf((a: Array[Byte], x: Double, y: Double) => Geo.containsPointFast(a, x, y))
  val stOverlaps   = udf((a: Array[Byte], b: Array[Byte]) => Geo.prepared(a).overlaps(Geo.fromWkb(b)))

  // -- distances --
  val stDistance    = udf((a: Array[Byte], b: Array[Byte]) => Geo.fromWkb(a).distance(Geo.fromWkb(b)))
  val stMaxDistance = udf((a: Array[Byte], b: Array[Byte]) => Geo.maxDistance(Geo.fromWkb(a), Geo.fromWkb(b)))
  val stDWithin     = udf((a: Array[Byte], b: Array[Byte], d: Double) => Geo.fromWkb(a).isWithinDistance(Geo.fromWkb(b), d))

  // -- area of intersection with contains fast path (GenericIndicators.groovy:1020-1024:
  //    `CASE WHEN ST_CONTAINS(up, low) THEN ST_AREA(low) ELSE ST_AREA(ST_INTERSECTION(...))`) --
  val stIntersectionArea = udf { (a: Array[Byte], b: Array[Byte]) =>
    val pa = Geo.prepared(a); val gb = Geo.fromWkb(b)
    if (pa.contains(gb)) gb.getArea
    else if (!pa.intersects(gb)) 0.0
    else pa.getGeometry.intersection(gb).getArea
  }
  /** Length of `b`'s linework inside polygon `a` (linearRoadOperations clip —
    * RsuIndicators.groovy:1060-1227). */
  val stIntersectionLength = udf { (a: Array[Byte], b: Array[Byte]) =>
    val pa = Geo.prepared(a); val gb = Geo.fromWkb(b)
    if (pa.contains(gb)) gb.getLength
    else if (!pa.intersects(gb)) 0.0
    else pa.getGeometry.intersection(gb).getLength
  }

  // -- linework helpers (facade distributions) --
  /** ST_TOMULTILINE: polygon boundary (exterior + holes) as MultiLineString. */
  val stToMultiLine = udf { (b: Array[Byte]) => Geo.toWkb(Geo.toMultiLine(Geo.fromWkb(b))) }

  /** ST_CollectionExtract(g, 3): keep only the polygonal parts (an
    * intersection of two polygons can emit points/lines on shared edges). */
  val stCollectionExtractPolygons = udf { (b: Array[Byte]) =>
    val g = Geo.fromWkb(b)
    val polys = (0 until g.getNumGeometries).map(g.getGeometryN)
      .filter(_.getDimension == 2)
    Geo.toWkb(
      if (polys.isEmpty) g.getFactory.createPolygon()
      else if (polys.size == 1) polys.head
      else g.getFactory.buildGeometry(scala.jdk.CollectionConverters
        .SeqHasAsJava(polys).asJava))
  }
  /** ST_CollectionExtract(geom, 2): the LineString members only. */
  val stLines = udf { (b: Array[Byte]) => Geo.toWkb(Geo.linesOf(Geo.fromWkb(b))) }
  val stIsEmpty = udf { (b: Array[Byte]) => Geo.fromWkb(b).isEmpty }
  /** ST_DIMENSION: topological dimension (0 point, 1 line, 2 polygon). */
  val stDimension = udf { (b: Array[Byte]) => Geo.fromWkb(b).getDimension }

  // -- explode helpers (ST_TOMULTISEGMENTS / ST_EXPLODE) --
  /** array of segment structs (x1,y1,x2,y2,len,azimuth_deg in [0,180)). */
  val stSegments = udf { (b: Array[Byte]) =>
    Geo.segments(Geo.fromWkb(b)).map { case (x1, y1, x2, y2) =>
      val len = math.hypot(x2 - x1, y2 - y1)
      var azDeg = math.toDegrees(Geo.azimuth(x1, y1, x2, y2))
      if (azDeg >= 180.0) azDeg -= 180.0
      (x1, y1, x2, y2, len, azDeg)
    }
  }
  /** Segments with RAW azimuth (radians in [0,2π), clockwise from north) —
    * orientation-preserving, unlike stSegments' [0,180) normalization;
    * needed where facing direction matters (frontal area index). */
  val stSegmentsRaw = udf { (b: Array[Byte]) =>
    Geo.segments(Geo.fromWkb(b)).map { case (x1, y1, x2, y2) =>
      (math.hypot(x2 - x1, y2 - y1), Geo.azimuth(x1, y1, x2, y2))
    }
  }

  /** ST_EXPLODE: one WKB per member of a GeometryCollection. */
  val stExplode = udf { (b: Array[Byte]) =>
    val g = Geo.fromWkb(b)
    (0 until g.getNumGeometries).map(i => Geo.toWkb(g.getGeometryN(i))).toArray
  }

  /** Register every function for SQL use; idempotent. */
  def register(spark: SparkSession): Unit = {
    val r = spark.udf
    r.register("st_geomfromwkt", stGeomFromWkt); r.register("st_aswkt", stAsWkt)
    r.register("st_point", stPoint);             r.register("st_area", stArea)
    r.register("st_length", stLength);           r.register("st_perimeter", stPerimeter)
    r.register("st_holes_area", stHolesArea);    r.register("st_holes_perimeter", stHolesPerim)
    r.register("st_convexhull", stConvexHull);   r.register("st_centroid", stCentroid)
    r.register("st_pointonsurface", stPointOnSurf)
    r.register("st_buffer", stBuffer);           r.register("st_expand", stExpand)
    r.register("st_intersection", stIntersection); r.register("st_difference", stDifference)
    r.register("st_union", stUnion);             r.register("st_intersects", stIntersects)
    r.register("st_contains", stContains);       r.register("st_distance", stDistance)
    r.register("st_intersection_area", stIntersectionArea)
    r.register("st_x", stX);                     r.register("st_y", stY)
  }

  /** Geometric union aggregate (ST_ACCUM + ST_UNION — SURVEY §2.10): buffers
    * WKBs, unions once per group via JTS UnaryUnion (cascaded). */
  class UnionAgg extends org.apache.spark.sql.expressions.Aggregator[Array[Byte], Array[Array[Byte]], Array[Byte]] {
    import org.apache.spark.sql.{Encoder, Encoders}
    def zero: Array[Array[Byte]] = Array.empty
    def reduce(buf: Array[Array[Byte]], g: Array[Byte]): Array[Array[Byte]] =
      if (g == null) buf else buf :+ g
    def merge(a: Array[Array[Byte]], b: Array[Array[Byte]]): Array[Array[Byte]] = a ++ b
    def finish(buf: Array[Array[Byte]]): Array[Byte] = {
      if (buf.isEmpty) return null
      val geoms = new java.util.ArrayList[Geometry](buf.length)
      buf.foreach(b => geoms.add(Geo.fromWkb(b)))
      Geo.toWkb(org.locationtech.jts.operation.union.UnaryUnionOp.union(geoms))
    }
    def bufferEncoder: Encoder[Array[Array[Byte]]] = Encoders.kryo[Array[Array[Byte]]]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }
  lazy val stUnionAgg: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new UnionAgg())

  def st_union_agg(c: Column): Column = stUnionAgg(c)
}
