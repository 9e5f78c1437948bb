package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.geom.{Geo, GeoFunctions => G}

/**
 * Shapefile source vs the reference's OWN BDTopo sample commune (read-only
 * real-world data, bdtopo/src/test/resources/.../sample_12174): record
 * counts per layer, JTS area total vs an independent shoelace computation
 * (1591959.474365 for the 10481 buildings incl. 35 hole rings), attribute
 * values, plus a hand-built polygon-with-hole record for the ring rule.
 */
class ShapefileSpec extends SparkTestBase {

  private val numGeometries = udf((b: Array[Byte]) => Geo.fromWkb(b).getNumGeometries)

  private val base =
    "/root/reference/bdtopo/src/test/resources/org/orbisgis/geoclimate/bdtopo/v2/sample_12174/"

  test("BDTopo sample layers: counts, areas, attributes") {
    val bati = Shapefile.read(spark, base + "BATI_INDIFFERENCIE.shp").localCheckpoint()
    assert(bati.count() == 10481)
    val area = bati.agg(sum(G.stArea(col("the_geom")))).head().getDouble(0)
    assert(math.abs(area - 1591959.474365) < 0.1) // independent shoelace, different summation order
    val first = bati.where(Shapefile.attr("id") === "BATIMENT0000000060614263")
      .select(Shapefile.attr("hauteur").cast("double"), Shapefile.attr("origin_bat"))
      .head()
    assert(first.getDouble(0) == 4.0 && first.getString(1) == "Autre")
    assert(Shapefile.read(spark, base + "ROUTE.shp").count() == 4981)        // PolyLineZ
    assert(Shapefile.read(spark, base + "SURFACE_EAU.shp").count() == 92)    // PolygonZ
    assert(Shapefile.read(spark, base + "ZONE_VEGETATION.shp").count() == 2325) // Polygon
  }

  test("writer round trip: real BDTopo buildings survive write -> read bit-exactly") {
    // write the reference sample's first 500 buildings with the from-scratch
    // writer, read them back: areas and attributes must match row for row
    val bati = Shapefile.read(spark, base + "BATI_INDIFFERENCIE.shp")
      .limit(500)
      .select(col("the_geom"), Shapefile.attr("id").as("id"),
        Shapefile.attr("hauteur").cast("int").as("hauteur"))
      .localCheckpoint()
    val tmp = java.nio.file.Files.createTempDirectory("graft_shpw")
    val p = s"$tmp/bati.shp"
    Shapefile.write(bati, "the_geom", p)
    val back = Shapefile.read(spark, p)
      .select(Shapefile.attr("id").as("id"),
        Shapefile.attr("hauteur").cast("int").as("hauteur"),
        G.stArea(col("the_geom")).as("area"),
        numGeometries(col("the_geom")).as("np"))
      .localCheckpoint()
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.delete)
    assert(back.count() == 500)
    val orig = bati.select(col("id"), col("hauteur"),
      G.stArea(col("the_geom")).as("area"), numGeometries(col("the_geom")).as("np"))
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getDouble(2), r.getInt(3))).toMap
    val rt = back.collect().map(r => r.getString(0) -> (r.getInt(1), r.getDouble(2), r.getInt(3))).toMap
    assert(rt == orig) // bit-exact: raw IEEE doubles ride the file unchanged
  }

  test("writer round trip: points and polylines") {
    import spark.implicits._
    val pts = Seq((1, "a", 0.5, 1.25), (2, "bb", -3.0, 7.5))
      .toDF("k", "s", "x", "y")
      .select(G.stPoint(col("x"), col("y")).as("the_geom"), col("k"), col("s"))
    val lines = Seq((1, "LINESTRING(0 0, 3 4)"), (2, "LINESTRING(1 1, 1 5, 4 5)"))
      .toDF("k", "wkt")
      .select(G.stGeomFromWkt(col("wkt")).as("the_geom"), col("k"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_shpw2")
    Shapefile.write(pts, "the_geom", s"$tmp/p.shp")
    Shapefile.write(lines, "the_geom", s"$tmp/l.shp")
    val pBack = Shapefile.read(spark, s"$tmp/p.shp")
      .select(Shapefile.attr("k").cast("int"), Shapefile.attr("s"),
        G.stX(col("the_geom")), G.stY(col("the_geom")))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(pBack == Set((1, "a", 0.5, 1.25), (2, "bb", -3.0, 7.5)))
    val lBack = Shapefile.read(spark, s"$tmp/l.shp")
      .select(Shapefile.attr("k").cast("int"), G.stLength(col("the_geom")))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toSet
    assert(lBack == Set((1, 5.0), (2, 7.0)))
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.delete)
  }

  test("hand-built polygon-with-hole record follows the CW-shell/CCW-hole rule") {
    // shell [0,10]² clockwise, hole [2,4]² counter-clockwise
    val shell = Seq((0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0), (0.0, 0.0))
    val hole = Seq((2.0, 2.0), (4.0, 2.0), (4.0, 4.0), (2.0, 4.0), (2.0, 2.0))
    val pts = shell ++ hole
    val content = ByteBuffer.allocate(4 + 32 + 8 + 8 + 16 * pts.size)
      .order(ByteOrder.LITTLE_ENDIAN)
    content.putInt(5) // Polygon
    Seq(0.0, 0.0, 10.0, 10.0).foreach(content.putDouble) // box
    content.putInt(2).putInt(pts.size) // numParts, numPoints
    content.putInt(0).putInt(shell.size) // part offsets
    pts.foreach { case (x, y) => content.putDouble(x).putDouble(y) }
    val rec = content.array()
    val file = ByteBuffer.allocate(100 + 8 + rec.length)
    file.order(ByteOrder.BIG_ENDIAN).putInt(0, 9994)
    file.position(100)
    file.order(ByteOrder.BIG_ENDIAN).putInt(1).putInt(rec.length / 2)
    file.put(rec)
    val gs = Shapefile.parseShp(file.array())
    assert(gs.size == 1)
    val g = Geo.fromWkb(gs.head)
    assert(g.getGeometryType == "Polygon")
    assert(g.getArea == 100.0 - 4.0)
    assert(g.asInstanceOf[org.locationtech.jts.geom.Polygon].getNumInteriorRing == 1)
  }

  test("writer guards: mixed families throw, >254-byte field throws, decimal count set") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_shpw3")
    // mixed geometry families: a LineString in a Point-typed layer must
    // throw, not silently emit records inconsistent with the declared type
    val mixed = Seq((1, "POINT(1 2)"), (2, "LINESTRING(0 0, 3 4)"))
      .toDF("k", "wkt").select(G.stGeomFromWkt(col("wkt")).as("the_geom"), col("k"))
    val e1 = intercept[Exception](Shapefile.write(mixed, "the_geom", s"$tmp/m.shp"))
    assert(e1.getMessage.contains("mixed geometry families"))
    // a value wider than dBASE's one-byte descriptor cap (254) must throw
    // instead of wrapping the length byte and misaligning every later field
    val wide = Seq((1, "x" * 300)).toDF("k", "s")
      .select(G.stPoint(lit(0.0), lit(0.0)).as("the_geom"), col("k"), col("s"))
    val e2 = intercept[Exception](Shapefile.write(wide, "the_geom", s"$tmp/w.shp"))
    assert(e2.getMessage.contains("254"))
    // fractional numerics carry the widest rendered fraction in the dbf
    // decimal-count byte (offset 17 of the field descriptor) so strict
    // readers do not truncate '0.5' to an integer
    val frac = Seq((1, 0.5), (2, 2.25)).toDF("k", "v")
      .select(G.stPoint(col("v"), lit(0.0)).as("the_geom"), col("k"), col("v"))
    Shapefile.write(frac, "the_geom", s"$tmp/f.shp")
    val dbf = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$tmp/f.dbf"))
    // descriptors start at 32, 32 bytes each: field 0 = k (int, 0 decimals),
    // field 1 = v (widest fraction '2.25' -> 2 decimals)
    assert(dbf(32 + 17) == 0 && dbf(32 + 32 + 17) == 2)
    val back = Shapefile.read(spark, s"$tmp/f.shp")
      .select(Shapefile.attr("k").cast("int"), Shapefile.attr("v").cast("double"))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toSet
    assert(back == Set((1, 0.5), (2, 2.25)))
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.delete)
  }
}
