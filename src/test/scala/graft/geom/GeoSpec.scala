package graft.geom

import org.scalatest.funsuite.AnyFunSuite

/** Golden values from the reference's own unit tests
  * (BuildingIndicatorsTests.groovy:60-66 building 7: volume=141, floor_area=47,
  *  total_facade_length=38 => perimeter 30 + holes perimeter 8, area 47). */
class GeoSpec extends AnyFunSuite {
  val b7 = "POLYGON((0 -5, 10 -5, 10 0, 0 0, 0 -5), (1 -4, 2 -4, 2 -1, 1 -1, 1 -4))"

  test("building 7 goldens: area / perimeter / holes") {
    val g = Geo.fromWkt(b7)
    assert(g.getArea == 47.0)
    assert(Geo.perimeter(g) == 30.0)
    assert(Geo.holesPerimeter(g) == 8.0)
    assert(Geo.holesArea(g) == 3.0)
    // volume = area * 0.5 * (h_wall + h_roof) = 47 * 0.5 * 6 = 141
    assert(g.getArea * 0.5 * (3 + 3) == 141.0)
  }

  test("WKB roundtrip preserves geometry exactly") {
    val g = Geo.fromWkt(b7)
    assert(Geo.fromWkb(Geo.toWkb(g)).equalsExact(g))
  }

  test("negative mitre buffer (passive volume): building 7 buffer(-3) is empty") {
    // BuildingIndicatorsTests golden: passive_volume_ratio = 0 for building 7
    val g = Geo.fromWkt(b7)
    assert(Geo.bufferMitre(g, -3.0).getArea == 0.0)
  }

  test("expand grows the envelope by d") {
    val g = Geo.fromWkt("POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))")
    val e = Geo.expand(g, 5).getEnvelopeInternal
    assert(e.getMinX == -5 && e.getMaxX == 15 && e.getMinY == -5 && e.getMaxY == 15)
  }

  test("maxDistance of two unit squares") {
    val a = Geo.fromWkt("POLYGON((0 0, 1 0, 1 1, 0 1, 0 0))")
    val b = Geo.fromWkt("POLYGON((3 0, 4 0, 4 1, 3 1, 3 0))")
    assert(Geo.maxDistance(a, b) == math.sqrt(17)) // (0,0)->(4,1)
  }

  test("azimuth convention: clockwise from north") {
    assert(Geo.azimuth(0, 0, 0, 1) == 0.0)               // north
    assert(Geo.azimuth(0, 0, 1, 0) == math.Pi / 2)       // east
    assert(Geo.azimuth(0, 0, 0, -1) == math.Pi)          // south
    assert(Geo.azimuth(0, 0, -1, 0) == 3 * math.Pi / 2)  // west
  }

  test("segments explode: square exterior + hole") {
    val segs = Geo.segments(Geo.fromWkt(b7))
    assert(segs.length == 8)
    assert(math.abs(segs.map(s => math.hypot(s._3 - s._1, s._4 - s._2)).sum - 38.0) < 1e-12)
  }

  test("prepared cache: contains agrees with plain JTS") {
    val poly = Geo.toWkb(Geo.fromWkt("POLYGON((0 0, 50 0, 50 40, 0 40, 0 0))"))
    val rnd = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val x = rnd.nextDouble() * 60 - 5; val y = rnd.nextDouble() * 50 - 5
      assert(Geo.prepared(poly).contains(Geo.point(x, y)) ==
        Geo.fromWkb(poly).contains(Geo.point(x, y)))
    }
  }
}
