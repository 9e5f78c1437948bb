package graft.geom

import org.scalatest.funsuite.AnyFunSuite

/** UTM (Karney-Krüger 6th-order) invariants: published quarter meridian,
  * central-meridian anchors and scale factor k0. */
class ProjectionSpec extends AnyFunSuite {

  test("rectifying radius reproduces the published WGS84 quarter meridian") {
    // 10001965.7293 m is the standard published value (e.g. NGA TR8350.2)
    assert(math.abs(Projection.RectA * math.Pi / 2 - 10001965.7293) < 1e-3)
  }

  test("central meridian anchors: equator origin and k0 scale") {
    val (e0, n0) = Projection.utmForward(3.0, 0.0, 31, north = true)
    assert(math.abs(e0 - 500000.0) < 1e-6 && math.abs(n0) < 1e-6)
    // scale along the central meridian is k0 = 0.9996: numeric derivative
    val (_, nA) = Projection.utmForward(3.0, 45.0, 31, north = true)
    val (_, nB) = Projection.utmForward(3.0, 45.0 + 1e-5, 31, north = true)
    // meridian radius of curvature at 45 deg (closed form)
    val e2 = 0.0066943799901413165
    val m45 = 6378137.0 * (1 - e2) / math.pow(1 - e2 * math.pow(math.sin(math.toRadians(45)), 2), 1.5)
    val dN = (nB - nA) / math.toRadians(1e-5)
    assert(math.abs(dN / m45 - 0.9996) < 1e-6)
  }

  test("utmZone picks the standard zone") {
    assert(Projection.utmZone(3.0) == 31 && Projection.utmZone(-73.9) == 18
      && Projection.utmZone(-180.0) == 1 && Projection.utmZone(179.99) == 60)
  }
}
