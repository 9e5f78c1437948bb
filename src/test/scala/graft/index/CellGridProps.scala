package graft.index

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.geom.Geo

/** ScalaCheck properties for the cell index (SURVEY §5: cover/compact
  * round-trips, interior-point membership, k-ring semantics). */
class CellGridProps extends AnyFunSuite {
  private val grid = CellGrid.fixture

  private val coordGen = Gen.choose(-16000.0, 16000.0)
  private val sizeGen = Gen.choose(0.5, 500.0)

  private def check(p: Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(r.passed, r.status.toString)
  }

  test("point is always inside its cell's bounds; parent contains child") {
    check(Prop.forAll(coordGen, coordGen, Gen.choose(1, 20)) { (x, y, res) =>
      val id = grid.cell(x, y, res)
      val b = grid.bounds(id)
      val p = grid.parent(id)
      x >= b.getMinX && x <= b.getMaxX && y >= b.getMinY && y <= b.getMaxY &&
        grid.bounds(p).contains(b) && grid.children(p).contains(id)
    })
  }

  test("expanding the compact cover reproduces at least the fixed cover, without duplicates") {
    check(Prop.forAll(coordGen, coordGen, sizeGen, sizeGen, Gen.choose(6, 12)) { (x, y, w, h, res) =>
      val g = Geo.box(x, y, x + w, y + h)
      val fixed = grid.cover(g, res).toSet
      val compact = grid.compactCover(g, res, minRes = 2)
      def expand(id: Long): Set[Long] =
        if (grid.resOf(id) == res) Set(id)
        else grid.children(id).flatMap(expand).toSet
      val expanded = compact.flatMap(expand).toSet
      fixed.subsetOf(expanded) && compact.toSet.size == compact.length
    })
  }

  test("cover never misses the cell of an interior point") {
    check(Prop.forAll(coordGen, coordGen, sizeGen, sizeGen, Gen.choose(4, 12),
      Gen.choose(0.05, 0.95), Gen.choose(0.05, 0.95)) { (x, y, w, h, res, fx, fy) =>
      val g = Geo.box(x, y, x + w, y + h)
      grid.cover(g, res).toSet.contains(grid.cell(x + fx * w, y + fy * h, res))
    })
  }
}
