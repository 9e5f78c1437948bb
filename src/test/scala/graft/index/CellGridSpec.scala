package graft.index

import org.scalatest.funsuite.AnyFunSuite
import graft.geom.Geo

class CellGridSpec extends AnyFunSuite {
  val g = CellGrid.fixture

  /** Deterministic property loop (no scalatestplus bridge ships offline). */
  private def props(n: Int)(body: scala.util.Random => Unit): Unit = {
    val rnd = new scala.util.Random(42)
    (1 to n).foreach(_ => body(rnd))
  }
  private def coord(r: scala.util.Random): Double = r.nextDouble() * 32000 - 16000

  test("encode/decode roundtrip") {
    props(500) { r =>
      val ix = r.nextLong(1L << 20); val iy = r.nextLong(1L << 20)
      val id = g.encode(ix, iy, 20)
      assert(g.ixOf(id) == ix && g.iyOf(id) == iy && g.resOf(id) == 20)
    }
  }

  test("cell contains its point") {
    props(500) { r =>
      val x = coord(r); val y = coord(r); val res = r.nextInt(21)
      val e = g.bounds(g.cell(x, y, res))
      assert(x >= e.getMinX && x <= e.getMaxX && y >= e.getMinY && y <= e.getMaxY)
    }
  }

  test("parent relationship: cell at res-1 is parent of cell at res") {
    props(500) { r =>
      val x = coord(r); val y = coord(r); val res = 1 + r.nextInt(20)
      assert(g.parent(g.cell(x, y, res)) == g.cell(x, y, res - 1))
    }
  }

  test("children partition the parent") {
    val id = g.cell(123.4, -567.8, 10)
    val kids = g.children(id)
    assert(kids.length == 4 && kids.forall(k => g.parent(k) == id))
    assert(math.abs(kids.map(k => g.bounds(k).getArea).sum - g.bounds(id).getArea) < 1e-6)
  }

  test("cover of a polygon includes the cell of every interior point") {
    val poly = Geo.fromWkt("POLYGON((0 0, 50 0, 50 40, 0 40, 0 0))")
    val cover = g.cover(poly, 12).toSet
    props(300) { r =>
      val x = 0.1 + r.nextDouble() * 49.8; val y = 0.1 + r.nextDouble() * 39.8
      assert(cover.contains(g.cell(x, y, 12)))
    }
  }

  test("compact cover leaves superset of fixed cover; point cells found") {
    val poly = Geo.fromWkt("POLYGON((3 3, 200 7, 180 150, 10 120, 3 3), (50 50, 80 50, 80 80, 50 80, 50 50))")
    val res = 12
    val fixed = g.cover(poly, res).toSet
    def leaves(id: Long): Set[Long] =
      if (g.resOf(id) == res) Set(id) else g.children(id).flatMap(leaves).toSet
    val compactLeaves = g.compactCover(poly, res).flatMap(leaves).toSet
    assert(fixed.subsetOf(compactLeaves))
    assert(compactLeaves.contains(g.cell(100.0, 60.0, res)))
  }

  test("empty geometry: null envelope covers no cell at any resolution") {
    val empty = Geo.fromWkt("POLYGON EMPTY")
    assert(empty.getEnvelopeInternal.isNull)
    for (res <- Seq(16, 20)) {
      assert(g.coverEnvelope(empty.getEnvelopeInternal, res).isEmpty, s"res $res")
      assert(g.cover(empty, res).isEmpty, s"res $res")
    }
    assert(g.compactCover(empty, 16).isEmpty)
  }

  test("compact cover is smaller than fixed cover for large polygons") {
    val poly = Geo.fromWkt("POLYGON((0 0, 2000 0, 2000 2000, 0 2000, 0 0))")
    assert(g.compactCover(poly, 14).length < g.cover(poly, 14).length)
  }

  test("ids at different resolutions never collide") {
    props(500) { r =>
      val x = coord(r); val y = coord(r); val res = r.nextInt(20)
      assert(g.cell(x, y, res) != g.cell(x, y, res + 1))
    }
  }
}
