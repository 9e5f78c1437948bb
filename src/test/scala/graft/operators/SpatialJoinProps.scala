package graft.operators

import org.apache.spark.sql.DataFrame
import org.locationtech.jts.geom.{Coordinate, Geometry}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.SparkTestBase
import graft.geom.Geo
import graft.index.CellGrid

/** ScalaCheck properties for the polygon/line joins against brute-force
  * JTS on random NON-convex shapes: L-shapes in all four rotations, square
  * rings (polygons with a hole), lines at random angles, and rectangles.
  * Shapes span 70–300 units, so their covers at res 10 (32-unit cells) are
  * larger than the 4-cell shortcut in `CellGrid.cover`. */
class SpatialJoinProps extends SparkTestBase {
  import spark.implicits._
  private val grid = CellGrid.fixture
  private val Res = 10

  private def poly(cs: (Double, Double)*): Geometry =
    Geo.factory.createPolygon((cs :+ cs.head).map { case (x, y) => new Coordinate(x, y) }.toArray)

  /** L with its corner at (x, y), arms `w` and `h` long and `t` thick,
    * turned `rot` quarter turns about the corner. */
  private val lShape = for {
    x <- Gen.choose(-300.0, 300.0); y <- Gen.choose(-300.0, 300.0)
    w <- Gen.choose(70.0, 300.0); h <- Gen.choose(70.0, 300.0)
    t <- Gen.choose(5.0, 30.0); rot <- Gen.choose(0, 3)
  } yield {
    val turn: ((Double, Double)) => (Double, Double) = { case (dx, dy) =>
      rot match {
        case 0 => (x + dx, y + dy); case 1 => (x - dy, y + dx)
        case 2 => (x - dx, y - dy); case _ => (x + dy, y - dx)
      }
    }
    poly(Seq((0.0, 0.0), (w, 0.0), (w, t), (t, t), (t, h), (0.0, h)).map(turn): _*)
  }
  private val ring = for {
    x <- Gen.choose(-300.0, 300.0); y <- Gen.choose(-300.0, 300.0)
    s <- Gen.choose(70.0, 300.0); t <- Gen.choose(5.0, 30.0)
  } yield {
    val f = Geo.factory
    def lr(a: Double, b: Double, c: Double, d: Double) =
      f.createLinearRing(Array(new Coordinate(a, b), new Coordinate(c, b),
        new Coordinate(c, d), new Coordinate(a, d), new Coordinate(a, b)))
    f.createPolygon(lr(x, y, x + s, y + s), Array(lr(x + t, y + t, x + s - t, y + s - t)))
      .asInstanceOf[Geometry]
  }
  private val line = for {
    x <- Gen.choose(-300.0, 300.0); y <- Gen.choose(-300.0, 300.0)
    len <- Gen.choose(90.0, 400.0); a <- Gen.choose(0.0, 2 * math.Pi)
  } yield Geo.factory.createLineString(Array(new Coordinate(x, y),
    new Coordinate(x + len * math.cos(a), y + len * math.sin(a)))).asInstanceOf[Geometry]
  private val rect = for {
    x <- Gen.choose(-300.0, 300.0); y <- Gen.choose(-300.0, 300.0)
    w <- Gen.choose(70.0, 300.0); h <- Gen.choose(70.0, 300.0)
  } yield Geo.box(x, y, x + w, y + h)

  private val polygons = Gen.frequency(3 -> lShape, 1 -> ring, 1 -> rect)
  private val shapes = Gen.frequency(3 -> lShape, 1 -> ring, 2 -> line, 1 -> rect)
  private def layer(g: Gen[Geometry]) = Gen.listOfN(30, g).map(_.toIndexedSeq)

  private def check(p: Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), p)
    assert(r.passed, r.status.toString)
  }
  private def df(gs: Seq[Geometry], id: String, geom: String): DataFrame =
    gs.zipWithIndex.map { case (g, i) => (i.toLong, Geo.toWkb(g)) }.toDF(id, geom)

  /** Pairs `intersectsJoin` returns; the caller checks duplicates. */
  private def joined(as: Seq[Geometry], bs: Seq[Geometry]): Array[(Long, Long)] =
    SpatialJoin.intersectsJoin(df(as, "ia", "ga"), "ga", df(bs, "ib", "gb"), "gb", grid, Res)
      .select("ia", "ib").as[(Long, Long)].collect()
  private def bruteIntersects(as: Seq[Geometry], bs: Seq[Geometry]): Set[(Long, Long)] =
    (for { (a, i) <- as.zipWithIndex; (b, j) <- bs.zipWithIndex if a.intersects(b) }
      yield (i.toLong, j.toLong)).toSet

  test("two intersecting L-shapes whose shared cells miss the reference cell are joined once") {
    val a = Geo.fromWkt("POLYGON((0 0,300 0,300 20,20 20,20 300,0 300,0 0))")
    val b = Geo.fromWkt("POLYGON((290 10,310 10,310 320,-10 320,-10 290,290 290,290 10))")
    assert(a.intersects(b))
    assert(joined(Seq(a), Seq(b)).toSeq == Seq((0L, 0L)))
  }

  test("a null geometry on either side gets no cells and joins nothing") {
    val a = Geo.box(0, 0, 100, 100); val b = Geo.box(50, 50, 150, 150)
    val as = Seq(a, null); val bs = Seq(null, b)
    val cands = SpatialJoin.candidates(df(as, "ia", "ga"), "ga", df(bs, "ib", "gb"), "gb",
      grid, Res).select("ia", "ib").as[(Long, Long)].collect()
    assert(cands.toSeq == Seq((0L, 1L)))
    assert(joined(as, bs).toSeq == Seq((0L, 1L)))
  }

  test("intersectsJoin returns exactly the JTS-intersecting pairs, each once") {
    check(Prop.forAllNoShrink(layer(shapes), layer(shapes)) { (as, bs) =>
      val got = joined(as, bs)
      val cands = SpatialJoin.candidates(df(as, "ia", "ga"), "ga", df(bs, "ib", "gb"), "gb",
        grid, Res).select("ia", "ib").as[(Long, Long)].collect()
      val bboxPairs = (for {
        (a, i) <- as.zipWithIndex; (b, j) <- bs.zipWithIndex
        if a.getEnvelopeInternal.intersects(b.getEnvelopeInternal)
      } yield (i.toLong, j.toLong)).toSet
      got.length == got.toSet.size && got.toSet == bruteIntersects(as, bs) &&
        cands.length == cands.toSet.size && bboxPairs.subsetOf(cands.toSet)
    })
  }

  test("assignMaxOverlap picks the JTS max intersection area, larger id on ties") {
    check(Prop.forAllNoShrink(layer(polygons), layer(polygons)) { (src, tgt) =>
      // the reference's CASE WHEN ST_CONTAINS(t, s) THEN ST_AREA(s)
      // ELSE ST_AREA(ST_INTERSECTION(t, s)) form, as GeoFunctions computes it
      def area(t: Geometry, s: Geometry) =
        if (t.contains(s)) s.getArea else if (!t.intersects(s)) 0.0 else t.intersection(s).getArea
      val expected = src.zipWithIndex.flatMap { case (s, i) =>
        val hits = tgt.zipWithIndex.map { case (t, j) => (area(t, s), j.toLong) }.filter(_._1 > 0)
        if (hits.isEmpty) None else Some(i.toLong -> hits.max._2)
      }.toMap
      val got = SpatialJoin.assignMaxOverlap(df(src, "is", "gs"), "is", "gs",
        df(tgt, "it", "gt"), "it", "gt", grid, Res).as[(Long, Long)].collect()
      got.length == got.toMap.size && got.toMap == expected
    })
  }

  test("minDistanceWithin returns the brute-force bounded minimum distance") {
    val maxD = 60.0; val default = -1.0
    check(Prop.forAllNoShrink(layer(shapes), layer(shapes)) { (src, tgt) =>
      val expected = src.zipWithIndex.map { case (s, i) =>
        val ds = tgt.map(s.distance).filter(_ <= maxD)
        i.toLong -> (if (ds.isEmpty) default else ds.min)
      }.toMap
      val got = SpatialJoin.minDistanceWithin(df(src, "is", "gs"), "is", "gs",
          df(tgt, "it", "gt"), "gt", maxD, default, grid, Res)
        .select("is", "min_distance").as[(Long, Double)].collect()
      got.length == src.length && got.toMap == expected
    })
  }
}
