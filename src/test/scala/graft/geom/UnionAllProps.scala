package graft.geom

import org.locationtech.jts.geom.{Geometry, Polygon}
import org.locationtech.jts.operation.union.UnaryUnionOp
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** `Geom.unionAll` (envelope components, overlay only where parts can
  * interact) against plain `UnaryUnionOp.union` on the same input.
  * Rectangles live on a small integer grid, so generated sets are rich
  * in disjoint, edge-touching, corner-touching and overlapping pairs;
  * sets also carry exact duplicates, polygons with holes, MultiPolygon
  * members and empties. A set with a Point or LineString must take the
  * old path and so match it exactly. */
object UnionAllProps extends Properties("unionAll") {

  private def ring(x0: Int, y0: Int, x1: Int, y1: Int): String =
    s"($x0 $y0, $x1 $y0, $x1 $y1, $x0 $y1, $x0 $y0)"
  private def rect(x0: Int, y0: Int, w: Int, h: Int): Polygon =
    Geom.fromWkt(s"POLYGON (${ring(x0, y0, x0 + w, y0 + h)})").asInstanceOf[Polygon]

  private val rects: Gen[Polygon] = for {
    x <- Gen.choose(0, 24); y <- Gen.choose(0, 24)
    w <- Gen.choose(1, 4); h <- Gen.choose(1, 4)
  } yield rect(x, y, w, h)

  // unit cells of a 6×6 lattice: neighbours share an edge, diagonal
  // cells share only a corner
  private val cells: Gen[Polygon] = for {
    i <- Gen.choose(0, 5); j <- Gen.choose(0, 5)
  } yield rect(i, j, 1, 1)

  // a frame whose one-unit hole other parts can sit in, touch or cover
  private val holed: Gen[Geometry] = for {
    x <- Gen.choose(0, 20); y <- Gen.choose(0, 20)
    w <- Gen.choose(3, 6); h <- Gen.choose(3, 6)
  } yield Geom.fromWkt(
    s"POLYGON (${ring(x, y, x + w, y + h)}, ${ring(x + 1, y + 1, x + w - 1, y + h - 1)})")

  // valid MultiPolygon: the second member is shifted clear of the first
  private val multi: Gen[Geometry] = for {
    x <- Gen.choose(0, 24); y <- Gen.choose(0, 24)
    w <- Gen.choose(1, 4); h <- Gen.choose(1, 4)
    dx <- Gen.choose(5, 20)
  } yield Geom.factory.createMultiPolygon(Array(rect(x, y, w, h), rect(x + dx, y, w, h)))

  private val empties: Gen[Geometry] =
    Gen.oneOf("POLYGON EMPTY", "MULTIPOLYGON EMPTY").map(Geom.fromWkt)

  private val members: Gen[Geometry] = Gen.frequency(
    6 -> rects, 4 -> cells, 2 -> holed, 1 -> multi, 1 -> empties)

  /** At least one non-empty polygon, plus exact copies of a prefix, in a
    * seeded shuffled order. */
  private val polygonSets: Gen[java.util.ArrayList[Geometry]] = for {
    first <- rects
    rest <- Gen.choose(0, 40).flatMap(Gen.listOfN(_, members))
    nDup <- Gen.choose(0, 8)
    seed <- Gen.long
  } yield {
    val base = first :: rest
    val all = base ++ base.take(nDup).map(_.copy())
    val out = new java.util.ArrayList[Geometry]()
    new scala.util.Random(seed).shuffle(all).foreach(out.add)
    out
  }

  private def sameUnion(gs: java.util.ArrayList[Geometry]): Prop = {
    val expected = UnaryUnionOp.union(gs)
    val got = Geom.unionAll(gs)
    val (a, b) = (got.getArea, expected.getArea)
    (Prop(got.equalsTopo(expected)) :| s"not equalsTopo: $got vs $expected") &&
      (Prop(got.isValid) :| s"invalid: $got") &&
      (Prop(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))) :| s"area $a vs $b")
  }

  property("polygonal sets: same union as UnaryUnionOp") = forAll(polygonSets)(sameUnion)

  property("sparse lattice sets: same union as UnaryUnionOp") =
    forAll(Gen.choose(1, 36).flatMap(Gen.listOfN(_, cells))) { cs =>
      val gs = new java.util.ArrayList[Geometry]()
      cs.foreach(gs.add)
      sameUnion(gs)
    }

  property("a Point or LineString takes the UnaryUnionOp path unchanged") = forAll(
    polygonSets,
    Gen.oneOf("POINT (50 50)", "POINT (2 2)", "LINESTRING (0 0, 30 30)", "LINESTRING (40 0, 41 1)")
  ) { (gs, wkt) =>
    gs.add(Geom.fromWkt(wkt))
    Geom.unionAll(gs).equalsExact(UnaryUnionOp.union(gs))
  }
}
