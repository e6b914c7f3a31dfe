package graft.exprs

import graft.SparkFixture
import graft.functions._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Union-aggregate merge correctness (SURVEY.md §5.2): the grouped
  * geometric union's area must be invariant under input row order and
  * partitioning — which is exactly what exercises the
  * TypedImperativeAggregate's partial/merge path, since every
  * partitioning splits the buffer merges differently. */
class UnionAggPermutationSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  // overlapping rectangles (seeded): union area is NOT the sum, so a
  // wrong merge (double-count or drop) shifts the result
  private def rectWkt(x0: Int, y0: Int, w: Int, h: Int) =
    s"POLYGON (($x0 $y0, ${x0 + w} $y0, ${x0 + w} ${y0 + h}, $x0 ${y0 + h}, $x0 $y0))"

  test("buffer compaction (> CompactAt geometries in one group) preserves the union") {
    import spark.implicits._
    // 600 disjoint unit squares in ONE group over TWO partitions: each map
    // task buffers ~300 geometries, crossing CompactAt (256) inside
    // update() — the per-task bounded-memory path — and the reduce-side
    // merge crosses it again; disjointness makes the expected area exact
    val n = 600
    val wkts = (0 until n).map(i => rectWkt((i % 40) * 3, (i / 40) * 3, 1, 1))
    val area = wkts.toDF("wkt").repartition(2)
      .agg(st_area(st_union_agg(st_geomfromwkt(col("wkt")))))
      .head().getDouble(0)
    assert(area == n.toDouble, s"expected $n disjoint unit squares, got $area")
  }

  test("a 30×30 grid of edge-touching unit squares dissolves to one polygon") {
    import spark.implicits._
    // one envelope component: every square touches its neighbours, so the
    // map-side compactions (300 rows a partition > CompactAt) and the
    // reduce-side merge must all go through overlay and dissolve
    val wkts = for (i <- 0 until 30; j <- 0 until 30) yield rectWkt(i, j, 1, 1)
    val r = wkts.toDF("wkt").repartition(3)
      .agg(st_union_agg(st_geomfromwkt(col("wkt"))).as("u"))
      .select(st_numgeometries(col("u")), st_area(col("u")))
      .head()
    assert(r.getInt(0) == 1, s"expected one dissolved polygon, got ${r.getInt(0)} parts")
    assert(r.getDouble(1) == 900.0)
  }

  test("50 copies of one square union to that square") {
    import spark.implicits._
    val area = Seq.fill(50)(rectWkt(7, 3, 1, 1)).toDF("wkt").repartition(3)
      .agg(st_area(st_union_agg(st_geomfromwkt(col("wkt")))))
      .head().getDouble(0)
    assert(area == 1.0, s"duplicates must not add area, got $area")
  }

  test("st_union_agg area is invariant under row order and partitioning") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    val base = (0 until 120).map { i =>
      rectWkt(rng.nextInt(500), rng.nextInt(500), 50 + rng.nextInt(200), 50 + rng.nextInt(200))
    }
    def unionArea(wkts: Seq[String], parts: Int): Double =
      wkts.toDF("wkt").repartition(parts)
        .agg(st_area(st_union_agg(st_geomfromwkt(col("wkt")))))
        .head().getDouble(0)
    val reference = unionArea(base, 4)
    for ((seed, parts) <- Seq((1, 1), (2, 3), (3, 16), (4, 32))) {
      val shuffled = new scala.util.Random(seed).shuffle(base)
      val a = unionArea(shuffled, parts)
      assert(math.abs(a - reference) < 1e-6,
        s"seed=$seed parts=$parts: $a != $reference")
    }
  }
}
