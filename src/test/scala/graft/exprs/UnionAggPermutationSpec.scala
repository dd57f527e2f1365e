package graft.exprs

import graft.SparkFixture
import graft.functions._
import graft.geom.Geom
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType
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
  test("100,000 rows in one group: exact area, buffer bounded by its union's parts plus one batch") {
    // row i is square d(i) = i - (i + 1) / 10: every 10th row repeats the
    // row before it exactly, so 90,000 distinct disjoint unit squares
    val n = 100000
    val distinct = 90000
    def square(i: Long): (Double, Double) = {
      val d = i - (i + 1) / 10
      ((d % 300) * 3.0, (d / 300) * 3.0)
    }
    val d = col("id") - ((col("id") + 1) / 10).cast("long")
    val (x, y) = ((d % 300) * 3.0, (d / 300).cast("long") * 3.0)
    val area = spark.range(0, n, 1, 2)
      .agg(st_area(st_union_agg(st_makeenvelope(x, y, x + 1.0, y + 1.0))))
      .head().getDouble(0)
    assert(area == distinct.toDouble, s"expected $distinct disjoint unit squares, got $area")

    // the same rows through the aggregate's own calls, as two map tasks
    // (rows dealt round-robin, so duplicates also straddle the tasks),
    // the shuffle's serialize/deserialize and the reduce-side merge
    val agg = StUnionAgg(BoundReference(0, BinaryType, nullable = true))
    def assertBounded(buf: StUnionAgg.Buffer, seen: Int): Unit = {
      assert(buf.parts.size <= buf.kept + math.max(StUnionAgg.CompactAt, buf.kept),
        s"${buf.parts.size} entries, ${buf.kept} kept")
      assert(buf.kept <= seen, s"${buf.kept} kept parts from $seen distinct squares")
    }
    val row = new GenericInternalRow(1)
    val maps = Seq.fill(2)(agg.createAggregationBuffer())
    val seen = Array.fill(2)(Set.empty[(Double, Double)])
    for (i <- 0 until n) {
      val p = i % 2
      val (x, y) = square(i)
      row.update(0, Geom.envelopeWkb(x, y, x + 1, y + 1))
      agg.update(maps(p), row)
      seen(p) += ((x, y))
      assertBounded(maps(p), seen(p).size)
    }
    val reduce = agg.createAggregationBuffer()
    maps.map(agg.serialize).foreach { bytes =>
      agg.merge(reduce, agg.deserialize(bytes))
      assertBounded(reduce, distinct)
    }
    val u = Geom.fromWkb(agg.eval(reduce).asInstanceOf[Array[Byte]])
    assert(u.getNumGeometries == distinct && u.getArea == distinct.toDouble && u.isValid)
  }
}
