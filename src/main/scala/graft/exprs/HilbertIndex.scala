package graft.exprs

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._

/** Hilbert space-filling-curve kernels — the locality-preserving
  * alternative to the Morton/Z-order interleave ([[graft.ops.SinkQueries
  * .morton8]]): consecutive Hilbert indices are ALWAYS 4-neighbor
  * adjacent cells (unit steps, no Z-order "seams" that jump across the
  * grid), which is why Iceberg/Delta-style layout optimizers prefer it
  * for multi-dimensional clustering — a contiguous index range bounds a
  * tighter spatial region, so min/max file stats prune harder.
  *
  * Both directions use the classic bit-level transform (reflect+swap
  * quadrant rotation, MSB-first): intermediates can go negative mid-loop
  * by design; the `& s` masks read low bits identically in two's
  * complement, and HilbertSpec pins the two defining properties
  * (bijectivity and unit-step adjacency) plus the round trip.
  */
object Hilbert {
  /** (x, y) -> curve index d, grid n×n (n a power of two). */
  def xy2d(n: Long, x0: Long, y0: Long): Long = {
    var (x, y) = (x0, y0)
    var d = 0L
    var s = n / 2
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** Curve index d -> (x, y), the exact inverse of [[xy2d]]. */
  def d2xy(n: Long, d0: Long): (Long, Long) = {
    var (x, y) = (0L, 0L)
    var t = d0
    var s = 1L
    while (s < n) {
      val rx = 1L & (t / 2)
      val ry = 1L & (t ^ rx)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val sw = x; x = y; y = sw
      }
      x += s * rx
      y += s * ry
      t /= 4
      s *= 2
    }
    (x, y)
  }

  private[exprs] def checkN(n: Long): Unit =
    // upper bound 2^31: the curve has n^2 cells and the index must fit a
    // Long — beyond that, the n*n bounds check and the s*s*3 accumulation
    // in xy2d both overflow silently, so oversized grids must fail loudly
    // here instead of producing overflow artifacts downstream
    require(n >= 2 && n <= (1L << 31) && (n & (n - 1)) == 0,
      s"hilbert: grid size must be a power of two in [2, 2^31], got $n")
}

/** hilbert_index(n, x, y) -> bigint — position of cell (x, y) on the
  * order-log2(n) Hilbert curve over the n×n grid. Null-safe; throws on a
  * non-power-of-two n or out-of-grid coordinates (a layout bug, never a
  * data condition). */
case class HilbertIndex(first: Expression, second: Expression, third: Expression)
    extends StTernary[Long, Long, Long]("hilbert_index", LongType) {
  protected def op(n: Long, x: Long, y: Long): Any = {
    Hilbert.checkN(n)
    require(x >= 0 && x < n && y >= 0 && y < n,
      s"hilbert_index: ($x, $y) outside the $n x $n grid")
    Hilbert.xy2d(n, x, y)
  }
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression): HilbertIndex = copy(first = a, second = b, third = c)
}

/** hilbert_xy(n, d) -> struct<x: bigint, y: bigint> — the inverse walk. */
case class HilbertXY(left: Expression, right: Expression)
    extends StBinary[Long, Long]("hilbert_xy", StructType(Seq(
      StructField("x", LongType, nullable = false),
      StructField("y", LongType, nullable = false)))) {
  protected def op(n: Long, d: Long): Any = {
    Hilbert.checkN(n)
    require(d >= 0 && d < n * n, s"hilbert_xy: index $d outside the $n x $n curve")
    val (x, y) = Hilbert.d2xy(n, d)
    org.apache.spark.sql.catalyst.InternalRow(x, y)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): HilbertXY =
    copy(left = l, right = r)
}
