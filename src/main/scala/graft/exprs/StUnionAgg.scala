package graft.exprs

import graft.geom.Geom
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DataType}
import org.locationtech.jts.geom.Geometry

/** Grouped geometric union aggregate — the one aggregate Spark lacks
  * (reference: Sedona `ST_Union_Aggr`, spark_job/process_geodata.py:113).
  *
  * `TypedImperativeAggregate` gives true partial aggregation: each map task
  * accumulates geometries, the buffer serializes as the WKB of a
  * GeometryCollection across the shuffle, and partial buffers merge on the
  * reduce side. Every union goes through [[Geom.unionAll]], whose envelope
  * fast path passes parts that touch nothing straight through, drops
  * exact duplicates, and overlays only the clusters whose envelopes meet.
  *
  * Compaction is amortized: the buffer holds the parts of its last union
  * ([[StUnionAgg.Buffer.kept]] of them) followed by the inputs added since,
  * and it is re-unioned only when those inputs outnumber
  * `max(`[[StUnionAgg.CompactAt]]`, kept)`. Each union at least doubles
  * the inputs it has absorbed, so a group of n inputs costs O(n log n)
  * work in all, and its buffer never holds more than the union's own part
  * count plus that batch — per-group memory stays bounded on skewed
  * groups (union is associative, commutative and idempotent, so eager
  * partial unions preserve semantics). A buffer is unioned before it is
  * serialized, so the shuffle carries each map task's union, and a group
  * with a single partial buffer evaluates without another overlay.
  */
case class StUnionAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[StUnionAgg.Buffer]
  with UnaryLike[Expression] {

  import StUnionAgg.{Buffer, CompactAt}

  override def prettyName: String = "st_union_agg"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def createAggregationBuffer(): Buffer = new Buffer

  private def compact(buf: Buffer): Unit =
    if (buf.added > math.max(CompactAt, buf.kept)) buf.keep(Geom.unionAll(buf.parts))

  override def update(buf: Buffer, input: InternalRow): Buffer = {
    val v = child.eval(input)
    if (v != null) {
      val g = Geom.fromWkb(v.asInstanceOf[Array[Byte]])
      // Empty geometries are union identities; dropping them here also keeps
      // serialize() safe (JTS WKBWriter rejects empty Points inside a
      // GeometryCollection).
      if (!g.isEmpty) {
        buf.parts.add(g)
        compact(buf)
      }
    }
    buf
  }

  override def merge(b1: Buffer, b2: Buffer): Buffer = {
    // into an empty buffer, the other's union parts stay a union's parts
    if (b1.parts.isEmpty) b1.kept = b2.kept
    b1.parts.addAll(b2.parts)
    compact(b1)
    b1
  }

  override def eval(buf: Buffer): Any =
    if (buf.parts.isEmpty) null
    else Geom.toWkb(if (buf.added == 0) buf.union else Geom.unionAll(buf.parts))

  override def serialize(buf: Buffer): Array[Byte] = {
    if (buf.added > 0) buf.keep(Geom.unionAll(buf.parts))
    Geom.toWkb(Geom.factory.createGeometryCollection(buf.parts.toArray(new Array[Geometry](0))))
  }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val gc = Geom.fromWkb(bytes)
    val buf = new Buffer
    var i = 0
    while (i < gc.getNumGeometries) { buf.parts.add(gc.getGeometryN(i)); i += 1 }
    buf.kept = buf.parts.size
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): StUnionAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): StUnionAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(c: Expression): StUnionAgg = copy(child = c)
}

object StUnionAgg {
  /** The smallest batch of new inputs that triggers an eager partial union. */
  val CompactAt = 256

  /** Aggregation buffer: `parts` starts with the `kept` parts of the last
    * union taken (none yet: 0), followed by the inputs added since. */
  final class Buffer {
    val parts = new java.util.ArrayList[Geometry]()
    var kept = 0
    def added: Int = parts.size - kept

    /** Replaces the contents with the parts of union `u`. */
    private[StUnionAgg] def keep(u: Geometry): Unit = {
      parts.clear()
      // an empty union is kept whole, so eval returns it as before
      if (u.isEmpty) parts.add(u)
      else {
        var i = 0
        while (i < u.getNumGeometries) { parts.add(u.getGeometryN(i)); i += 1 }
      }
      kept = parts.size
    }

    /** The union the kept parts came from (valid when nothing was added). */
    private[StUnionAgg] def union: Geometry =
      if (parts.size == 1) parts.get(0) else Geom.factory.buildGeometry(parts)
  }
}
