package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive digest of a materialized result.
  *
  * Each row is rendered to a canonical string (every column, nested values
  * included), hashed to 64 bits, and the row hashes are summed modulo 2^64,
  * so the digest is a multiset hash: it ignores row order and changes when
  * any value, the row count or the schema changes. Doubles are rendered to
  * 12 significant digits and floats to 6, so last-ulp differences between
  * two correct executions do not count as a mismatch. */
object Digest {
  def of(schema: StructType, rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach(r => sum += rowHash(render(r)))
    f"${sum}%016x-${rows.length}%d-${MurmurHash3.stringHash(schema.simpleString)}%08x"
  }

  private def rowHash(s: String): Long = {
    val b = s.getBytes(UTF_8)
    (MurmurHash3.bytesHash(b, 0x3c074a61).toLong << 32) |
      (MurmurHash3.bytesHash(b, 0x1b873593).toLong & 0xffffffffL)
  }

  private def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else "%.12g".format(d)
    case f: Float => if (f.isNaN || f.isInfinite) f.toString else "%.6g".format(f)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case a: Array[Byte] => a.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }
}
