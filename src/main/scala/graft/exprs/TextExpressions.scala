package graft.exprs

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for large-scale text deduplication:
  * character-shingle hashing, MinHash signatures/bands, and SimHash.
  *
  * These are the per-row kernels of the LSH near-dup pipeline (shingle →
  * minhash → band → bucket-join); the pipeline itself is plain DataFrame
  * code (TextQueries) so Catalyst keeps the surrounding plan declarative.
  * All hashes are deterministic (fixed seeds) — required for the driver's
  * reproducibility checks and for cross-run joins at scale.
  *
  * The scalar functions below are body-only case classes on the
  * `StFunction` arity bases, which declare their name, types, null
  * handling and generated code. [[ExplodeNgrams]] is a `Generator`, so it
  * stays off the bases and evaluates through `CodegenFallback`.
  */
object TextHash {

  /** Minimal open-addressing long hash set — the shingle kernels run once
    * per row over thousands of shingles, and a boxed
    * java.util.HashSet[java.lang.Long] spends more time allocating Longs
    * than hashing (measured ~40% of kernel time). Zero is handled via a
    * separate flag so the backing array needs no sentinel encoding. */
  final class LongSet(initialCapacity: Int = 1024) {
    // clamp before doubling: initialCapacity >= 2^30 would overflow Int
    // and produce a negative array size
    private var cap = Integer.highestOneBit(
      math.min(1 << 29, math.max(initialCapacity, 16)) * 2 - 1)
    private var keys = new Array[Long](cap)
    private var occupied = new Array[Boolean](cap)
    private var n = 0
    private var hasZero = false

    def size: Int = n + (if (hasZero) 1 else 0)
    def isEmpty: Boolean = size == 0

    def add(k: Long): Unit = {
      if (k == 0L) { hasZero = true; return }
      if (n * 10 >= cap * 7) grow()
      var i = (mix64(k) & (cap - 1)).toInt
      while (occupied(i)) {
        if (keys(i) == k) return
        i = (i + 1) & (cap - 1)
      }
      keys(i) = k; occupied(i) = true; n += 1
    }

    def contains(k: Long): Boolean = {
      if (k == 0L) return hasZero
      var i = (mix64(k) & (cap - 1)).toInt
      while (occupied(i)) {
        if (keys(i) == k) return true
        i = (i + 1) & (cap - 1)
      }
      false
    }

    /** Visit every element (order unspecified). */
    def foreach(f: Long => Unit): Unit = {
      if (hasZero) f(0L)
      var i = 0
      while (i < cap) {
        if (occupied(i)) f(keys(i))
        i += 1
      }
    }

    private def grow(): Unit = {
      val oldKeys = keys; val oldOcc = occupied
      cap <<= 1
      keys = new Array[Long](cap); occupied = new Array[Boolean](cap)
      n = 0
      var i = 0
      while (i < oldKeys.length) {
        if (oldOcc(i)) {
          var j = (mix64(oldKeys(i)) & (cap - 1)).toInt
          while (occupied(j)) j = (j + 1) & (cap - 1)
          keys(j) = oldKeys(i); occupied(j) = true; n += 1
        }
        i += 1
      }
    }
  }

  /** FNV-1a 64-bit over a char window (chars folded as 2 bytes each).
    *
    * REPLAYABLE-HASH CONTRACT (BMP-only): the DuckDB oracles replay this
    * fold as `ascii(c) % 256` / `ascii(c) // 256` per character, and
    * SQL's `substr`/`ascii` walk Unicode CODE POINTS while this loop
    * walks UTF-16 CODE UNITS. The two decompositions agree exactly for
    * every code point <= 0xFFFF (the BMP, a superset of the corpus's
    * ASCII) and diverge for supplementary characters, which surrogate-pair
    * here but arrive as one >0xFFFF value under `ascii`. Callers feeding
    * oracle-replayed sketches (CMS keys — enforced in
    * [[graft.exprs.CmsKernel.keyHash]] — and simhash shingles) own the
    * BMP restriction; hashes used only engine-side (LSH bands, shingle
    * sets, bloom) are unaffected — any injective byte fold works there. */
  def fnv1a(s: String, from: Int, len: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    val end = from + len
    while (i < end) {
      val c = s.charAt(i)
      h = (h ^ (c & 0xff)) * 0x100000001b3L
      h = (h ^ ((c >> 8) & 0xff)) * 0x100000001b3L
      i += 1
    }
    h
  }

  /** splitmix64 finalizer — cheap independent hash family via seed XOR. */
  @inline def mix64(zIn: Long): Long = {
    var z = zIn + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Distinct char-n-gram shingle hashes of a document. */
  def shingleHashes(text: String, n: Int): LongSet = {
    val set = new LongSet(math.max(16, text.length * 2))
    if (text.length >= n) {
      var i = 0
      val last = text.length - n
      while (i <= last) {
        set.add(fnv1a(text, i, n))
        i += 1
      }
    } else if (text.nonEmpty) {
      set.add(fnv1a(text, 0, text.length))
    }
    set
  }

  /** k-permutation MinHash signature over the shingle set. */
  def minhashSig(text: String, k: Int, n: Int): Array[Long] = {
    val sig = Array.fill(k)(Long.MaxValue)
    shingleHashes(text, n).foreach { s =>
      var i = 0
      while (i < k) {
        val h = mix64(s ^ (i.toLong * 0x9e3779b97f4a7c15L))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  /** 64-bit SimHash over the shingle set. */
  def simhash64(text: String, n: Int): Long = {
    val counts = new Array[Int](64)
    shingleHashes(text, n).foreach { h =>
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Exact Jaccard similarity of the two documents' shingle sets. */
  def ngramJaccard(a: String, b: String, n: Int): Double = {
    val sa = shingleHashes(a, n)
    val sb = shingleHashes(b, n)
    if (sa.isEmpty && sb.isEmpty) return 1.0
    var inter = 0
    sa.foreach { s => if (sb.contains(s)) inter += 1 }
    val union = sa.size + sb.size - inter
    inter.toDouble / union
  }

  /** |a ∩ b| for two ASCENDING-SORTED arrays of distinct longs — a
    * two-pointer merge. This is `size(array_intersect(a, b))` minus the
    * per-row OpenHashSet build and the intersection-array materialization
    * that expression pays: the similarity-join verify runs it once per
    * candidate pair (tens of millions of times at stress scale — measured
    * 60% of both joins' total CPU as `array_intersect`), and the merge
    * walks the two unsafe arrays with zero allocation. Callers own the
    * sorted-distinct precondition (the joins store gram sets through
    * `array_sort(array_distinct(...))`); on unsorted input the count is
    * simply wrong, so this is not a general `array_intersect` substitute. */
  def sortedInterCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }
}

/** minhash_sig(text, k, shingleLen) -> array<bigint> of k signature minima. */
case class MinHashSig(first: Expression, second: Expression, third: Expression)
    extends StTernary[UTF8String, Int, Int]("minhash_sig", ArrayType(LongType, containsNull = false)) {
  protected def op(t: UTF8String, k: Int, n: Int): Any =
    new GenericArrayData(TextHash.minhashSig(t.toString, k, n))
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): MinHashSig =
    copy(first = a, second = b, third = c)
}

/** minhash_bands(text, numBands, rowsPerBand, shingleLen) -> array<bigint>
  * of per-band bucket hashes (the banded-LSH key material: two documents
  * collide in band b iff all rowsPerBand minima of that band agree). */
case class MinHashBands(first: Expression, second: Expression, third: Expression, fourth: Expression)
    extends StQuaternary[UTF8String, Int, Int, Int]("minhash_bands",
      ArrayType(LongType, containsNull = false)) {
  protected def op(t: UTF8String, bands: Int, rows: Int, n: Int): Any = {
    val sig = TextHash.minhashSig(t.toString, bands * rows, n)
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 0xcbf29ce484222325L ^ b.toLong
      var r = 0
      while (r < rows) {
        h = TextHash.mix64(h ^ sig(b * rows + r))
        r += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression, d: Expression): MinHashBands =
    copy(first = a, second = b, third = c, fourth = d)
}

/** simhash64(text, shingleLen) -> bigint. */
case class SimHash64(left: Expression, right: Expression)
    extends StBinary[UTF8String, Int]("simhash64", LongType) {
  protected def op(t: UTF8String, n: Int): Any = TextHash.simhash64(t.toString, n)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SimHash64 =
    copy(left = l, right = r)
}

/** hamming64(a, b) -> int — Hamming distance between two 64-bit hashes. */
case class Hamming64(left: Expression, right: Expression)
    extends StBinary[Long, Long]("hamming64", IntegerType) {
  protected def op(a: Long, b: Long): Any = java.lang.Long.bitCount(a ^ b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Hamming64 =
    copy(left = l, right = r)
}

/** ngram_jaccard(a, b, shingleLen) -> double — exact char-n-gram Jaccard,
  * the verify kernel of the LSH pipeline (one call per candidate pair). */
case class NGramJaccard(first: Expression, second: Expression, third: Expression)
    extends StTernary[UTF8String, UTF8String, Int]("ngram_jaccard", DoubleType) {
  protected def op(a: UTF8String, b: UTF8String, n: Int): Any =
    TextHash.ngramJaccard(a.toString, b.toString, n)
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): NGramJaccard =
    copy(first = a, second = b, third = c)
}

/** sorted_inter_count(a, b) -> int — |a ∩ b| over ascending-sorted
  * distinct-long arrays (see [[TextHash.sortedInterCount]] for the merge
  * kernel and the precondition): the verify kernel of the prefix-filter
  * similarity joins, one call per candidate pair. */
case class SortedInterCount(left: Expression, right: Expression)
    extends StBinary[ArrayData, ArrayData]("sorted_inter_count", IntegerType)(Arg.Longs, Arg.Longs) {
  protected def op(a: ArrayData, b: ArrayData): Any = TextHash.sortedInterCount(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedInterCount =
    copy(left = l, right = r)
}

/** explode_ngrams(text, n) — a native Catalyst GENERATOR (the UDTF rung
  * of the extension ladder, alongside scalar Expressions, the
  * TypedImperativeAggregates, the optimizer Rule, the planner Strategy
  * and the DSv2 source): one input row fans out to one output row per
  * character n-gram, as `(pos INT, gram STRING)` with `pos` 1-based.
  *
  * Why a Generator and not `explode(expr(...))`: every array-building
  * formulation (`split`, `sequence`+`transform`, `regexp_extract_all`)
  * MATERIALIZES an O(len) array per document before the Generate node
  * consumes it — for 100 KB documents that is ~100k short strings held
  * live per in-flight row, and at 100 TB the per-task peak is
  * rows_in_flight × len allocations. This Generator yields each gram
  * lazily from an Iterator (Spark's GenerateExec projects each element
  * to unsafe rows immediately), so per-row transient state is ONE gram
  * regardless of document length. Same laziness contract as Spark's own
  * `Stack`/`JsonTuple` generators.
  *
  * Positions/lengths count Unicode code points (`UTF8String.numChars`),
  * matching DuckDB's character semantics for `length`/`substr` so the
  * oracle can replay grams with `generate_series` + `substr`. */
case class ExplodeNgrams(first: Expression, second: Expression)
    extends Generator with CodegenFallback
    with org.apache.spark.sql.catalyst.trees.BinaryLike[Expression] {

  override def prettyName: String = "explode_ngrams"
  override def left: Expression = first
  override def right: Expression = second

  override def elementSchema: StructType = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("gram", StringType, nullable = false)))

  @transient private lazy val nVal: Int = second.eval().asInstanceOf[Int]

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (first.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs (STRING text, INT n), got (${first.dataType.sql}, ${second.dataType.sql})")
    else SizeArg.check(prettyName, "n", second, 1)
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow)
      : IterableOnce[org.apache.spark.sql.catalyst.InternalRow] = {
    val t = first.eval(input)
    if (t == null) Iterator.empty
    else {
      val s = t.asInstanceOf[UTF8String]
      val n = nVal
      val last = s.numChars() - n // inclusive last 0-based start
      if (last < 0) Iterator.empty
      else new Iterator[org.apache.spark.sql.catalyst.InternalRow] {
        private[this] var i = 0
        // one reused row: GenerateExec copies each element into the
        // output UnsafeRow before advancing, so per-element reuse is safe
        // (the same contract Spark's Stack generator relies on)
        private[this] val row = new GenericInternalRow(2)
        override def hasNext: Boolean = i <= last
        override def next(): org.apache.spark.sql.catalyst.InternalRow = {
          row.update(0, i + 1)
          row.update(1, s.substring(i, i + n))
          i += 1
          row
        }
      }
    }
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ExplodeNgrams =
    copy(first = l, second = r)
}
