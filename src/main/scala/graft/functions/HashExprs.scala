package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** [[Kernel]]s for the dedup signature math.
  *
  * All salts derive from a fixed splitmix64 stream, so results are
  * deterministic across runs, partitions, and resumes.
  */
object HashExprs {

  /** splitmix64 finalizer (avalanche stage) — the ONE definition
    * shared by the salt stream, the rolling-hash whitener, and the
    * hyperplane generator, so the deterministic hash streams the
    * oracle machinery depends on can never drift apart. */
  private[graft] def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private[functions] def splitmix(seed: Long): Iterator[Long] = new Iterator[Long] {
    private var state = seed
    def hasNext = true
    def next(): Long = {
      state += 0x9E3779B97F4A7C15L
      mix64(state)
    }
  }

  /** Column API: k-min-hash band keys of an array<long> of shingle
    * hashes; returns array<long> of `bands` bucket keys. */
  def minhashBandKeys(hashes: Column, k: Int, bands: Int): Column =
    ColumnBridge.column(MinHashBandKeys(ColumnBridge.expression(hashes), k, bands))

  /** Column API: sorted distinct word-n-gram shingle hashes of a
    * single-space-tokenized text column, as array<long>. */
  def shingleHashes(text: Column, n: Int): Column =
    ColumnBridge.column(ShingleHashes(ColumnBridge.expression(text), n))

  /** Column API: 64-bit SimHash of an array<long> of shingle hashes. */
  def simhash(hashes: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(hashes)))

  /** Column API: dot product of two array<double> columns. */
  def dotProduct(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column API: exact Jaccard |∩|/|∪| of two SORTED DISTINCT
    * array<long> columns, rounded to 6 — null when both are empty. */
  def sortedJaccard(a: Column, b: Column): Column =
    ColumnBridge.column(SortedJaccard(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column API: min rolling hash over all `w`-byte windows of a text
    * column — the O(len) document fingerprint. */
  def rollingMinHash(text: Column, w: Int): Column =
    ColumnBridge.column(RollingMinHash64(ColumnBridge.expression(text), w))

  /** Column API: winnowing fingerprint — sorted distinct minima of
    * each window of `g` consecutive `w`-byte rolling hashes. */
  def winnowHashes(text: Column, w: Int, g: Int): Column =
    ColumnBridge.column(WinnowHashes(ColumnBridge.expression(text), w, g))
}

/** `sorted_jaccard(a, b)`: |∩|/|∪| of two SORTED DISTINCT
  * array<long> columns (the shingle-hash representation every dedup
  * path produces), rounded to 6 decimals — one two-pointer merge,
  * O(|a|+|b|) with zero allocation, replacing the generic
  * `array_intersect`/`array_union` pair that builds two hash sets and
  * two result arrays per candidate. This is the verification hot path:
  * every LSH/simhash/prefix-filter candidate pair runs it once.
  * Returns null when both inputs are empty (0/0 — matches SQL
  * division-by-zero semantics of the expression it replaces).
  * Inputs MUST be sorted distinct; results are undefined otherwise.
  *
  * Elements are read as primitive longs (`getLong`), guarded by a
  * per-slot null check: internal producers ([[ShingleHashes]],
  * [[WinnowHashes]], `array_sort(array_distinct)` over non-null
  * input) never emit null elements, but the nullable-element TYPE is
  * unavoidable — Spark file sources force `containsNull = true` on
  * every array read back from parquet (the persisted dedup index), so
  * analysis-time rejection would break the engine's own reload path.
  * A null element actually encountered (possible only via the SQL
  * surface) yields NULL instead of reading an undefined slot. */
case class SortedJaccard(left: Expression, right: Expression)
    extends BinaryKernel[ArrayData, ArrayData, Any](
      ArrayType(LongType), ArrayType(LongType), nullResult = true) {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  def compute(a: ArrayData, b: ArrayData): Any = {
    val n = a.numElements()
    val m = b.numElements()
    if (n == 0 && m == 0) return null
    var i = 0
    var j = 0
    var inter = 0
    while (i < n && j < m) {
      // never-taken branch for all internal producers (they emit no
      // null elements); guards the SQL surface against reading
      // undefined primitive slots
      if (a.isNullAt(i) || b.isNullAt(j)) return null
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    // the merge stops when the shorter side exhausts — scan the
    // unvisited tails for nulls too (array_sort places nulls LAST,
    // exactly where the merge never looks), so "a null element
    // yields NULL" holds for every slot, not just visited ones
    while (i < n) { if (a.isNullAt(i)) return null; i += 1 }
    while (j < m) { if (b.isNullAt(j)) return null; j += 1 }
    val union = n + m - inter
    // replicate Spark round(x, 6): HALF_UP decimal rounding
    BigDecimal(inter.toDouble / union)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedJaccard =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_jaccard"
}

/** Shared Karp–Rabin kernel for the fingerprint expressions: the
  * finalized polynomial rolling hash of every `w`-byte window of a
  * UTF-8 string in ONE O(len) pass — each step removes the outgoing
  * byte's contribution and multiplies in the incoming byte (mod 2⁶⁴),
  * then a splitmix64-style mixer whitens the window hash so low-order
  * bytes can't bias the minimum. Replaces the interpreted
  * `transform(sequence, xxhash64(substr))` chain, which re-hashed w
  * bytes per window (O(len·w)) outside whole-stage codegen. */
private[functions] object RollingHash {
  final val B = 0x100000001B3L // FNV prime, odd → invertible mod 2^64

  private def mix(h0: Long): Long =
    HashExprs.mix64(h0 + 0x9E3779B97F4A7C15L)

  /** Finalized hash of each of the `len-w+1` windows; a text shorter
    * than `w` (or empty) yields ONE hash over the whole text. */
  def windowHashes(bytes: Array[Byte], w: Int): Array[Long] = {
    val len = bytes.length
    if (len <= w) {
      var h = 0L
      var i = 0
      while (i < len) { h = h * B + (bytes(i) & 0xFFL); i += 1 }
      return Array(mix(h))
    }
    // B^(w-1) for the outgoing byte's contribution
    var pow = 1L
    var p = 1
    while (p < w) { pow *= B; p += 1 }
    val out = new Array[Long](len - w + 1)
    var h = 0L
    var i = 0
    while (i < w) { h = h * B + (bytes(i) & 0xFFL); i += 1 }
    out(0) = mix(h)
    i = w
    while (i < len) {
      h = (h - (bytes(i - w) & 0xFFL) * pow) * B + (bytes(i) & 0xFFL)
      out(i - w + 1) = mix(h)
      i += 1
    }
    out
  }
}

/** `rolling_min_hash(text, w)`: minimum finalized rolling hash over
  * all `w`-byte windows — the min-sampled document fingerprint, now
  * one O(len) primitive pass (previously O(len·w) interpreted). */
case class RollingMinHash64(child: Expression, w: Int)
    extends UnaryKernel[UTF8String, Long](StringType) {
  require(w >= 2, "window width must be at least 2 bytes")

  override def dataType: DataType = LongType

  def compute(input: UTF8String): Long = {
    val hs = RollingHash.windowHashes(input.getBytes, w)
    var min = hs(0)
    var i = 1
    while (i < hs.length) { if (hs(i) < min) min = hs(i); i += 1 }
    min
  }

  override protected def withNewChildInternal(newChild: Expression): RollingMinHash64 =
    copy(child = newChild)

  override def prettyName: String = "rolling_min_hash"
}

/** `winnow_hashes(text, w, g)`: true winnowing (the MOSS scheme) —
  * the minimum of every window of `g` consecutive `w`-byte rolling
  * hashes, as a sorted distinct array. Two documents sharing a
  * substring of at least `w + g - 1` bytes are GUARANTEED to share a
  * fingerprint value, so intersecting two documents' arrays detects
  * partial overlap, not just whole-document similarity. The sliding
  * minima use a monotone deque: O(len) total, not O(len·g). */
case class WinnowHashes(child: Expression, w: Int, g: Int)
    extends UnaryKernel[UTF8String, ArrayData](StringType) {
  require(w >= 2, "window width must be at least 2 bytes")
  require(g >= 1, "winnow window must be at least 1 hash")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  def compute(input: UTF8String): ArrayData = {
    val hs = RollingHash.windowHashes(input.getBytes, w)
    val n = hs.length
    if (n <= g) {
      var min = hs(0)
      var i = 1
      while (i < n) { if (hs(i) < min) min = hs(i); i += 1 }
      return new GenericArrayData(Array(min))
    }
    // sliding-window minima via a monotone (increasing) index deque
    val deque = new Array[Int](n)
    var head = 0
    var tail = 0 // deque occupies [head, tail)
    val sel = new Array[Long](n - g + 1)
    var s = 0
    var i = 0
    while (i < n) {
      while (tail > head && hs(deque(tail - 1)) >= hs(i)) tail -= 1
      deque(tail) = i
      tail += 1
      if (deque(head) <= i - g) head += 1
      if (i >= g - 1) { sel(s) = hs(deque(head)); s += 1 }
      i += 1
    }
    // adjacent windows usually share their minimum — sort + dedupe
    java.util.Arrays.sort(sel)
    var uniq = 1
    i = 1
    while (i < s) { if (sel(i) != sel(i - 1)) uniq += 1; i += 1 }
    val out = new Array[Long](uniq)
    out(0) = sel(0)
    var o = 1
    i = 1
    while (i < s) {
      if (sel(i) != sel(i - 1)) { out(o) = sel(i); o += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowHashes =
    copy(child = newChild)

  override def prettyName: String = "winnow_hashes"
}

/** `dot_product(a, b)`: Σ aᵢ·bᵢ over two array<double> columns in one
  * primitive loop — the vector-math hot path for cosine similarity
  * search, replacing an interpreted zip_with + aggregate chain. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryKernel[ArrayData, ArrayData, Double](
      ArrayType(DoubleType), ArrayType(DoubleType)) {

  override def dataType: DataType = DoubleType

  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"dot_product length mismatch: $n vs ${b.numElements()} — " +
          "a silent min-length truncation would quietly degrade similarity scores")
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_product"
}

/** `shingle_hashes(text, n)`: tokenize on single spaces (empty tokens
  * kept, matching `split(text, ' ')` semantics), hash every token
  * (FNV-1a 64 over UTF-8 bytes), combine each run of n token hashes
  * position-sensitively, and return the sorted distinct n-gram hashes.
  * One primitive loop over the raw UTF-8 bytes — replaces an
  * interpreted split → transform(slice/concat_ws) → array_distinct
  * chain that dominated dedup runtime. */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryKernel[UTF8String, ArrayData](StringType) {
  require(n >= 1, "shingle size must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  def compute(input: UTF8String): ArrayData = {
    val bytes = input.getBytes
    // 1. token hashes: FNV-1a 64 per token, split on 0x20
    var tokenCount = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') tokenCount += 1; i += 1 }
    val tok = new Array[Long](tokenCount)
    var t = 0
    var h = 0xCBF29CE484222325L
    i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if (b == ' ') { tok(t) = h; t += 1; h = 0xCBF29CE484222325L }
      else h = (h ^ (b & 0xFF)) * 0x100000001B3L
      i += 1
    }
    tok(t) = h
    // 2. n-gram hashes: position-sensitive fold of n token hashes
    val m = tokenCount - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Long])
    val grams = new Array[Long](m)
    var g = 0
    while (g < m) {
      var acc = 0x9E3779B97F4A7C15L
      var j = 0
      while (j < n) {
        acc = (acc ^ tok(g + j)) * 0xFF51AFD7ED558CCDL
        acc ^= (acc >>> 33)
        j += 1
      }
      grams(g) = acc
      g += 1
    }
    // 3. sort + dedupe
    java.util.Arrays.sort(grams)
    var uniq = 1
    g = 1
    while (g < m) { if (grams(g) != grams(g - 1)) uniq += 1; g += 1 }
    if (uniq == m) new GenericArrayData(grams)
    else {
      val out = new Array[Long](uniq)
      out(0) = grams(0)
      var o = 1
      g = 1
      while (g < m) {
        if (grams(g) != grams(g - 1)) { out(o) = grams(g); o += 1 }
        g += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)

  override def prettyName: String = "shingle_hashes"
}

/** `minhash_band_keys(hashes, k, bands)`: k multiply-mix hash
  * functions, min over the input hashes, each band of k/bands minima
  * FNV-folded to one key with the band index baked in. */
case class MinHashBandKeys(child: Expression, k: Int, bands: Int)
    extends UnaryKernel[ArrayData, ArrayData](ArrayType(LongType)) {
  require(k > 0 && bands > 0 && k % bands == 0, "k must be divisible by bands")

  private val rows = k / bands
  private val mults: Array[Long] =
    HashExprs.splitmix(0x51D015EA5EEDL).map(_ | 1L).take(k).toArray
  private val adds: Array[Long] =
    HashExprs.splitmix(0xCAFEF00DL).take(k).toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  def compute(input: ArrayData): ArrayData = {
    val n = input.numElements()
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var j = 0
    while (j < n) {
      val base = input.getLong(j)
      var i = 0
      while (i < k) {
        var h = base * mults(i) + adds(i)
        h = (h ^ (h >>> 29)) * 0xBF58476D1CE4E5B9L
        h = h ^ (h >>> 32)
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      j += 1
    }
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = 0xCBF29CE484222325L ^ b.toLong
      var r = 0
      while (r < rows) {
        acc = (acc ^ mins(b * rows + r)) * 0x100000001B3L
        r += 1
      }
      keys(b) = acc
      b += 1
    }
    new GenericArrayData(keys)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashBandKeys =
    copy(child = newChild)

  override def prettyName: String = "minhash_band_keys"
}

/** `simhash64(hashes)`: bit b of the result is 1 iff the +1/−1 tally
  * of bit b across the input hashes is positive. */
case class SimHash64(child: Expression)
    extends UnaryKernel[ArrayData, Long](ArrayType(LongType)) {

  override def dataType: DataType = LongType

  def compute(input: ArrayData): Long = {
    val tallies = new Array[Int](64)
    val n = input.numElements()
    var j = 0
    while (j < n) {
      val h = input.getLong(j)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) tallies(b) += 1 else tallies(b) -= 1
        b += 1
      }
      j += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (tallies(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)

  override def prettyName: String = "simhash64"
}
