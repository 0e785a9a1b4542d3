package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** All (table-tag | sign-bucket) LSH keys of a double vector under a
  * fixed hyperplane bank, plus — when `multiProbe` > 0 — the
  * query-directed multi-probe flip keys of each table's `multiProbe`
  * smallest-margin planes, computed in ONE primitive pass per row.
  *
  * Replaces the interpreted per-row expression chain (`when`-folded
  * bucket bits plus an `array_sort(comparator)` higher-order function
  * allocating tables×planes margin structs per row): Spark evaluates
  * lambda comparators interpreted, and on the `nearestDupLsh` probe
  * leg that chain ran once per CORPUS row — the same interpreted-HOF
  * hazard the dedup kernels eliminated (see [[HashExprs]]).
  *
  * Value-identical to the replaced expressions, including output
  * order: per table, the base key first, then flip keys by ascending
  * point-to-hyperplane margin (|dot|/‖plane‖; ties keep the lower
  * plane index, matching the stable `array_sort`). A vector whose
  * length differs from the plane dimension raises, like
  * [[DotProduct]] — a silent truncation would quietly corrupt bucket
  * assignments. A null ELEMENT (possible on any parquet-read
  * embedding — file sources force `containsNull = true`) yields NULL
  * for the row instead of reading an undefined primitive slot, the
  * same contract as [[SortedJaccard]]. */
case class LshKeys(child: Expression,
    planes: Array[Array[Array[Double]]], multiProbe: Int)
    extends UnaryKernel[ArrayData, ArrayData](ArrayType(DoubleType), nullResult = true) {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val norms: Array[Array[Double]] =
    planes.map(_.map(p => math.sqrt(p.map(x => x * x).sum)))
  @transient private lazy val totalKeys: Int =
    planes.map(hp => 1 + math.min(math.max(0, multiProbe), hp.length)).sum

  def compute(v: ArrayData): ArrayData = {
    // one prescan instead of a per-plane per-slot branch: the dot
    // loops below re-read every slot tables×planes times
    var s = 0
    while (s < v.numElements()) {
      if (v.isNullAt(s)) return null
      s += 1
    }
    val out = new Array[Long](totalKeys)
    var o = 0
    var t = 0
    while (t < planes.length) {
      val hp = planes(t)
      val np = hp.length
      val tag = t.toLong << 56
      val k = math.min(math.max(0, multiProbe), np)
      // selection buffer of the k smallest margins, ascending; ties
      // keep the earlier plane index (strict-< insertion)
      val bm = new Array[Double](math.max(k, 1))
      val bi = new Array[Int](math.max(k, 1))
      var filled = 0
      var bucket = 0L
      var i = 0
      while (i < np) {
        val p = hp(i)
        if (v.numElements() != p.length)
          throw new IllegalArgumentException(
            s"lsh_keys dimension mismatch: vector ${v.numElements()} vs plane ${p.length}")
        var acc = 0.0
        var j = 0
        while (j < p.length) { acc += v.getDouble(j) * p(j); j += 1 }
        if (acc > 0) bucket |= 1L << i
        if (k > 0) {
          val m = math.abs(acc) / norms(t)(i)
          var pos = filled
          while (pos > 0 && m < bm(pos - 1)) pos -= 1
          if (pos < k) {
            var q = math.min(filled, k - 1)
            while (q > pos) { bm(q) = bm(q - 1); bi(q) = bi(q - 1); q -= 1 }
            bm(pos) = m
            bi(pos) = i
            if (filled < k) filled += 1
          }
        }
        i += 1
      }
      out(o) = bucket | tag
      o += 1
      var f = 0
      while (f < filled) {
        out(o) = (bucket ^ (1L << bi(f))) | tag
        o += 1
        f += 1
      }
      t += 1
    }
    new GenericArrayData(out)
  }

  override def nullable: Boolean = true

  override protected def withNewChildInternal(newChild: Expression): LshKeys =
    copy(child = newChild)

  override def prettyName: String = "lsh_keys"
}

object LshKeys {
  /** Column API: the flattened key array (base keys, plus flip keys
    * when `multiProbe` > 0) — explode it to get one (bucket) row per
    * probe key. */
  def keys(v: Column, planes: Seq[Array[Array[Double]]], multiProbe: Int): Column =
    ColumnBridge.column(LshKeys(ColumnBridge.expression(v), planes.toArray, multiProbe))
}

/** The `n` IVF cells closest to a double vector — indices of the `n`
  * largest centroid dot products, descending (ties keep the lower
  * centroid index, matching the stable `array_sort` chain this
  * replaces), in ONE primitive pass per row. The replaced expression
  * sorted an nlist-element struct array with an interpreted lambda
  * comparator — per CORPUS row on the IVF assignment side. Same
  * dimension-mismatch and null-element contracts as [[LshKeys]]:
  * a null slot in a parquet-read embedding yields NULL for the row. */
case class IvfCells(child: Expression,
    centroids: Array[Array[Double]], n: Int)
    extends UnaryKernel[ArrayData, ArrayData](ArrayType(DoubleType), nullResult = true) {

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)

  def compute(v: ArrayData): ArrayData = {
    var s = 0
    while (s < v.numElements()) {
      if (v.isNullAt(s)) return null
      s += 1
    }
    val k = math.min(math.max(1, n), centroids.length)
    // selection buffer of the k LARGEST dots, descending; ties keep
    // the earlier centroid index (strict-> insertion)
    val bs = new Array[Double](k)
    val bi = new Array[Int](k)
    var filled = 0
    var i = 0
    while (i < centroids.length) {
      val c = centroids(i)
      if (v.numElements() != c.length)
        throw new IllegalArgumentException(
          s"ivf_cells dimension mismatch: vector ${v.numElements()} vs centroid ${c.length}")
      var acc = 0.0
      var j = 0
      while (j < c.length) { acc += v.getDouble(j) * c(j); j += 1 }
      var pos = filled
      while (pos > 0 && acc > bs(pos - 1)) pos -= 1
      if (pos < k) {
        var q = math.min(filled, k - 1)
        while (q > pos) { bs(q) = bs(q - 1); bi(q) = bi(q - 1); q -= 1 }
        bs(pos) = acc
        bi(pos) = i
        if (filled < k) filled += 1
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(bi, filled).asInstanceOf[Array[Int]])
  }

  override def nullable: Boolean = true

  override protected def withNewChildInternal(newChild: Expression): IvfCells =
    copy(child = newChild)

  override def prettyName: String = "ivf_cells"
}

object IvfCells {
  /** Column API: the `n` closest cell ids, best first. */
  def cells(v: Column, centroids: Array[Array[Double]], n: Int): Column =
    ColumnBridge.column(IvfCells(ColumnBridge.expression(v), centroids, n))
}

/** ⟨unit(v), c_i⟩ for ALL `centroids` as one array<double>, in one
  * primitive pass per row — the coarse term of the IVF-PQ score
  * decomposition ⟨q,v⟩ ≈ ⟨unit(q), c_cell⟩ + ADC(residual). Two
  * contracts matter here: (1) the vector is normalized by ITS OWN
  * norm only — dividing by ‖c_i‖ (i.e. cosine) would silently scale
  * each cell's score when a caller supplies non-unit centroids,
  * biasing the shortlist, because [[PqResidualCodes]]' residual
  * v − c is defined against the RAW centroid; (2) built per QUERY
  * row on the query side, one expression for all nlist cells —
  * the nlist-separate-cosine-expressions chain it replaces embedded
  * a d-element literal per centroid and at warehouse-scale nlist
  * (~√N, thousands) that catalyst tree defeats codegen. Same
  * null-element / dimension-mismatch contracts as [[IvfCells]];
  * a zero-norm vector yields NULL (no unit direction exists). */
case class CentroidDots(child: Expression,
    centroids: Array[Array[Double]])
    extends UnaryKernel[ArrayData, ArrayData](ArrayType(DoubleType), nullResult = true) {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  def compute(v: ArrayData): ArrayData = {
    var s = 0
    var ss = 0.0
    while (s < v.numElements()) {
      if (v.isNullAt(s)) return null
      val x = v.getDouble(s)
      ss += x * x
      s += 1
    }
    if (ss == 0.0) return null
    val inv = 1.0 / math.sqrt(ss)
    val out = new Array[Double](centroids.length)
    var i = 0
    while (i < centroids.length) {
      val c = centroids(i)
      if (v.numElements() != c.length)
        throw new IllegalArgumentException(
          s"centroid_dots dimension mismatch: vector ${v.numElements()} vs centroid ${c.length}")
      var acc = 0.0
      var j = 0
      while (j < c.length) { acc += v.getDouble(j) * c(j); j += 1 }
      out(i) = acc * inv
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullable: Boolean = true

  override protected def withNewChildInternal(newChild: Expression): CentroidDots =
    copy(child = newChild)

  override def prettyName: String = "centroid_dots"
}

object CentroidDots {
  /** Column API: ⟨unit(v), c_i⟩ for every centroid, index-aligned. */
  def dots(v: Column, centroids: Array[Array[Double]]): Column =
    ColumnBridge.column(CentroidDots(ColumnBridge.expression(v), centroids))
}
