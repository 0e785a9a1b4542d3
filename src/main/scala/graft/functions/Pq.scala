package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, IntegerType, StructField, StructType}

/** Product-quantization kernels (FAISS-PQ shape): a d-dim unit vector
  * is split into `m` contiguous subvectors of d/m dims; each subvector
  * is coded as the index of its nearest centroid in a per-subspace
  * codebook of `ksub` (≤256) centroids — so a whole vector becomes an
  * m-BYTE binary blob. At warehouse scale that is the hot relation:
  * m=8 bytes/vector vs d bytes for SQ8 and 8d for float64 — the scan
  * side of an ANN query streams 32× less data than the float vectors
  * at d=32, and the approximation error is bounded by per-subspace
  * k-means residuals rather than per-dimension rounding.
  *
  * Search uses ASYMMETRIC distance computation (ADC): the query stays
  * un-quantized; [[PqAdcTable]] computes, once per query row (the
  * tiny query side, collected on the driver), the dot product of each query subvector with
  * every centroid of that subspace — an array of m·ksub doubles —
  * and [[PqAdcScore]] then scores a corpus code against a query with
  * m table lookups, no float vector involved. Σ_j ⟨q_j, c_{j,code_j}⟩
  * approximates ⟨q, v⟩ = cosine, since both sides are normalized at
  * train/encode time.
  *
  * Null contracts match the other similarity kernels ([[QuantizeInt8]]
  * / [[IvfCells]]): a null or non-finite element, or a zero-norm
  * vector (no direction ⇒ cosine undefined) yields NULL for the row.
  * Dimension mismatches raise. */
object Pq {
  /** Column API: encode a double vector as an m-byte PQ code blob. */
  def codes(v: Column, codebooks: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(PqCodes(ColumnBridge.expression(v), codebooks))

  /** Column API: per-query ADC lookup table (m·ksub doubles). */
  def adcTable(qv: Column, codebooks: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(PqAdcTable(ColumnBridge.expression(qv), codebooks))

  /** Column API: ADC score of a code blob against a query table. */
  def adcScore(codes: Column, table: Column): Column =
    ColumnBridge.column(PqAdcScore(
      ColumnBridge.expression(codes), ColumnBridge.expression(table)))

  /** Column API: IVF-PQ residual encoding — struct(cell, codes) in one
    * pass (see [[PqResidualCodes]]). */
  def residualCodes(v: Column, centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(PqResidualCodes(
      ColumnBridge.expression(v), centroids, codebooks))

  /** Normalize to unit L2 norm into a fresh array; null for a
    * zero-norm or non-finite vector. */
  private[functions] def unit(v: ArrayData, dim: Int): Array[Double] = {
    if (v.numElements() != dim)
      throw new IllegalArgumentException(
        s"pq dimension mismatch: vector ${v.numElements()} vs codebook $dim")
    val out = new Array[Double](dim)
    var ss = 0.0
    var i = 0
    while (i < dim) {
      if (v.isNullAt(i)) return null
      val x = v.getDouble(i)
      if (!java.lang.Double.isFinite(x)) return null
      out(i) = x
      ss += x * x
      i += 1
    }
    if (ss == 0.0) return null
    val inv = 1.0 / math.sqrt(ss)
    i = 0
    while (i < dim) { out(i) *= inv; i += 1 }
    out
  }
}

/** PQ-encode a double vector: m bytes, byte j = argmin over the
  * subspace-j codebook of ‖unit(v)_j − c‖² (ties keep the lower
  * centroid index). One primitive pass per row. */
case class PqCodes(child: Expression,
    codebooks: Array[Array[Array[Double]]])
    extends UnaryKernel[ArrayData, Array[Byte]](ArrayType(DoubleType), nullResult = true) {

  // a code is ONE byte: more than 256 centroids per subspace would
  // silently wrap best.toByte into a wrong (and valid-looking) code
  require(codebooks.forall(_.length <= 256),
    s"pq codebooks exceed 256 centroids per subspace (max ${codebooks.map(_.length).max})")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  private val dim = codebooks.map(_.head.length).sum

  def compute(v: ArrayData): Array[Byte] = {
    val u = Pq.unit(v, dim)
    if (u == null) return null
    val m = codebooks.length
    val out = new Array[Byte](m)
    var off = 0
    var j = 0
    while (j < m) {
      val book = codebooks(j)
      val dsub = book(0).length
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < book.length) {
        val cent = book(c)
        var d2 = 0.0
        var t = 0
        while (t < dsub) {
          val diff = u(off + t) - cent(t)
          d2 += diff * diff
          t += 1
        }
        if (d2 < bestD) { bestD = d2; best = c }
        c += 1
      }
      out(j) = best.toByte
      off += dsub
      j += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): PqCodes =
    copy(child = newChild)

  override def prettyName: String = "pq_codes"
}

/** Per-query ADC table: m·ksub doubles, entry j·ksub + c =
  * ⟨unit(qv)_j, codebook_j(c)⟩. Computed once per QUERY row — the
  * query side — so the corpus-side score is m lookups. */
case class PqAdcTable(child: Expression,
    codebooks: Array[Array[Array[Double]]])
    extends UnaryKernel[ArrayData, ArrayData](ArrayType(DoubleType), nullResult = true) {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  private val dim = codebooks.map(_.head.length).sum
  private val ksub = codebooks.map(_.length).max

  def compute(v: ArrayData): ArrayData = {
    val u = Pq.unit(v, dim)
    if (u == null) return null
    val m = codebooks.length
    // one fixed stride (max ksub) so the score side can derive the
    // stride as table.length / codes.length; short books pad with
    // -inf entries no valid code can reference
    val out = Array.fill(m * ksub)(Double.NegativeInfinity)
    var off = 0
    var j = 0
    while (j < m) {
      val book = codebooks(j)
      val dsub = book(0).length
      var c = 0
      while (c < book.length) {
        val cent = book(c)
        var acc = 0.0
        var t = 0
        while (t < dsub) { acc += u(off + t) * cent(t); t += 1 }
        out(j * ksub + c) = acc
        c += 1
      }
      off += dsub
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): PqAdcTable =
    copy(child = newChild)

  override def prettyName: String = "pq_adc_table"
}

/** ADC score: Σ_j table[j·ksub + code_j] where ksub = |table| / |codes|
  * — m array lookups per (corpus row, query) pair, the PQ scan
  * kernel. Raises when the table length is not a multiple of the code
  * length (mismatched m). */
case class PqAdcScore(left: Expression, right: Expression)
    extends BinaryKernel[Array[Byte], ArrayData, Double](BinaryType, ArrayType(DoubleType)) {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  def compute(codes: Array[Byte], table: ArrayData): Double = {
    val m = codes.length
    val n = table.numElements()
    if (m == 0 || n % m != 0)
      throw new IllegalArgumentException(
        s"pq_adc_score length mismatch: $n table entries vs $m codes")
    val ksub = n / m
    var acc = 0.0
    var j = 0
    while (j < m) {
      acc += table.getDouble(j * ksub + (codes(j) & 0xFF))
      j += 1
    }
    acc
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PqAdcScore = copy(left = newLeft, right = newRight)

  override def prettyName: String = "pq_adc_score"
}

/** IVF-PQ residual encoding (FAISS IndexIVFPQ shape) in ONE primitive
  * pass per corpus row: unit-normalize the vector, assign it to its
  * nearest coarse centroid (argmax dot — ties keep the lower cell,
  * the [[IvfCells]] contract), subtract that centroid, and PQ-encode
  * the RESIDUAL against residual-trained codebooks. Output is
  * struct(cell INT, codes BINARY) — computing cell and codes together
  * avoids re-running the nlist centroid dots a separate [[IvfCells]]
  * assignment would cost.
  *
  * Residual encoding is what makes IVF-PQ beat flat PQ at equal code
  * size: within a cell the residuals span a far smaller region than
  * the raw vectors, so the same ksub centroids quantize them with much
  * lower error. Search decomposes ⟨q, v⟩ ≈ ⟨q, c_cell⟩ + ⟨q, r̂⟩:
  * the first term is one scalar per probed cell, the second is the
  * standard cell-INdependent ADC table ([[PqAdcTable]] built from the
  * raw query against the residual codebooks) — so the existing ADC
  * kernels serve unchanged.
  *
  * Null contract matches the PQ family: null/non-finite element or a
  * zero-norm vector → NULL row. Dimension mismatches raise. */
case class PqResidualCodes(child: Expression,
    centroids: Array[Array[Double]],
    codebooks: Array[Array[Array[Double]]])
    extends UnaryKernel[ArrayData, InternalRow](ArrayType(DoubleType), nullResult = true) {

  require(centroids.nonEmpty, "ivf-pq needs at least one centroid")
  require(codebooks.forall(_.length <= 256),
    s"pq codebooks exceed 256 centroids per subspace (max ${codebooks.map(_.length).max})")

  override def dataType: DataType = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("codes", BinaryType, nullable = false)))
  override def nullable: Boolean = true

  private val dim = codebooks.map(_.head.length).sum

  def compute(v: ArrayData): InternalRow = {
    val u = Pq.unit(v, dim)
    if (u == null) return null
    // coarse assignment: argmax centroid dot, ties keep the lower cell
    var cell = 0
    var bestS = Double.NegativeInfinity
    var i = 0
    while (i < centroids.length) {
      val c = centroids(i)
      if (c.length != dim)
        throw new IllegalArgumentException(
          s"ivf_pq dimension mismatch: vector $dim vs centroid ${c.length}")
      var acc = 0.0
      var j = 0
      while (j < dim) { acc += u(j) * c(j); j += 1 }
      if (acc > bestS) { bestS = acc; cell = i }
      i += 1
    }
    // residual in place (u is a fresh copy from Pq.unit)
    val cent = centroids(cell)
    i = 0
    while (i < dim) { u(i) -= cent(i); i += 1 }
    // PQ-encode the residual: per-subspace argmin ‖r_j − c‖², ties
    // keep the lower centroid index (the PqCodes contract)
    val m = codebooks.length
    val out = new Array[Byte](m)
    var off = 0
    var j = 0
    while (j < m) {
      val book = codebooks(j)
      val dsub = book(0).length
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < book.length) {
        val bc = book(c)
        var d2 = 0.0
        var t = 0
        while (t < dsub) {
          val diff = u(off + t) - bc(t)
          d2 += diff * diff
          t += 1
        }
        if (d2 < bestD) { bestD = d2; best = c }
        c += 1
      }
      out(j) = best.toByte
      off += dsub
      j += 1
    }
    new GenericInternalRow(Array[Any](cell, out))
  }

  override protected def withNewChildInternal(newChild: Expression): PqResidualCodes =
    copy(child = newChild)

  override def prettyName: String = "pq_residual_codes"
}
