package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, BinaryType, BooleanType, DataType, DoubleType}

/** Symmetric per-vector int8 scalar quantization (SQ8) of a double
  * vector: byte i = round(x_i * 127 / max|x|), the standard
  * memory-footprint path for billion-vector ANN. The codes are a
  * BINARY blob (one signed byte per dimension), not an array<byte>:
  * parquet stores an array element as a repeated INT32 while a binary
  * value is one contiguous BYTE_ARRAY, so the persisted index really
  * is ~8× smaller than float64 on disk as well as in memory. Cosine
  * under symmetric quantization is SCALE-FREE (the per-vector scale
  * cancels in q·q′/‖q‖‖q′‖), so the codes alone support approximate
  * scoring; exact re-ranking fetches full vectors for the few
  * candidates only ([[graft.operators.Similarity.AnnIndex]]).
  *
  * Deterministic: rounding is Math.round's half-toward-+infinity
  * (asymmetric for negatives: a scaled -63.5 codes to -63, not -64),
  * all-zero vectors quantize to all zeros, and a null OR NON-FINITE
  * element yields NULL for the row (the [[SortedJaccard]] contract —
  * parquet-read embeddings carry containsNull=true, and a NaN/Inf
  * slot has no meaningful int8 code: silently mapping NaN to 0 would
  * let a garbage vector rank normally in the quantized scan while
  * the exact path scores it NaN). One primitive pass per row. */
case class QuantizeInt8(child: Expression)
    extends UnaryKernel[ArrayData, Array[Byte]](ArrayType(DoubleType), nullResult = true) {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  def compute(v: ArrayData): Array[Byte] = {
    val n = v.numElements()
    var absMax = 0.0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      val x = v.getDouble(i)
      if (!java.lang.Double.isFinite(x)) return null
      val a = math.abs(x)
      if (a > absMax) absMax = a
      i += 1
    }
    val out = new Array[Byte](n)
    if (absMax > 0.0) {
      val s = 127.0 / absMax
      i = 0
      while (i < n) {
        out(i) = Math.round(v.getDouble(i) * s).toByte
        i += 1
      }
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): QuantizeInt8 =
    copy(child = newChild)

  override def prettyName: String = "quantize_int8"
}

/** Cosine similarity of two SQ8 code blobs: Σ qa·qb / (‖qa‖·‖qb‖)
  * over the signed bytes — an integer dot product plus two integer
  * norms in one primitive loop over contiguous byte arrays (the
  * per-vector quantization scales cancel, see [[QuantizeInt8]]).
  * NULL when either norm is zero (cosine undefined — the all-zero
  * vector); raises on a length mismatch like [[DotProduct]]. The
  * single sqrt of the norm product makes self-cosine exactly 1.0. */
case class QuantizedCosine(left: Expression, right: Expression)
    extends BinaryKernel[Array[Byte], Array[Byte], Any](
      BinaryType, BinaryType, nullResult = true) {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  def compute(a: Array[Byte], b: Array[Byte]): Any = {
    val n = a.length
    if (b.length != n)
      throw new IllegalArgumentException(
        s"quantized_cosine length mismatch: $n vs ${b.length}")
    var dot = 0L
    var na = 0L
    var nb = 0L
    var i = 0
    while (i < n) {
      val x = a(i).toLong
      val y = b(i).toLong
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    // single sqrt of the norm product: self-cosine is exactly 1.0
    // (na² is an exact double for any realistic dim). No long
    // overflow: na·nb ≤ (127²·n)² stays under 2⁶³ for n up to ~20M.
    if (na == 0L || nb == 0L) null
    else dot.toDouble / math.sqrt(na.toDouble * nb.toDouble)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QuantizedCosine =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "quantized_cosine"
}

/** TRUE iff every element of an array<double> is non-null and finite
  * — the usable-vector predicate of the quantizer trainers' sample
  * scans (a corpus-sized path: an interpreted `forall(...)` lambda
  * here would break the scan's whole-stage-codegen span). One
  * primitive pass. */
case class AllFinite(child: Expression)
    extends UnaryKernel[ArrayData, Boolean](ArrayType(DoubleType)) {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true

  def compute(v: ArrayData): Boolean = {
    val n = v.numElements()
    var i = 0
    while (i < n) {
      if (v.isNullAt(i) || !java.lang.Double.isFinite(v.getDouble(i)))
        return false
      i += 1
    }
    true
  }

  override protected def withNewChildInternal(newChild: Expression): AllFinite =
    copy(child = newChild)

  override def prettyName: String = "all_finite"
}

object Quantize {
  /** Column API: int8 code blob (binary) of an array<double> vector. */
  def int8(v: Column): Column =
    ColumnBridge.column(QuantizeInt8(ColumnBridge.expression(v)))

  /** Column API: cosine of two int8 code blobs. */
  def cosine(a: Column, b: Column): Column =
    ColumnBridge.column(QuantizedCosine(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column API: every element non-null and finite. */
  def allFinite(v: Column): Column =
    ColumnBridge.column(AllFinite(ColumnBridge.expression(v)))
}
