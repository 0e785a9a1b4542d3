package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}

/** All value-ordered pairs of an id array, as ONE native kernel — the
  * pair-generation step of the winnow overlap bucket fold.
  *
  * Replaces the Column-composed double explode + `a < b` filter, which
  * materializes every ORDERED position pair (n² generated rows per
  * n-doc bucket, the first explode additionally copying the whole
  * bucket array into each of its n output rows) and then discards half.
  * This kernel walks the unordered position pairs once — n(n−1)/2
  * comparisons, no array copies, no discarded rows — and emits exactly
  * the multiset the explode+filter shape produced: for every position
  * pair {i, j}, (min, max) by VALUE when the values differ, nothing
  * when they are equal (a < b is false both ways), and NULL elements
  * never pair (NULL compares to nothing — the filter dropped those
  * rows). Output order is row-major (i, then j) — consumers aggregate,
  * so order never surfaces.
  *
  * The emitted array is bounded by the caller's bucket bound (the
  * overlap fold collects at most maxDocFreq docs per fingerprint —
  * the stop-fingerprint guard), so the per-row allocation is
  * ≤ maxDocFreq²/2 structs. */
case class OrderedPairs(child: Expression)
    extends UnaryKernel[ArrayData, ArrayData](ArrayType(LongType)) {

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val vals = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) { // drop NULL slots: they can never satisfy a < b
      if (!arr.isNullAt(i)) { vals(m) = arr.getLong(i); m += 1 }
      i += 1
    }
    val out = new Array[Any](m * (m - 1) / 2 max 0)
    var k = 0
    i = 0
    while (i < m) {
      val a = vals(i)
      var j = i + 1
      while (j < m) {
        val b = vals(j)
        if (a < b) { out(k) = new GenericInternalRow(Array[Any](a, b)); k += 1 }
        else if (b < a) { out(k) = new GenericInternalRow(Array[Any](b, a)); k += 1 }
        j += 1
      }
      i += 1
    }
    // equal-value pairs emit nothing, so the array may be short — slice
    new GenericArrayData(if (k == out.length) out else out.take(k))
  }

  override protected def withNewChildInternal(newChild: Expression): OrderedPairs =
    copy(child = newChild)

  override def prettyName: String = "ordered_pairs"
}

object PairExprs {
  /** Column API: all (a, b) value-ordered pairs of an array<bigint>
    * — see [[OrderedPairs]] for the exact explode+filter equivalence. */
  def orderedPairs(ids: Column): Column =
    ColumnBridge.column(OrderedPairs(ColumnBridge.expression(ids)))
}
