package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Number of elements of an array<long> that MIGHT be members of a
  * pre-built Bloom filter — the probe side of Bloom-filter
  * decontamination ([[graft.operators.TextAnalysis.decontaminate]]).
  * The filter is built once from the benchmark/eval side (which is
  * small by nature) and rides to every executor as part of this
  * expression — a few MB of bitset replacing a corpus-sized join: at
  * 100 TB the corpus n-grams never shuffle, each document is scored
  * in place during the scan. Bloom semantics: zero false negatives
  * (every true member reports a hit), false-positive rate bounded by
  * the filter's `fpp`. A null element yields NULL for the row (the
  * [[SortedJaccard]] contract). */
case class BloomLongHits(child: Expression, bloom: BloomFilter)
    extends UnaryKernel[ArrayData, Any](ArrayType(LongType), nullResult = true) {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  def compute(v: ArrayData): Any = {
    val n = v.numElements()
    var hits = 0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      if (bloom.mightContainLong(v.getLong(i))) hits += 1
      i += 1
    }
    hits
  }

  override protected def withNewChildInternal(newChild: Expression): BloomLongHits =
    copy(child = newChild)

  override def prettyName: String = "bloom_long_hits"
}

object BloomLongHits {
  /** Column API: count of array elements hitting the filter. */
  def hits(v: Column, bloom: BloomFilter): Column =
    ColumnBridge.column(BloomLongHits(ColumnBridge.expression(v), bloom))
}
