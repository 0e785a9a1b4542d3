package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-document mean negative log-likelihood under a FROZEN bigram
  * model (see [[graft.operators.LanguageModel]]) — the corpus-sized
  * apply side of the CCNet-style fluency filter as ONE primitive pass
  * per row with HASHED count lookups.
  *
  * Exists because the Column-composed formulation (literal maps +
  * `element_at`) evaluates each lookup as a linear scan of the
  * ~(V+1)² bigram map — O(tokens × model) per document; this kernel
  * is O(tokens) with the same value to the bit: identical
  * tokenization (`split(text, " ")` semantics, trailing empties
  * kept), identical OOV→<unk> mapping, identical left-to-right
  * summation order, identical HALF_UP rounding to 6. The
  * `LanguageModel` spec pins a hand-computed toy model and the DuckDB
  * oracle replays the fold, so a divergence in any of those contracts
  * turns a gate red.
  *
  * NULL text → NULL; fewer than two tokens (no bigram evidence) →
  * NULL, matching the Column version's `when(n1 === 0, null)`. */
case class BigramNll(child: Expression, vocab: Array[String],
    unigrams: Array[(String, Long)], bigrams: Array[(String, Long)],
    alphabetSize: Int, alpha: Double)
    extends UnaryKernel[UTF8String, Any](StringType, nullResult = true) {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  @transient private lazy val vocabSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](vocab.length * 2)
    vocab.foreach(s.add)
    s
  }
  @transient private lazy val uniMap: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](unigrams.length * 2)
    unigrams.foreach { case (k, v) => m.put(k, v) }
    m
  }
  @transient private lazy val bigMap: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](bigrams.length * 2)
    bigrams.foreach { case (k, v) => m.put(k, v) }
    m
  }

  private val unk = "<unk>"

  private def mapTok(w: String): String = if (vocabSet.contains(w)) w else unk

  private def uniCount(w: String): Double = {
    val c = uniMap.get(w)
    if (c == null) 0.0 else c.doubleValue()
  }

  private def bigCount(a: String, b: String): Double = {
    val c = bigMap.get(a + " " + b)
    if (c == null) 0.0 else c.doubleValue()
  }

  // alpha·S precomputed once, exactly as the Column version's Scala
  // constant `lm.alpha * lm.alphabetSize`
  private val denomAdd: Double = alpha * alphabetSize

  def compute(text: UTF8String): Any = {
    // split on the single-space regex with trailing empties kept —
    // the exact `split(text, " ")` contract the trainer and the
    // DuckDB string_split oracle share
    val toks = text.toString.split(" ", -1)
    val n1 = toks.length - 1
    if (n1 <= 0) return null
    var acc = 0.0
    var prev = mapTok(toks(0))
    var i = 1
    while (i <= n1) {
      val cur = mapTok(toks(i))
      acc += Math.log((bigCount(prev, cur) + alpha) / (uniCount(prev) + denomAdd))
      prev = cur
      i += 1
    }
    val nll = -acc / n1
    java.math.BigDecimal.valueOf(nll)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  override protected def withNewChildInternal(newChild: Expression): BigramNll =
    copy(child = newChild)

  override def prettyName: String = "bigram_nll"
}

/** Per-document sum of FROZEN per-token log-ratio weights (see
  * [[graft.operators.ImportanceSampling]]) — the corpus-sized apply
  * side of DSIR importance scoring as one primitive pass per row with
  * a HASHED ratio lookup.
  *
  * Same motivation and same contracts as [[BigramNll]]: the
  * Column-composed formulation (`transform` OOV-map + `aggregate`
  * fold over a literal map) evaluates interpreted (higher-order
  * functions are CodegenFallback) and each `element_at` linearly
  * scans the (V+1)-entry map — O(tokens × V) per document; this
  * kernel is O(tokens) inside whole-stage codegen with the value
  * identical to the bit: identical `split(text, " ")` tokenization
  * (trailing empties kept), identical OOV→<unk> mapping, identical
  * left-to-right summation order. NULL text → NULL; a token whose
  * mapped key is missing from the ratio map → NULL (mirroring the
  * Column fold's `acc + NULL` absorption — unreachable when the map
  * covers vocab ∪ <unk>, but the contract must match). */
case class RatioSum(child: Expression, vocab: Array[String],
    ratio: Array[(String, Double)])
    extends UnaryKernel[UTF8String, Any](StringType, nullResult = true) {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  @transient private lazy val vocabSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](vocab.length * 2)
    vocab.foreach(s.add)
    s
  }
  @transient private lazy val ratioMap: java.util.HashMap[String, java.lang.Double] = {
    val m = new java.util.HashMap[String, java.lang.Double](ratio.length * 2)
    ratio.foreach { case (k, v) => m.put(k, v) }
    m
  }

  private val unk = "<unk>"

  def compute(text: UTF8String): Any = {
    val toks = text.toString.split(" ", -1)
    var acc = 0.0
    var i = 0
    while (i < toks.length) {
      val w = toks(i)
      val r = ratioMap.get(if (vocabSet.contains(w)) w else unk)
      if (r == null) return null
      acc += r.doubleValue()
      i += 1
    }
    acc
  }

  override protected def withNewChildInternal(newChild: Expression): RatioSum =
    copy(child = newChild)

  override def prettyName: String = "ratio_sum"
}

/** OOV-mapped token keys for the LM / DSIR TRAINING passes — the
  * corpus-sized map side of model training as ONE primitive pass per
  * row with a HASHED vocab probe.
  *
  * Replaces the Column-composed chain `transform(split(text, " "),
  * w => when(array_contains(v, w), w).otherwise("<unk>"))` (plus,
  * with `withBigrams`, the `concat(m, zip_with(slice, slice, ..))`
  * bigram-key append): higher-order functions are CodegenFallback
  * (interpreted per row) and `array_contains` on the V-element
  * literal is a linear scan — O(tokens × V) per document; this kernel
  * is O(tokens) inside whole-stage codegen with the SAME value to the
  * bit: identical `split(text, " ")` tokenization (trailing empties
  * kept), identical OOV→<unk> mapping, and under `withBigrams` the
  * identical `m ++ bigramKeys(m)` layout — the n mapped unigrams in
  * token order, then the max(n−1, 0) adjacent "a b" pairs in order
  * (a bigram key contains the split space, a token cannot, so the
  * trainer's count partition stays exact). NULL text → NULL; the
  * emitted array never contains nulls. The `LanguageModel` /
  * `ImportanceSampling` golden specs pin hand-computed models and the
  * DuckDB oracle replays the counts, so a divergence in any of those
  * contracts turns a gate red. */
case class MappedKeys(child: Expression, vocab: Array[String],
    withBigrams: Boolean)
    extends UnaryKernel[UTF8String, ArrayData](StringType) {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  @transient private lazy val vocabSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](vocab.length * 2)
    vocab.foreach(s.add)
    s
  }

  private val unk = "<unk>"

  def compute(text: UTF8String): ArrayData = {
    val toks = text.toString.split(" ", -1)
    val n = toks.length
    var i = 0
    while (i < n) {
      if (!vocabSet.contains(toks(i))) toks(i) = unk
      i += 1
    }
    val out = new Array[Any](if (withBigrams) n + math.max(n - 1, 0) else n)
    i = 0
    while (i < n) { out(i) = UTF8String.fromString(toks(i)); i += 1 }
    if (withBigrams) {
      var j = 0
      while (j < n - 1) {
        out(n + j) = UTF8String.fromString(toks(j) + " " + toks(j + 1))
        j += 1
      }
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): MappedKeys =
    copy(child = newChild)

  override def prettyName: String = "mapped_keys"
}

object LmExprs {
  /** Column API: OOV-mapped tokens of `text` (token order), plus —
    * when `withBigrams` — the adjacent mapped "a b" bigram keys
    * appended after them. */
  def mappedKeys(text: Column, vocab: Array[String],
      withBigrams: Boolean): Column =
    ColumnBridge.column(MappedKeys(ColumnBridge.expression(text),
      vocab, withBigrams))

  /** Column API: mean negative log-likelihood of `text` under the
    * frozen bigram counts. */
  def bigramNll(text: Column, vocab: Array[String],
      unigrams: Array[(String, Long)], bigrams: Array[(String, Long)],
      alphabetSize: Int, alpha: Double): Column =
    ColumnBridge.column(BigramNll(ColumnBridge.expression(text),
      vocab, unigrams, bigrams, alphabetSize, alpha))

  /** Column API: sum of frozen log-ratio weights over `text`'s
    * OOV-mapped tokens. */
  def ratioSum(text: Column, vocab: Array[String],
      ratio: Array[(String, Double)]): Column =
    ColumnBridge.column(RatioSum(ColumnBridge.expression(text),
      vocab, ratio))
}
