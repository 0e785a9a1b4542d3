package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding tokenization under a FROZEN merge list (the
  * Sennrich et al. 2016 scheme as popularized by GPT-2's tokenizer):
  * each whitespace word becomes its character symbols plus a
  * word-final `</w>` marker as its own symbol, then the learned
  * merges are applied greedily — always the pair with the LOWEST
  * merge rank next, repeated until no adjacent pair is mergeable.
  * Training happens on the driver over a bounded sample
  * ([[graft.operators.TextAnalysis.trainBpeMerges]] — the
  * quantizer-trainer discipline: train small, freeze, apply
  * distributed); this expression is the corpus-sized apply side, one
  * primitive pass per row with the rank map built once per operator
  * instance.
  *
  * "Whitespace" is the fixed ASCII class `[ \t\n\f\r]` — the SAME
  * class the trainer, the `token_count_bpe` certificates, and the
  * DuckDB oracle use (Java's `\s` and `Character.isWhitespace`
  * disagree with RE2's `\s` on code points like U+000B/U+2028, and a
  * tokenizer must split exactly like its verifier). Tokens of all
  * words concatenate in order, so the expected concatenation is
  * reconstructible from the normalized text — the round-trip
  * certificate is computed from this expression's OUTPUT by
  * independent built-ins, not asserted by the kernel itself. NULL
  * text yields NULL. */
case class BpeTokens(child: Expression, merges: Array[(String, String)])
    extends UnaryKernel[UTF8String, GenericArrayData](StringType) {

  // trained merge lists are duplicate-free by construction (a pair is
  // merged away the round it is learned), but a hand-built list (SQL
  // surface, Column API) could repeat a pair — the rank map would
  // keep the LAST occurrence and silently change greedy order vs the
  // training-order semantics, so reject duplicates outright
  require(merges.distinct.length == merges.length,
    "bpe merges must not contain duplicate pairs")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  @transient private lazy val rank: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.length * 2)
    var i = 0
    while (i < merges.length) {
      // pairs are unique by construction (a pair is merged away the
      // round it is learned); keys are "a b" — a SPACE separator is
      // collision-free because symbols come from whitespace-split
      // words and so can never contain a space themselves
      m.put(merges(i)._1 + " " + merges(i)._2, i)
      i += 1
    }
    m
  }

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'

  private def tokenizeWord(word: String,
      out: java.util.ArrayList[UTF8String]): Unit = {
    // symbols = the word's code points, plus </w> as one extra symbol
    var syms = new Array[String](word.codePointCount(0, word.length) + 1)
    var i = 0
    var n = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      syms(n) = new String(Character.toChars(cp))
      n += 1
      i += Character.charCount(cp)
    }
    syms(n) = "</w>"
    n += 1
    // greedy: merge the lowest-rank adjacent pair until none remains
    var done = false
    while (!done && n > 1) {
      var bestRank = Int.MaxValue
      var bestAt = -1
      var j = 0
      while (j < n - 1) {
        val r = rank.get(syms(j) + " " + syms(j + 1))
        if (r != null && r < bestRank) { bestRank = r; bestAt = j }
        j += 1
      }
      if (bestAt < 0) done = true
      else {
        // merge EVERY occurrence of the winning pair left to right
        // (the training replacement order), not just the first
        val a = syms(bestAt)
        val b = syms(bestAt + 1)
        val next = new Array[String](n)
        var w = 0
        var r = 0
        while (r < n) {
          if (r < n - 1 && syms(r) == a && syms(r + 1) == b) {
            next(w) = a + b; w += 1; r += 2
          } else {
            next(w) = syms(r); w += 1; r += 1
          }
        }
        syms = next
        n = w
      }
    }
    var t = 0
    while (t < n) { out.add(UTF8String.fromString(syms(t))); t += 1 }
  }

  def compute(text: UTF8String): GenericArrayData = {
    val s = text.toString
    val out = new java.util.ArrayList[UTF8String]()
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(s.charAt(i))) i += 1
      if (i > start) tokenizeWord(s.substring(start, i), out)
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): BpeTokens =
    copy(child = newChild)

  override def prettyName: String = "bpe_tokens"
}

object Bpe {
  /** The ASCII whitespace class shared by the BPE kernel, trainer,
    * certificates, and oracle — as a Java/RE2-portable regex. */
  val WsClass = "[ \\t\\n\\f\\r]+"

  /** Column API: BPE tokens of a text column under frozen merges. */
  def tokens(text: Column, merges: Array[(String, String)]): Column =
    ColumnBridge.column(BpeTokens(ColumnBridge.expression(text), merges))
}
