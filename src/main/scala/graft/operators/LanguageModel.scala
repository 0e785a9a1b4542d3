package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bigram language-model perplexity scoring — the CCNet-style fluency
  * filter of LLM data pipelines (score every document against a small
  * LM trained on the corpus; drop the high-perplexity tail). Not a
  * reference operator: part of the training-data layer this engine
  * adds on top of the sparsity surface.
  *
  * Scale design (the quality-classifier / IVF-trainer discipline):
  *
  *  - TRAINING is two hash aggregations with map-side partials whose
  *    OUTPUT is bounded: the vocab pass keeps the top-`vocabSize`
  *    tokens (deterministic count-desc/token tie-break), and after
  *    OOV-mapping to `<unk>` the bigram alphabet is closed — at most
  *    (|vocab|+1)² keys regardless of corpus size, so the driver-side
  *    collect is model-sized, never corpus-sized.
  *  - SCORING is one codegen map stage: the frozen counts ride the
  *    plan as literal maps (`typedLit`), each document's
  *    log-probability is an `aggregate` fold over its own token
  *    array (deterministic left-to-right summation — reproducible in
  *    SQL as an ordered list fold), no UDF, no shuffle, no join.
  *
  * Smoothing is add-α over the closed mapped alphabet:
  * P(b|a) = (c(a b) + α) / (c(a) + α·S) with S = |vocab| + 1.
  */
object LanguageModel {

  val Unk = "<unk>"

  /** Frozen bigram model: top-`vocabSize` raw vocab, mapped-token
    * unigram counts (vocab ∪ <unk>), mapped bigram counts keyed
    * "a b" (tokens cannot contain the space they were split on), the
    * closed alphabet size S = |vocab| + 1, and the smoothing α. */
  final case class BigramLm(
      vocab: Seq[String],
      unigrams: Map[String, Long],
      bigrams: Map[String, Long],
      alphabetSize: Int,
      alpha: Double)

  /** Train the bigram model over `docs`. TWO distributed jobs (was
    * three): the vocab top-k, then ONE corpus pass counting mapped
    * unigrams and bigrams together — a bigram key contains a space
    * and a token cannot (tokens come from splitting on " "), so one
    * count over `m ++ bigramKeys(m)` partitions exactly back into the
    * two maps. The tokenize + OOV-map + bigram-key chain is the
    * native [[graft.functions.MappedKeys]] kernel (r21): one codegen
    * pass per document with a hashed vocab probe, replacing the
    * interpreted `transform`/`array_contains` HOF chain that cost
    * O(tokens × V) per document. Identical counts (kernel
    * spec-pinned against the Column-composed chain); every collect
    * remains bounded by the closed alphabet, not the corpus. */
  def train(docs: DataFrame, idCol: String, textCol: String,
      vocabSize: Int = 64, alpha: Double = 0.5): BigramLm = {
    val t = Dedup.tokens(col(textCol))
    // NOT spread (r21, measured): Scale.spreadForKernel here
    // repartitions the TEXT payload and both passes re-execute that
    // exchange — interleaved A/B at sf0.1 read ~2.9 s with the spread
    // vs ~1.3 s without. The per-token work is cheap enough that the
    // payload shuffle dominates; contrast token_count_bpe, where the
    // merge-loop kernel dwarfs its input shuffle and the spread wins.
    val docsS = docs
    val vocab = docsS.select(explode(t).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(vocabSize)
      .collect().map(_.getString(0)).toSeq
    val all = docsS.select(explode(graft.functions.LmExprs.mappedKeys(
        col(textCol), vocab.toArray, withBigrams = true)).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("c"))
      .collect()
    val (bg, ug) = all.partition(_.getString(0).contains(" "))
    BigramLm(vocab,
      ug.map(r => r.getString(0) -> r.getLong(1)).toMap,
      bg.map(r => r.getString(0) -> r.getLong(1)).toMap,
      vocab.size + 1, alpha)
  }

  /** Token-distribution drift between two corpus snapshots — the mix
    * monitor of a recurring ingestion pipeline (did this week's crawl
    * shift against last week's?). Returns one row per mapped token
    * (shared top-`vocabSize` vocab over BOTH snapshots, OOV→<unk>):
    * each side's probability and the token's Jensen–Shannon
    * contribution, plus the constant `js_total` (Σ terms, ln base —
    * bounded by ln 2). All rounded to 6.
    *
    * Scale shape: one union scan → one bounded hash aggregation
    * (side-conditional sums, map-side partials), totals broadcast
    * back over the (V+1)-row table — output and every join side are
    * model-sized, never corpus-sized. */
  def divergence(a: DataFrame, b: DataFrame, idCol: String, textCol: String,
      vocabSize: Int = 64): DataFrame = {
    // carry the RAW text through the union (not the pre-split array):
    // the native mapped_keys kernel tokenizes + OOV-maps in one
    // codegen pass (r21 — see MappedKeys; the transform/array_contains
    // chain evaluated interpreted at O(tokens × V) per document)
    val tagged = a.select(lit("a").as("side"), col(textCol).as("txt"))
      .unionByName(b.select(lit("b").as("side"), col(textCol).as("txt")))
    val vocab = tagged.select(explode(Dedup.tokens(col("txt"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(vocabSize)
      .collect().map(_.getString(0)).toSeq
    val counts = tagged
      .select(col("side"), explode(graft.functions.LmExprs.mappedKeys(
        col("txt"), vocab.toArray, withBigrams = false)).as("tok"))
      .groupBy(col("tok"))
      .agg(sum(when(col("side") === "a", 1L).otherwise(0L)).as("ca"),
        sum(when(col("side") === "b", 1L).otherwise(0L)).as("cb"))
      // the bounded count table feeds THREE plan legs (rows, totals,
      // js_total) — stage it or each leg re-scans the corpus
      .localCheckpoint()
    val totals = counts.agg(sum(col("ca")).as("ta"), sum(col("cb")).as("tb"))
    val probs = counts.crossJoin(broadcast(totals))
      .select(col("tok"),
        (col("ca") / col("ta")).as("p"), (col("cb") / col("tb")).as("q"))
    val m = (col("p") + col("q")) / 2
    val term = when(col("p") > 0, col("p") * log(col("p") / m) / 2).otherwise(0.0) +
      when(col("q") > 0, col("q") * log(col("q") / m) / 2).otherwise(0.0)
    val terms = probs.select(col("tok"),
      round(col("p"), 6).as("p_a"), round(col("q"), 6).as("p_b"),
      round(term, 6).as("js_term"), term.as("__t"))
    val total = terms.agg(round(sum(col("__t")), 6).as("js_total"))
    terms.drop("__t").crossJoin(broadcast(total))
  }

  /** Per-document mean negative log-likelihood under the frozen
    * model: (doc_id, n_bigrams, nll). `nll` is NULL for documents
    * with fewer than two tokens (no bigram evidence), else
    * round(−Σ ln P(bᵢ|aᵢ) / n_bigrams, 6). One shuffle-free codegen
    * map stage: the scoring kernel is the native
    * [[graft.functions.LmExprs.bigramNll]] expression — O(tokens) per
    * document with hashed count lookups (a literal-map `element_at`
    * formulation measured O(tokens × model): each lookup linearly
    * scans the ~(V+1)² map). Value-identical to the Column-composed
    * fold (spec + oracle pinned). */
  def perplexity(docs: DataFrame, idCol: String, textCol: String,
      lm: BigramLm): DataFrame = {
    val n1 = greatest(size(Dedup.tokens(col(textCol))) - 1, lit(0))
    docs.select(col(idCol),
      n1.cast("long").as("n_bigrams"),
      graft.functions.LmExprs.bigramNll(col(textCol), lm.vocab.toArray,
        lm.unigrams.toArray, lm.bigrams.toArray, lm.alphabetSize, lm.alpha)
        .as("nll"))
  }
}
