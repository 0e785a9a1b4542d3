package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Importance resampling for domain-targeted data selection — the
  * DSIR recipe (Xie et al., "Data Selection for Language Models via
  * Importance Resampling", NeurIPS 2023): fit cheap bag-of-words
  * distributions over a TARGET corpus (the domain you want more of)
  * and the RAW corpus, score every raw document by its log importance
  * weight log p_target(doc) − log q_raw(doc), then sample without
  * replacement proportionally to the weights via the Gumbel top-k
  * trick (Kool et al., ICML 2019: adding independent Gumbel noise to
  * log-weights and taking the k largest IS weighted sampling without
  * replacement). Not a reference operator: part of the training-data
  * layer this engine adds on top of the sparsity surface.
  *
  * Follows the repo's trainer discipline ([[LanguageModel.train]],
  * [[QualityModel]]): TRAINING is three hash aggregations whose
  * output is bounded by the closed alphabet (top-`vocabSize` tokens +
  * `<unk>` — at most V+1 keys regardless of corpus size, so the
  * driver-side collect is model-sized, never corpus-sized); SCORING
  * is one shuffle-free codegen map stage (the frozen per-token
  * log-ratios ride the plan as a literal map, each document folds its
  * own token array); SELECTION is `orderBy().limit(k)` — Spark plans
  * TakeOrderedAndProject (per-partition partial top-k + an O(k·parts)
  * driver merge), never a global sort, so the 100 TB shape is scan +
  * bounded merge.
  *
  * Determinism: the Gumbel draw derives from md5(seed ‖ key) exactly
  * like [[Sampling.hashDraw]] — u = (first-8-hex-chars + 0.5) / 2^32
  * ∈ (0,1), g = −ln(−ln u) — a pure function of the key, so the
  * sample survives re-runs, retries, and repartitioning, and the
  * DuckDB oracle rebuilds the identical draw.
  */
object ImportanceSampling {

  /** Frozen importance model: the raw-corpus top-`vocabSize` vocab and
    * the per-mapped-token log-probability ratio
    * r(w) = ln p_target(w) − ln q_raw(w) under add-α smoothing over
    * the closed alphabet of size S = |vocab| + 1 (`<unk>` absorbs
    * OOV on both sides, so both distributions share one support). */
  final case class RatioModel(
      vocab: Seq[String],
      ratio: Map[String, Double],
      alphabetSize: Int,
      alpha: Double)

  /** Train the ratio model: vocab over RAW (count-desc/token
    * tie-break — the q side defines the support, per DSIR), then one
    * aggregation counting each mapped token on both sides at once
    * (target ⊆ raw is fine; the sides are independent distributions).
    * Every collect is bounded by the closed alphabet. */
  def train(raw: DataFrame, isTarget: Column, textCol: String,
      vocabSize: Int = 64, alpha: Double = 0.5): RatioModel = {
    val t = Dedup.tokens(col(textCol))
    // NOT spread (r21, measured): the spread repartitioned the TEXT
    // payload and both passes re-executed that exchange — interleaved
    // A/B at sf0.1 read ~1.05 s with the spread vs ~0.6 s without.
    // See LanguageModel.train for the same finding and the contrast
    // with the kernels where the spread does win.
    val rawS = raw
    val vocab = rawS.select(explode(t).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(vocabSize)
      .collect().map(_.getString(0)).toSeq
    val counts = rawS
      .select(isTarget.as("is_t"), explode(graft.functions.LmExprs
        .mappedKeys(col(textCol), vocab.toArray, withBigrams = false)).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("cr"),
        sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val s = vocab.size + 1
    val nr = counts.valuesIterator.map(_._1).sum.toDouble
    val nt = counts.valuesIterator.map(_._2).sum.toDouble
    // every closed-alphabet token gets a ratio, including tokens the
    // fixture never produced mapped (α keeps both logs finite)
    val ratio = (vocab :+ LanguageModel.Unk).map { w =>
      val (cr, ct) = counts.getOrElse(w, (0L, 0L))
      w -> (math.log((ct + alpha) / (nt + alpha * s)) -
        math.log((cr + alpha) / (nr + alpha * s)))
    }.toMap
    RatioModel(vocab, ratio, s, alpha)
  }

  /** Per-document log importance weight under the frozen model:
    * (id, n_tokens, log_weight) with log_weight = Σ r(mapped tok) —
    * a deterministic left-to-right fold over the document's own token
    * array. One shuffle-free map stage through the native
    * [[graft.functions.LmExprs.ratioSum]] kernel — O(tokens) per
    * document with hashed lookups inside whole-stage codegen (the
    * Column-composed `aggregate` + literal-map `element_at`
    * formulation evaluates interpreted and scans the (V+1)-entry map
    * per token; it remains the executable reference the kernel is
    * spec-pinned against). */
  def logWeights(docs: DataFrame, idCol: String, textCol: String,
      m: RatioModel): DataFrame =
    docs.select(col(idCol),
      size(Dedup.tokens(col(textCol))).cast("long").as("n_tokens"),
      graft.functions.LmExprs.ratioSum(col(textCol), m.vocab.toArray,
        m.ratio.toArray).as("log_weight"))

  /** The Gumbel perturbation for `key`: g = −ln(−ln u) with
    * u = (md5-draw + 0.5) / 2^32 — deterministic in (seed, key); the
    * draw is [[Sampling.seededDrawLong]], the engine's one seeded
    * numeric-draw definition. */
  def gumbel(key: Column, seed: String): Column = {
    val draw = Sampling.seededDrawLong(key, seed).cast("double")
    -log(-log((draw + lit(0.5)) / lit(4294967296.0)))
  }

  /** Sample k documents without replacement ∝ exp(log_weight): rank
    * by log_weight + Gumbel(seed, key) descending (key ascending on
    * the measure-zero tie) and keep the k best. Plans as
    * TakeOrderedAndProject over the scoring map stage. */
  def resampleTopK(weighted: DataFrame, idCol: String, k: Int,
      seed: String): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    weighted
      .withColumn("gumbel_score", col("log_weight") + gumbel(col(idCol), seed))
      .orderBy(col("gumbel_score").desc, col(idCol))
      .limit(k)
  }
}
