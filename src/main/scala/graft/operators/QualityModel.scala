package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based document quality filtering — the classifier-gate stage
  * of an LLM data-curation pipeline (a trained scorer deciding which
  * documents enter the training mix, as opposed to the pure heuristic
  * gate in [[TextAnalysis.qualityScore]]).
  *
  * Follows the repo's trainer discipline ([[Similarity.trainIvfCentroids]],
  * [[TextAnalysis.trainBpeMerges]]): TRAIN on a bounded, deterministic,
  * hash-ordered sample on the driver (constant cost in corpus size —
  * the same 2k documents whether the corpus is 60k rows or 100 TB),
  * FREEZE the weights, APPLY distributed as pure `Column` arithmetic —
  * the scoring expression is a dot product + sigmoid over a handful of
  * per-document statistics, entirely inside whole-stage codegen: no
  * UDF, no model object on the executors, no shuffle.
  *
  * The model is logistic regression via full-batch gradient descent on
  * standardized features (fixed iteration count and learning rate, so
  * training is bit-deterministic for a given sample). Standardization
  * is folded back into the returned weights, so scoring works on raw
  * feature columns directly.
  */
object QualityModel {

  /** Frozen model: raw-feature-space weights, `score = sigmoid(bias + w·f)`. */
  final case class Weights(bias: Double, w: Array[Double]) {
    require(w.nonEmpty, "need at least one feature weight")
  }

  /** The per-document feature set, as named raw columns over the text.
    * Deliberately the vocabulary of the usual quality filters (lexical
    * diversity, stopword density, their product — the heuristic score
    * surface itself — and log length) so the learned gate and the
    * heuristic gate are comparable. */
  def featureColumns(textCol: Column): Seq[(String, Column)] = {
    val t = Dedup.tokens(textCol)
    val nTok = size(t).cast("double")
    // stopword count via a lookahead regex, NOT size(filter(t, isin)):
    // the higher-order ArrayFilter is CodegenFallback and drags the
    // whole scoring Project out of whole-stage codegen; regexp_count
    // keeps it in (spec-pinned equal to the HOF count, and pinned
    // in-codegen). The lookahead (?= |$) lets consecutive stopwords
    // ("of a") both match without consuming the shared delimiter.
    val stopCount =
      regexp_count(textCol, lit("(?:^| )(?:a|the|and|of|to)(?= |$)"))
        .cast("double")
    val diversity = size(array_distinct(t)).cast("double") / nTok
    val stopRatio = stopCount / nTok
    Seq(
      "f_diversity" -> diversity,
      "f_stop_ratio" -> stopRatio,
      "f_quality_surface" -> diversity * (lit(1.0) - stopRatio),
      "f_log_chars" -> log1p(length(textCol).cast("double")))
  }

  /** (id, features...) relation — one narrow map stage. */
  def features(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol) +:
      featureColumns(col(textCol)).map { case (n, c) => c.as(n) }: _*)

  /** Train logistic regression on ≤`sampleSize` rows of `labeled`,
    * drawn in xxhash64(id) order (partitioning/layout-independent —
    * the same sample no matter how the relation is filed). `labelCol`
    * must be boolean. Full-batch GD, `iters` fixed steps at rate `lr`
    * on standardized features; weights are unfolded to raw-feature
    * space before returning. */
  def train(labeled: DataFrame, idCol: String, featCols: Seq[String],
      labelCol: String, sampleSize: Int = 2000, iters: Int = 300,
      lr: Double = 1.0): Weights = {
    require(featCols.nonEmpty, "need at least one feature")
    require(sampleSize > 0 && iters > 0 && lr > 0, "bad training params")
    val rows = labeled
      .select((col(idCol) +: col(labelCol).cast("boolean") +:
        featCols.map(c => col(c).cast("double"))): _*)
      .na.drop()
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(sampleSize)
      .collect()
    require(rows.nonEmpty, "empty training sample")
    val d = featCols.length
    val n = rows.length
    val x = Array.ofDim[Double](n, d)
    val y = new Array[Double](n)
    var i = 0
    while (i < n) {
      y(i) = if (rows(i).getBoolean(1)) 1.0 else 0.0
      var j = 0
      while (j < d) { x(i)(j) = rows(i).getDouble(2 + j); j += 1 }
      i += 1
    }
    // standardize (constant features get sd=1 → weight stays 0)
    val mean = new Array[Double](d); val sd = new Array[Double](d)
    var j = 0
    while (j < d) {
      var s = 0.0; i = 0; while (i < n) { s += x(i)(j); i += 1 }
      mean(j) = s / n
      var v = 0.0; i = 0
      while (i < n) { val c = x(i)(j) - mean(j); v += c * c; i += 1 }
      sd(j) = math.sqrt(v / n); if (sd(j) == 0.0) sd(j) = 1.0
      i = 0; while (i < n) { x(i)(j) = (x(i)(j) - mean(j)) / sd(j); i += 1 }
      j += 1
    }
    val w = new Array[Double](d); var b = 0.0
    var it = 0
    while (it < iters) {
      val gw = new Array[Double](d); var gb = 0.0
      i = 0
      while (i < n) {
        var z = b; j = 0; while (j < d) { z += w(j) * x(i)(j); j += 1 }
        val err = 1.0 / (1.0 + math.exp(-z)) - y(i)
        j = 0; while (j < d) { gw(j) += err * x(i)(j); j += 1 }
        gb += err
        i += 1
      }
      j = 0; while (j < d) { w(j) -= lr * gw(j) / n; j += 1 }
      b -= lr * gb / n
      it += 1
    }
    // unfold standardization: w_raw = w/sd, b_raw = b - Σ w·mean/sd
    val wRaw = new Array[Double](d); var bRaw = b
    j = 0
    while (j < d) { wRaw(j) = w(j) / sd(j); bRaw -= w(j) * mean(j) / sd(j); j += 1 }
    Weights(bRaw, wRaw)
  }

  /** The frozen model's linear term `bias + w·f` as a Column. */
  def linearColumn(weights: Weights, feats: Seq[Column]): Column = {
    require(feats.length == weights.w.length,
      s"model has ${weights.w.length} weights, got ${feats.length} features")
    feats.zip(weights.w).foldLeft(lit(weights.bias)) {
      case (acc, (f, wj)) => acc + f * lit(wj)
    }
  }

  /** (id, score, predicted_good): sigmoid score in (0,1) plus the hard
    * decision — taken on the linear term's sign, not on `score >= 0.5`,
    * so the boundary never depends on exp() rounding. */
  def score(docs: DataFrame, idCol: String, textCol: String,
      weights: Weights): DataFrame = {
    val feats = featureColumns(col(textCol)).map(_._2)
    val z = linearColumn(weights, feats)
    docs.select(col(idCol),
      (lit(1.0) / (lit(1.0) + exp(-z))).as("score"),
      (z >= 0).as("predicted_good"))
  }
}
