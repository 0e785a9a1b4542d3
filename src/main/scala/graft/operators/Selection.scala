package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Budget-constrained corpus selection: keep the best rows (by a score
  * column, ties broken by id) until a cost budget fills — "take the
  * highest-quality documents up to N tokens", the curation step between
  * scoring and shard export in a training pipeline.
  *
  * The defined result is the PREFIX of the (score DESC, id ASC) ranking
  * whose running cost stays ≤ budget — exactly a cumulative-sum window
  * in SQL, which is what the oracle runs. The implementation refuses
  * the global window (one total sort of the corpus through a single
  * ordering — the anti-pattern `Sampling.shuffleOrder` also avoids)
  * and computes the same prefix in two passes:
  *
  *   1. bucket the score range uniformly (`width_bucket`, a map stage)
  *      and aggregate cost per bucket — one shuffle of `buckets` rows;
  *      walking that histogram on the driver locates the BOUNDARY
  *      bucket where the budget crosses (driver data: `buckets` longs).
  *   2. buckets above the boundary are kept wholesale (no sort at
  *      all); only the boundary bucket — expected corpus/`buckets`
  *      rows — pays an exact cumulative window for the residual
  *      budget.
  *
  * Equal scores always share a bucket (bucketing is by value), so the
  * boundary cut can never split a tie group across the keep/sort
  * line. At 100 TB the sorted fraction is ~1/buckets of the corpus;
  * raise `buckets` (or recurse on the boundary bucket) to shrink it —
  * the histogram pass is corpus-sized but sort-free either way.
  */
object Selection {

  /** Rows of `scored` whose running `costCol` total — accumulated in
    * (`scoreCol` DESC, `idCol` ASC) order — stays within `budget`.
    * Output columns = input columns; null scores/costs are excluded
    * (they have no place in the ranking). Costs are integral (token
    * counts — a fractional cost column is truncated by the explicit
    * long cast, never a runtime ClassCastException) and must be
    * non-negative: a negative cost breaks the monotone running-cost
    * prefix the operator is defined by, so it is rejected up front. */
  def selectByBudget(scored: DataFrame, idCol: String, scoreCol: String,
      costCol: String, budget: Long, buckets: Int = 256): DataFrame = {
    require(budget >= 0L, "budget must be non-negative")
    require(buckets >= 1, "need at least one bucket")
    val in = scored.filter(col(scoreCol).isNotNull && col(costCol).isNotNull)
    val mm = in.agg(min(col(scoreCol)).cast("double").as("lo"),
      max(col(scoreCol)).cast("double").as("hi"),
      min(col(costCol).cast("long")).as("minCost")).head()
    if (mm.isNullAt(0)) return in // empty input
    require(mm.getLong(2) >= 0L,
      s"negative $costCol (${mm.getLong(2)}) breaks the running-cost prefix")
    val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
    // width_bucket yields buckets+1 for v == hi; fold it into the top
    // bucket. A constant score column degenerates to one bucket — the
    // "boundary" sort then covers everything, which is just the exact
    // algorithm on a corpus that gave us no histogram to prune with.
    def bucketOf = if (hi == lo) lit(1)
      else least(lit(buckets),
        width_bucket(col(scoreCol).cast("double"), lit(lo), lit(hi), lit(buckets)))
    val hist = in.groupBy(bucketOf.cast("long").as("__b"))
      .agg(sum(col(costCol).cast("long")).as("__t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // walk top-down: find the bucket where the running cost crosses
    var cum = 0L
    var boundary = -1L
    var aboveSum = 0L
    (buckets.toLong to 1L by -1L).foreach { b =>
      val t = hist.getOrElse(b, 0L)
      if (boundary < 0 && cum + t > budget) { boundary = b; aboveSum = cum }
      cum += t
    }
    if (boundary < 0) return in // everything fits
    val above = in.filter(bucketOf > boundary)
    // exact residual prefix INSIDE the boundary bucket only: the
    // single-ordering window runs over ~1/buckets of the corpus
    val w = Window.orderBy(col(scoreCol).desc, col(idCol))
    val sel = in.filter(bucketOf === boundary)
      .withColumn("__cum", sum(col(costCol).cast("long")).over(w))
      .filter(col("__cum") <= budget - aboveSum)
      .drop("__cum")
    above.unionByName(sel)
  }

  /** Token-budgeted MIXTURE construction: for each label (domain,
    * source, language) keep the deterministic md5-ordered prefix of
    * its rows whose running `costCol` total stays within that label's
    * budget — "20 B tokens of web, 5 B of code, all of books", the
    * step that turns per-domain corpora into a training mix. Labels
    * absent from `budgets` are dropped; a label whose corpus fits its
    * budget is kept whole. The defined result is the per-label
    * cumulative-sum window over (md5(id), id) order — which is what
    * the oracle runs — but, like [[selectByBudget]], the
    * implementation refuses to window whole label partitions (one
    * task per domain at warehouse scale):
    *
    *   1. the md5 draw's first two hex chars bucket each row 0..255;
    *      because the bucket is a PREFIX of the order key, bucket
    *      ascending = draw ascending, so per-(label, bucket) cost
    *      sums — one shuffle of ≤ labels×256 rows — locate each
    *      label's boundary bucket on the driver;
    *   2. buckets below the boundary are kept wholesale; only the
    *      boundary bucket (~1/256 of the label) pays the exact
    *      cumulative window for the residual budget.
    *
    * Costs must be non-negative for the same reason as
    * [[selectByBudget]]; fractional costs truncate via the long cast. */
  def mixTokenBudget(docs: DataFrame, idCol: String, labelCol: String,
      costCol: String, budgets: Map[String, Long]): DataFrame = {
    require(budgets.values.forall(_ >= 0L), "budgets must be non-negative")
    val base = docs.filter(col(costCol).isNotNull &&
      col(labelCol).isin(budgets.keys.toSeq: _*))
    val minCost = base.agg(min(col(costCol).cast("long"))).head()
    if (minCost.isNullAt(0)) return base // no rows under any budgeted label
    require(minCost.getLong(0) >= 0L,
      s"negative $costCol breaks the running-cost prefix")
    val h = md5(col(idCol).cast("string"))
    val bk = conv(substring(h, 1, 2), 16, 10).cast("long")
    val hist = base.groupBy(col(labelCol).as("__l"), bk.as("__b"))
      .agg(sum(col(costCol).cast("long")).as("__t"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // per label: walk buckets in draw order; boundary = first bucket
    // where the running cost crosses the label's budget (256 = fits)
    val ctl = budgets.toSeq.map { case (label, budget) =>
      var cum = 0L
      var boundary = 256L
      var belowSum = 0L
      (0L until 256L).foreach { b =>
        val t = hist.getOrElse((label, b), 0L)
        if (boundary == 256L && cum + t > budget) { boundary = b; belowSum = cum }
        cum += t
      }
      (label, boundary, budget - belowSum)
    }
    val ctlDf = docs.sparkSession.createDataFrame(ctl)
      .toDF("__l", "__boundary", "__residual")
    val joined = base.withColumn("__b", bk)
      .join(broadcast(ctlDf), col(labelCol) === col("__l"))
    val below = joined.filter(col("__b") < col("__boundary"))
    val w = Window.partitionBy(col(labelCol)).orderBy(h, col(idCol))
    val atBoundary = joined.filter(col("__b") === col("__boundary"))
      .withColumn("__cum", sum(col(costCol).cast("long")).over(w))
      .filter(col("__cum") <= col("__residual"))
      .drop("__cum")
    below.unionByName(atBoundary)
      .drop("__b", "__l", "__boundary", "__residual")
  }
}
