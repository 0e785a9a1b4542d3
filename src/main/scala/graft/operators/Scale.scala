package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.core.SparseRel

/** Scale tooling: bucketed co-located joins and skew salting — the two
  * shuffle-avoidance techniques the 100 TB brief calls for beyond what
  * AQE does automatically.
  */
object Scale {

  /** Persist a sparse frame bucketed + sorted by its index so
    * repeated index-equi joins/aggregations between co-bucketed frames
    * need NO shuffle at all (both sides arrive hash-partitioned on
    * disk; the plan shows zero Exchange). This is the lakehouse answer
    * to the reference's sorted dask divisions (dask/io.py:38-48) when
    * the workload is join-heavy rather than range-heavy. */
  def writeBucketed(rel: SparseRel, table: String, buckets: Int): Unit =
    rel.df.write
      .mode("overwrite")
      .bucketBy(buckets, rel.indexCols.head, rel.indexCols.tail: _*)
      .sortBy(rel.indexCols.head, rel.indexCols.tail: _*)
      .saveAsTable(table)

  /** Read a bucketed sparse-frame table back (bucket metadata rides in
    * the catalog, so joins on the bucket keys skip the shuffle). */
  def readBucketed(spark: SparkSession, table: String,
      indexCols: Seq[String], universe: Seq[String]): SparseRel =
    SparseRel(spark.table(table), indexCols, universe)

  /** Drop the blocks a `localCheckpoint`ed relation holds now, not
    * when a GC happens to find it unreachable; a no-op on any other
    * relation. Non-blocking, and safe on a stopped context (the blocks
    * die with it anyway). */
  private[graft] def releaseCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed match {
      case l: LogicalRDD =>
        try l.rdd.unpersist(blocking = false) catch { case _: Exception => () }
      case _ => ()
    }

  /** Spread a COMPUTE-DENSE relation across the session's parallelism
    * before an expensive per-row kernel (shingle/winnow hashing, codec
    * work, signature math) — but only when the upstream plan provides
    * FEWER partitions than the session has cores. A small parquet
    * fixture arrives as one scan split (and one row group, so scan
    * splitting cannot help), which serializes the kernel onto a single
    * core; at warehouse scale the input has thousands of splits and
    * this is a NO-OP — the condition, not a constant, carries the
    * scale-dependence (guide §2.5: fix input skew right after the
    * read). Hash-repartition on `key` (deterministic placement; keyless
    * round-robin pays a per-task sort and is retry-fragile).
    *
    * RESTRICTION — scan-rooted/narrow inputs only (r21 verdict): the
    * partition-count probe (`df.rdd.getNumPartitions`) instantiates
    * the frame's physical plan and RDD lineage. On a scan-rooted or
    * narrow frame that is cheap (no job runs) and the count is the
    * real scan split count. On a POST-SHUFFLE frame it would read the
    * STATIC pre-AQE estimate (spark.sql.shuffle.partitions), not the
    * runtime-coalesced partition count — the condition would then be
    * meaningless (and the probe could get expensive on a frame whose
    * lineage embeds materialization side effects). Do not call this on
    * exchange-rooted frames; checkpoint them first if a spread is
    * genuinely needed there. */
  def spreadForKernel(df: DataFrame, key: Column): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target, key)
  }

  /** Salted equi-join for a skewed build side: the hot keys of `left`
    * are spread over `factor` salt values (deterministic hash of the
    * tuple — no RNG, so re-runs agree), and `right` is replicated
    * `factor`× with every salt, restoring join correctness. Use when
    * one key dominates and AQE's skew splitting isn't available (e.g.
    * the join feeds an aggregation in the same stage).
    *
    * `leftDistinct` columns must make left rows unique enough to
    * spread (any high-cardinality column set — an id, an event id). */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftDistinct: Seq[String], factor: Int,
      joinType: String = "inner"): DataFrame = {
    require(factor > 1, "salt factor must exceed 1")
    // Replicating the right side is only correct when unmatched RIGHT
    // rows are never emitted — a right/full outer join would emit each
    // unmatched right row once per salt replica.
    require(Set("inner", "left", "left_outer", "leftouter", "left_semi",
      "leftsemi", "semi", "left_anti", "leftanti", "anti").contains(
        joinType.toLowerCase.replace(" ", "_")),
      s"saltedJoin supports inner/left/semi/anti, not $joinType")
    val salted = left.withColumn("__salt",
      pmod(xxhash64(leftDistinct.map(col): _*), lit(factor.toLong)))
    val replicated = right.withColumn("__salt",
      explode(array((0 until factor).map(i => lit(i.toLong)): _*)))
    salted.join(replicated, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Two-stage ("partial-final") aggregation with an explicit salt for
    * extremely skewed group keys: first aggregate on (key, salt) —
    * spreading one hot key over `factor` reducers — then combine the
    * partials. Spark's hash aggregate already does map-side partial
    * combine; this helps when a single reducer key still overflows a
    * task (billions of identical keys). */
  def groupbySumSalted(rel: SparseRel, factor: Int): SparseRel = {
    import SparseRel.{COL, VALUE}
    val keyCols = rel.indexCols.map(col) :+ col(COL)
    // The salt must be DETERMINISTIC per row content: a nondeterministic
    // source (rand / monotonically_increasing_id) re-salts rows when a
    // stage retries, double-counting or losing partials under shuffle
    // recomputation (the SPARK-23207 failure class). Hashing every
    // column is retry-stable; the one shape it cannot spread is a hot
    // key made of byte-identical duplicate cells — carry a distinct id
    // column in the frame if that is the skew source.
    val salted = rel.df.withColumn("__salt",
      pmod(xxhash64(rel.df.columns.toIndexedSeq.map(col): _*), lit(factor.toLong)))
    val partial = salted
      .groupBy(keyCols :+ col("__salt"): _*)
      .agg(sum(VALUE).as(VALUE))
    rel.copy(df = partial.groupBy(keyCols: _*).agg(sum(VALUE).as(VALUE)))
  }
}
