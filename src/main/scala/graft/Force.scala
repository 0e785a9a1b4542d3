package graft

import org.apache.spark.sql.DataFrame

/** The ONE way the measurement tool (Bench) forces a
  * query: execute the physical plan AS WRITTEN and count its rows.
  *
  * NOT `.count()`: that stacks an Aggregate count(1) on top and
  * Catalyst's column pruning then removes every computed column the
  * count does not reference — a pure-projection query times a bare
  * row-count scan while its kernel never runs, and an aggregate query
  * loses its aggregate expressions (the round-9 bench-force bug:
  * `price_quantiles` "cost" 0.14 s while the exact percentile was
  * never computed; real cost ~2 s). `queryExecution.toRdd` executes
  * the already-optimized plan with every output column materialized,
  * adds no write machinery, and returns the row count for free. */
object Force {
  def count(df: DataFrame): Long = df.queryExecution.toRdd.count()
}
