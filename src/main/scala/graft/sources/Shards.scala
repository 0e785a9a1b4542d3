package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Sampling

/** Deterministic, size-bounded training-shard export — the last hop of
  * a data pipeline: the curated corpus leaves the warehouse as numbered
  * shards a trainer streams in order.
  *
  * Shard assignment is a PURE FUNCTION of (seed, key): the
  * [[Sampling.shuffleOrder]] rank (md5 draw — portable, so the
  * assignment is recomputable outside Spark) divided by
  * `recordsPerShard`. That buys three properties a
  * `df.write.maxRecordsPerFile` dump does not have: shard membership
  * is reproducible across reruns and engines (the `shard_manifest`
  * query's DuckDB oracle recomputes it from scratch), every shard
  * except the last holds EXACTLY `recordsPerShard` rows (budgeting and
  * resume offsets become arithmetic), and the global order is a
  * seed-keyed shuffle — the training order ships WITH the data instead
  * of being an accident of file listing.
  *
  * Scale shape: the rank is the one range-partitioned sort
  * (`shuffleOrder`, no global window); assignment is a map stage;
  * the write repartitions by shard id so each shard's rows land in one
  * task = one parquet file per shard directory. Shard count = N /
  * recordsPerShard tasks — at 100 TB pick recordsPerShard so that a
  * shard is a sane parquet file (hundreds of MB), giving tens of
  * thousands of well-sized files instead of millions of stragglers.
  */
object Shards {

  /** Tag every row with (`shuffle_pos`, `shard`). Deterministic for
    * distinct keys; duplicate keys inherit shuffleOrder's contract. */
  def assignShards(df: DataFrame, keyCol: String, recordsPerShard: Long,
      seed: String = ""): DataFrame = {
    require(recordsPerShard > 0, "recordsPerShard must be positive")
    Sampling.shuffleOrder(df, keyCol, seed)
      .withColumn("shard",
        floor(col("shuffle_pos") / lit(recordsPerShard)).cast("long"))
  }

  /** Write `df` as numbered shard directories under `path`
    * (`shard=K/part-*.parquet`, one file per shard) plus a
    * `_manifest` parquet (underscore prefix: invisible to parquet
    * reads of `path`) with per-shard row counts, rank ranges and an
    * order-insensitive key checksum. The manifest is computed from the
    * data as WRITTEN (read back post-write), so it certifies the files
    * on disk, not the plan that produced them. Both read-backs take
    * their schema from a footer ([[ParquetCompact.open]]), so neither
    * starts a schema-inference job. Returns the manifest. */
  def writeTrainingShards(df: DataFrame, keyCol: String, path: String,
      recordsPerShard: Long, seed: String = ""): DataFrame = {
    val spark = df.sparkSession
    val sharded = assignShards(df, keyCol, recordsPerShard, seed)
    sharded
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("shuffle_pos"))
      .write.partitionBy("shard").mode("overwrite").parquet(path)
    val manifest = ParquetCompact.open(spark, path)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("shuffle_pos")).as("pos_lo"),
        max(col("shuffle_pos")).as("pos_hi"),
        // XOR fold: order-insensitive and cannot overflow (a SUM of
        // xxhash64 longs trips ANSI overflow on real data)
        expr(s"bit_xor(xxhash64(cast(`$keyCol` as string)))")
          .as("key_checksum"))
    manifest.coalesce(1).write.mode("overwrite").parquet(s"$path/_manifest")
    ParquetCompact.open(spark, s"$path/_manifest")
  }
}
