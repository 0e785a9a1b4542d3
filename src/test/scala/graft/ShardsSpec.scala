package graft

import org.apache.spark.sql.functions._

import graft.sources.Shards

/** Training-shard export: exact sizing, determinism, one file per
  * shard, and a manifest that certifies the bytes on disk. */
class ShardsSpec extends SparkSpecBase {

  private def docs = graft.queries.Tables.documents(spark, sf)
    .select(col("doc_id"))

  test("assignShards: every shard but the last is exactly recordsPerShard") {
    val n = docs.count()
    val per = 64L
    val sizes = Shards.assignShards(docs, "doc_id", per, seed = "s")
      .groupBy(col("shard")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val shards = (n + per - 1) / per
    assert(sizes.keySet === (0L until shards).toSet)
    (0L until shards - 1).foreach(k => assert(sizes(k) === per))
    assert(sizes(shards - 1) === n - per * (shards - 1))
  }

  test("writeTrainingShards: one file per shard, lossless, manifest certifies disk") {
    val out = new java.io.File("target/shards_spec").getAbsolutePath
    val per = 64L
    val manifest = Shards.writeTrainingShards(docs, "doc_id", out, per, seed = "s")
    val back = spark.read.parquet(out)

    // lossless: same key set, same size
    assert(back.count() === docs.count())
    assert(back.select(col("doc_id")).except(docs).count() === 0)

    // exactly one data file inside each shard directory
    val shardDirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(shardDirs.nonEmpty)
    shardDirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1, s"${d.getName} has ${files.length} files")
    }

    // the manifest equals an independent re-aggregation of the files
    val recomputed = back.groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("shuffle_pos")).as("pos_lo"),
        max(col("shuffle_pos")).as("pos_hi"),
        expr("bit_xor(xxhash64(cast(doc_id as string)))").as("key_checksum"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val got = manifest
      .select(col("shard").cast("long"), col("n_rows"), col("pos_lo"),
        col("pos_hi"), col("key_checksum"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got === recomputed)

    // shard rank ranges tile [0, N) contiguously: budgeting/resume is
    // pure arithmetic on the manifest
    val ranges = got.toSeq.sortBy(_._1)
    ranges.zipWithIndex.foreach { case ((_, _, lo, hi, _), i) =>
      assert(lo === i * per)
      assert(hi === lo + ranges(i)._2 - 1)
    }

    // determinism: a rewrite yields the identical manifest
    val again = Shards.writeTrainingShards(docs, "doc_id", out, per, seed = "s")
      .select(col("shard").cast("long"), col("n_rows"), col("pos_lo"),
        col("pos_hi"), col("key_checksum"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(again === got)
  }

  test("writeTrainingShards reads its shards and manifest back without an inference job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val out = new java.io.File("target/shards_spec_jobs").getAbsolutePath
    val input = docs
    Shards.writeTrainingShards(input, "doc_id", out, 64L, seed = "s")
    // a schema-inference job runs while a read is planned, outside any
    // SQL execution; the write and the manifest aggregate run inside one
    val outside = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.sql.execution.id") == null) outside.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val (_, jobs) = try jobsDuring(Shards.writeTrainingShards(input, "doc_id", out, 64L, seed = "s"))
      finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs > 0)
    assert(outside.get === 0, s"${outside.get} of $jobs jobs ran outside a query")
  }
}
