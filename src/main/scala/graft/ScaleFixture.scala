package graft

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

import graft.queries.{Golden, Tables}

/** A `reps`× DERIVED fixture: the same ten `<table>.parquet` files with
  * the same columns as a shipped SF dir, so `Tables`, [[Bench]] and
  * [[Verify]] read it as just another scale factor — the scale curve is
  * `SPARK_GRAFT_SF_DIR=<outDir> runMain graft.Bench`, and correctness at
  * scale is `runMain graft.Verify <outDir> …` plus `tools/selfcheck.py`.
  *
  * Replica `r` (0 until reps) is a closed-form image of the base table,
  * so every count at scale has a closed form against the base
  * (`ScaleFixtureSpec` pins them through the registered queries):
  *
  *  - events: `event_id` and `user_id` shift by `r·OFFSET` — COO cells,
  *    groups and dense rows scale exactly ×reps, and a `user_id` range
  *    of whole replicas selects whole copies.
  *  - documents: `doc_id` shifts and every whitespace token gains the
  *    prefix `r<r>x` — a bijection on tokens, hence on word shingles,
  *    so within-replica Jaccard is exactly preserved while shingle sets
  *    of different replicas are disjoint (no `r<digits>x` is a prefix
  *    of another): each word-shingle dedup output is exactly `reps`
  *    copies. Byte-window operators (winnow overlap, rolling
  *    fingerprints) see no such image: the prefix recurs in their
  *    windows, so on this corpus they face far denser postings.
  *  - embeddings: `vec_id` shifts, vector and `label` are identical —
  *    every copy shares its base vector's buckets and cell, the
  *    maximum-concentration case for the vector skew guards.
  *  - the seven TPC-H tables are copied byte for byte.
  *
  * The derived dir also carries its own trained oracle state,
  * `<outDir>/_golden` ([[Golden.train]] on the derived tables), so the
  * oracles that replay trained models check it like a shipped fixture.
  *
  * `ts` is written naive (TIMESTAMP_NTZ micros), the shipped fixture's
  * annotation; `Tables.events` reads it back under the naive==UTC
  * contract ([[graft.functions.Ts]]) and DuckDB reads it naively.
  *
  * Usage: `runMain graft.ScaleFixture <sfDir> <reps> <outDir>`. */
object ScaleFixture {

  /** Replica id offset. Odd, so replica clones do not share a residue
    * class under the streaming rows' `id % 4` batching. */
  val OFFSET = 10000001L

  private[graft] val TpchTables: Seq[String] =
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation", "region")

  def write(spark: SparkSession, sfDir: String, reps: Int, outDir: String): Unit = {
    require(reps >= 1, s"reps must be >= 1, got $reps")
    val conf = spark.sparkContext.hadoopConfiguration
    val (src, dst) = (new Path(sfDir), new Path(outDir))
    val (srcFs, fs) = (src.getFileSystem(conf), dst.getFileSystem(conf))
    require(srcFs.makeQualified(src) != fs.makeQualified(dst),
      s"outDir must not be the source dir: $outDir")
    // the naive ts cast below is a pure re-annotation only under UTC
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "ScaleFixture needs spark.sql.session.timeZone=UTC")
    val events = Tables.events(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    // An id at or past OFFSET would give two replicas the same shifted
    // id and silently MERGE them, wrecking every closed form above.
    Seq(events -> Seq("event_id", "user_id"), docs -> Seq("doc_id"),
        emb -> Seq("vec_id")).foreach { case (df, ids) =>
      val bounds = ids.flatMap(id => Seq(min(id), max(id)))
      val r = df.agg(bounds.head, bounds.tail: _*).head
      ids.zipWithIndex.foreach { case (id, i) =>
        if (!r.isNullAt(2 * i)) {
          val (lo, hi) = (r.getLong(2 * i), r.getLong(2 * i + 1))
          require(lo >= 0L && hi < OFFSET, s"replica offset $OFFSET " +
            s"would merge replicas: $id spans [$lo, $hi]")
        }
      }
    }
    def shifted(c: String, r: Int): Column = col(c) + lit(r * OFFSET)
    writeTable(replicas(events, reps) {
      case (c @ ("event_id" | "user_id"), r) => shifted(c, r)
      case ("ts", _) => col("ts").cast(TimestampNTZType)
    }, outDir, "events")
    writeTable(replicas(docs, reps) {
      case ("doc_id", r) => shifted("doc_id", r)
      case ("text", r) => regexp_replace(col("text"), "(\\S+)", s"r${r}x$$1")
    }, outDir, "documents")
    writeTable(replicas(emb, reps) {
      case ("vec_id", r) => shifted("vec_id", r)
    }, outDir, "embeddings")
    TpchTables.foreach { t =>
      val to = new Path(dst, s"$t.parquet")
      fs.delete(to, true)
      require(FileUtil.copy(srcFs, new Path(src, s"$t.parquet"), fs, to,
        false, conf), s"copy of $t failed")
    }
    Golden.writeOwn(outDir, Golden.train(spark, outDir))
  }

  /** `reps` copies of `base`: column `c` of copy `r` is `f((c, r))`
    * where defined and unchanged elsewhere, in the base column order. */
  private def replicas(base: DataFrame, reps: Int)(
      f: PartialFunction[(String, Int), Column]): DataFrame =
    (0 until reps).map(r => base.select(base.columns.map(c =>
        f.applyOrElse((c, r), (_: (String, Int)) => col(c)).as(c)): _*))
      .reduce(_ unionByName _)

  /** Write `df` as the single file `<outDir>/<name>.parquet`, the
    * shipped fixtures' layout (DuckDB reads the path as one file). */
  private def writeTable(df: DataFrame, outDir: String, name: String): Unit = {
    val tmp = new Path(outDir, s"_$name.tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val fs = tmp.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val Array(part) = fs.listStatus(tmp).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    val to = new Path(outDir, s"$name.parquet")
    fs.delete(to, true)
    require(fs.rename(part, to), s"could not move $part to $to")
    fs.delete(tmp, true)
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: runMain graft.ScaleFixture <sfDir> <reps> <outDir>")
    val spark = SparkEntry.localSession()
    try write(spark, args(0), args(1).toInt, args(2))
    finally spark.stop()
  }
}
