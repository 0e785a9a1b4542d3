package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ScaleFixture.OFFSET
import graft.core.SparseRel
import graft.functions.IvfCells
import graft.operators.Similarity
import graft.operators.Similarity.AnnIndex
import graft.queries.{Golden, Tables}

/** The closed forms of a [[ScaleFixture]] derivation (sf0.001 at
  * reps = 3), checked through the registered queries Bench times: row
  * counts scale exactly ×reps, value sums ×reps, a replica-aligned
  * `user_id` range selects whole copies through a pushed scan filter,
  * the LSH certificate holds on both dirs, and a persisted IVF-PQ
  * index over the derived corpus stays partition-pruned and above its
  * recall floor. The derived dir carries its own golden state, and an
  * id that would merge replicas fails the guard. */
class ScaleFixtureSpec extends SparkSpecBase {

  private val reps = 3
  private lazy val tmp = Files.createTempDirectory("graft_scale_fixture")
  private lazy val big: String = {
    val out = tmp.resolve("sf0.001x3").toString
    ScaleFixture.write(spark, sf, reps, out)
    out
  }

  override def afterAll(): Unit =
    try FileUtils.deleteDirectory(tmp.toFile) finally super.afterAll()

  private def rows(name: String, dir: String): Long =
    Force.count(SparkEntry.queries(name)(spark, dir))

  private def coo(dir: String): SparseRel =
    SparseRel.scanEvents(Tables.events(spark, dir), "event_type",
      Seq("user_id"), Some(Tables.EventTypes))

  test("ScaleFixture: replicated tables ×reps, TPC-H as-is, same schema") {
    def read(t: String, dir: String) =
      if (t == "events") Tables.events(spark, dir) else Tables.table(spark, dir, t)
    (Seq("events", "documents", "embeddings") ++ ScaleFixture.TpchTables).foreach { t =>
      val (b, d) = (read(t, sf), read(t, big))
      val factor = if (ScaleFixture.TpchTables.contains(t)) 1 else reps
      assert(d.count() === factor * b.count(), t)
      assert(d.schema.map(f => f.name -> f.dataType) ===
        b.schema.map(f => f.name -> f.dataType), t)
    }
  }

  test("ScaleFixture COO: cells, groups, dense rows and column sums ×reps") {
    Seq("scan_events_onehot", "groupby_sum", "todense_pivot").foreach { q =>
      val n = rows(q, sf)
      assert(n > 0, q)
      assert(rows(q, big) === reps * n, q)
    }
    val sums = Seq(sf, big).map(d => coo(d).groupbySum().sumAxis0.collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap)
    assert(sums(1).keySet === sums(0).keySet)
    sums(0).foreach { case (c, v) =>
      assert(math.abs(sums(1)(c) - reps * v) <= math.abs(v) * reps * 1e-6 + 1e-6, c)
    }
  }

  test("ScaleFixture COO: a two-replica user_id range is a pushed scan filter") {
    val sliced = coo(big).locRange("user_id", lit(OFFSET), lit(3 * OFFSET - 1))
    val plan = sliced.df.queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(user_id".r
      .findFirstIn(plan).isDefined, plan)
    // ids are < OFFSET, so [OFFSET, 3·OFFSET) holds exactly replicas 1, 2
    assert(Force.count(sliced.df) === 2 * Force.count(coo(sf).df))
  }

  test("ScaleFixture text: dedup_minhash_lsh pairs ×reps, lsh_ok everywhere") {
    val n = rows("dedup_minhash_lsh", sf)
    assert(n > 0)
    assert(rows("dedup_minhash_lsh", big) === reps * n)
    Seq(sf, big).foreach { d =>
      val q = SparkEntry.queries("dedup_minhash_lsh")(spark, d)
      assert(q.filter(!col("lsh_ok")).count() === 0, d)
    }
  }

  test("ScaleFixture vectors: persisted IVF-PQ probe is pruned, k rows, recall >= 0.75") {
    val emb = Tables.embeddings(spark, big)
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"),
        Similarity.asDouble(col("embedding")).as("qv"))
    val path = tmp.resolve("ivfpq").toString
    AnnIndex.fit(emb, "vec_id", "embedding", "IVF,PQ")
      .write(emb, "vec_id", "embedding", path)
    val (idx, codes) = AnnIndex.read(spark, path)
    val (probe, qes) = plansDuring(idx.search(emb, "vec_id", "embedding", queries, k = 10,
      codes = codes))
    // the codes scan reads the probed cells' files only, one per cell
    val probed = queries.select(explode(IvfCells.cells(col("qv"), idx.coarse.get, 16)))
      .distinct().count()
    val Seq((scan, files)) = scansOf(qes, s"$path/codes")
    assert(scan.partitionFilters.nonEmpty && files === probed, s"$files files, $probed cells")
    def pairs(df: DataFrame) = df.select(col("qid"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val got = pairs(probe)
    assert(got.length === 80)
    val exact = pairs(AnnIndex(None, AnnIndex.Flat).search(emb, "vec_id", "embedding",
      queries, 10)).toSet
    val recall = (exact & got.toSet).size.toDouble / exact.size
    assert(recall >= graft.queries.PipelineQueries.recallCert("ann_ivf_pq_recall").floor,
      s"recall $recall")
  }

  test("ScaleFixture: _golden is the derived dir's own trained state") {
    val Seq(own) = Golden.own(big)
    val retrained = Golden.train(spark, big)
    assert((own.embFp, own.docFp) === (retrained.embFp, retrained.docFp))
    assert(own.sameVectors(retrained) && own.sameQuality(retrained))
    assert(!Golden.committed.byEmb.contains(own.embFp))
    assert(!Golden.committed.byDoc.contains(own.docFp))
  }

  test("ScaleFixture refuses an id that would merge replicas") {
    val bad = tmp.resolve("bad").toString
    Tables.events(spark, sf).limit(4).write.parquet(s"$bad/events.parquet")
    Tables.documents(spark, sf).limit(4)
      .withColumn("doc_id", col("doc_id") + OFFSET)
      .write.parquet(s"$bad/documents.parquet")
    Tables.embeddings(spark, sf).limit(4).write.parquet(s"$bad/embeddings.parquet")
    val out = tmp.resolve("bad_out")
    val e = intercept[IllegalArgumentException] {
      ScaleFixture.write(spark, bad, 2, out.toString)
    }
    assert(e.getMessage.contains("doc_id"), e.getMessage)
    assert(!Files.exists(out), "the guard must run before any write")
  }
}
