package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.operators.Similarity.AnnIndex
import graft.queries.Tables

/** [[AnnIndex.search]] against the window formulation of its ranking
  * ([[TopKReference.search]]) for every kind, inline and written, row
  * for row and bit for bit; the job budget of a literal request on a
  * written IVF,SQ8 index, first and repeated; and a zero-norm vector,
  * which scores NULL instead of aborting the search. */
class AnnSearchSpec extends SparkSpecBase {

  import TopKReference.rows

  private lazy val emb = Tables.embeddings(spark, sf)
  private def queriesOf(corpus: DataFrame, ids: Column = col("vec_id") < 8) = corpus.filter(ids)
    .select(col("vec_id").as("qid"), Similarity.asDouble(col("embedding")).as("qv"))

  // one trained index per kind, shared by every corpus below (encoding
  // is per corpus, training is not what this spec compares)
  private lazy val cents = Similarity.trainIvfCentroids(emb, "vec_id", "embedding", nlist = 32)
  private val kinds = Seq("Flat", "IVF,Flat", "SQ8", "IVF,SQ8", "PQ", "IVF,PQ")
  private lazy val indexes = kinds.map(kind => kind -> AnnIndex.fit(emb, "vec_id", "embedding",
    kind, centroids = if (kind.startsWith("IVF,")) cents else null)).toMap

  // a NaN in vector 20: Flat ranks its NaN cosine first; its int8 code
  // is NULL and its cell is 0 (IvfCells keeps the first centroid)
  private def withNaN = emb.withColumn("embedding", when(col("vec_id") === 20,
      array_insert(slice(col("embedding"), 2, 1 << 16), lit(1), lit(Float.NaN)))
    .otherwise(col("embedding")))
  // the vectors of cell 0 but the NaN one: with nprobe 1 each query
  // scans cell 0 only, whose ~16 vectors are fewer than k·refine, so
  // the NULL-scored NaN vector is shortlisted and reranks first
  private def cellZero = indexes("IVF,Flat").encode(emb, "vec_id", "embedding")
    .filter(col("cell") === 0 && col("vec_id") =!= 20).limit(8)
    .collect().map(_.getLong(0)).toSeq

  // (name, corpus, query ids, nprobe, IVF kinds only)
  private def cases: Seq[(String, () => DataFrame, () => Column, Int, Boolean)] = Seq(
    ("the shipped embeddings", () => emb, () => col("vec_id") < 8, 16, false),
    // exact copies of 40 vectors under new ids: their cos ties are
    // broken by vec_id, in the shortlist and in the rerank
    ("planted exact duplicates", () => emb.unionByName(emb.filter(col("vec_id") < 40)
      .withColumn("vec_id", col("vec_id") + 100000)), () => col("vec_id") < 8, 16, false),
    ("a corpus vector holding a NaN", () => withNaN, () => col("vec_id") < 8, 16, false),
    // ~16 vectors per cell: fewer candidates than k·refine
    ("nprobe 1 over small cells", () => emb, () => col("vec_id") < 8, 1, true),
    ("a NaN vector in a probed cell smaller than k·refine", () => withNaN,
      () => col("vec_id").isin(cellZero: _*), 1, true),
    ("INT ids", () => emb.withColumn("vec_id", col("vec_id").cast("int")),
      () => col("vec_id") < 8, 16, false))

  cases.foreach { case (name, corpusOf, ids, nprobe, ivfOnly) =>
    test(s"AnnIndex.search ≡ the window reference, every kind inline and written: $name") {
      val corpus = corpusOf()
      val queries = queriesOf(corpus, ids())
      kinds.filter(kind => !ivfOnly || kind.startsWith("IVF,")).foreach { kind =>
        val idx = indexes(kind)
        val dir = Files.createTempDirectory("graft_ann_ref")
        try {
          idx.write(corpus, "vec_id", "embedding", dir.toString)
          val (back, codes) = AnnIndex.read(spark, dir.toString)
          Seq("inline" -> (idx, null: DataFrame), "written" -> (back, codes)).foreach {
            case (how, (index, c)) =>
              val want = rows(TopKReference.search(index, corpus, "vec_id", "embedding", queries, 10, nprobe, c))
              assert(want.nonEmpty, s"$kind $how: empty reference")
              assert(rows(index.search(corpus, "vec_id", "embedding", queries, 10, nprobe,
                codes = c)) === want, s"$kind $how")
          }
        } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
      }
    }
  }

  test("a literal IVF,SQ8 request: <= 3 jobs, a repeat <= 2, no shuffle bytes") {
    val dir = Files.createTempDirectory("graft_ann_budget")
    try {
      Similarity.writeIvfSq8Index(emb, "vec_id", "embedding", dir.toString, centroids = cents)
      val s = spark
      import s.implicits._
      val literal = queriesOf(emb).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq.toDF("qid", "qv")
      def request() = workDuring(Similarity.ivfSq8TopKFromIndex(spark, dir.toString,
        emb, "vec_id", "embedding", literal, 10, nprobe = 8).collect().toSeq)
      // the first request opens the index: the centroids' collect, the
      // codes scan and the rerank scan
      val (rows, jobs, shuffled) = request()
      assert(rows.length === 80)
      assert(jobs <= 3, s"$jobs jobs")
      assert(shuffled === 0L, s"$shuffled shuffle bytes written")
      // a repeat reuses the opened index: the two scans only
      val (again, warmJobs, warmShuffled) = request()
      assert(warmJobs <= 2, s"$warmJobs jobs on a repeat")
      assert(warmShuffled === 0L, s"$warmShuffled shuffle bytes written on a repeat")
      assert(again === rows)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("a zero-norm vector scores NULL, no abort: Flat, SQ8, IVF,SQ8, exactNearest") {
    val base = emb.select(col("vec_id"), col("embedding"))
    val dim = base.select(size(col("embedding"))).head().getInt(0)
    val zeroId = 900000L
    val withZero = base.unionByName(base.limit(1).select(lit(zeroId).as("vec_id"),
      array_repeat(lit(0.0f), dim).as("embedding")))
    val queries = queriesOf(base)
    val zeroQuery = queries.limit(1).select(lit(zeroId + 1).as("qid"),
      array_repeat(lit(0.0), dim).as("qv"))
    def search(idx: AnnIndex, corpus: DataFrame, q: DataFrame, written: Boolean) =
      if (!written) rows(idx.search(corpus, "vec_id", "embedding", q, 10))
      else {
        val dir = Files.createTempDirectory("graft_ann_zero")
        try {
          idx.write(corpus, "vec_id", "embedding", dir.toString)
          val (back, codes) = AnnIndex.read(spark, dir.toString)
          rows(back.search(corpus, "vec_id", "embedding", q, 10, codes = codes))
        } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
      }
    Seq(("Flat", false), ("SQ8", false), ("IVF,SQ8", true)).foreach { case (kind, written) =>
      val idx = indexes(kind)
      val want = search(idx, base, queries, written)
      assert(want.length === 80, kind)
      val got = search(idx, withZero, queries.unionByName(zeroQuery), written)
      // every row of a non-zero query is the row without the zero
      // vector; the zero query still gets k rows, each scoring NULL
      assert(got.filter(_._1 != s"${zeroId + 1}") === want, kind)
      val zeroRows = got.filter(_._1 == s"${zeroId + 1}")
      assert(zeroRows.length === 10 && zeroRows.forall(_._3 == -1L), s"$kind: $zeroRows")
    }
    val exact = Similarity.exactNearest(withZero, "vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.get(1), r.get(2))).sortBy(_._1).toSeq
    val (zeroRows, others) = exact.partition(_._1 == zeroId)
    assert(others === Similarity.exactNearest(base, "vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.get(1), r.get(2))).sortBy(_._1).toSeq)
    // the zero vector's every cosine is NULL: its 1-NN is the smallest id
    assert(zeroRows.map(r => (r._2, r._3)) ===
      Seq((base.agg(min(col("vec_id"))).head().getLong(0), null)))
  }
}
