package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.operators.Similarity.AnnIndex
import graft.queries.Tables

/** [[AnnIndex.search]] against the window formulation of its ranking
  * ([[TopKReference.search]]) for every kind, inline and written, row
  * for row and bit for bit; and the job budget of one literal request
  * on a written IVF,SQ8 index. */
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

  test("a literal 8-query batch on a written IVF,SQ8 index: <= 4 jobs, no shuffle bytes") {
    val dir = Files.createTempDirectory("graft_ann_budget")
    try {
      Similarity.writeIvfSq8Index(emb, "vec_id", "embedding", dir.toString, centroids = cents)
      val s = spark
      import s.implicits._
      val literal = queriesOf(emb).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq.toDF("qid", "qv")
      val (rows, jobs, shuffled) = workDuring(Similarity.ivfSq8TopKFromIndex(spark, dir.toString,
        emb, "vec_id", "embedding", literal, 10, nprobe = 8).collect())
      assert(rows.length === 80)
      assert(jobs <= 4, s"$jobs jobs")
      assert(shuffled === 0L, s"$shuffled shuffle bytes written")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
