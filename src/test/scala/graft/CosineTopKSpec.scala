package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.queries.Tables

/** [[Similarity.lshTopK]] and [[Similarity.exactNearest]] against the
  * window formulations of their rankings ([[TopKReference]]), row for
  * row and bit for bit; the job budget of one literal lshTopK request;
  * and the integral-id guard of the min-id tie-break. */
class CosineTopKSpec extends SparkSpecBase {

  import TopKReference.rows

  private lazy val emb = Tables.embeddings(spark, sf)
  private def queriesOf(corpus: DataFrame) = corpus.filter(col("vec_id") < 8)
    .select(col("vec_id").as("qid"), Similarity.asDouble(col("embedding")).as("qv"))

  // (name, corpus, k)
  private def cases: Seq[(String, () => DataFrame, Int)] = Seq(
    ("the shipped embeddings", () => emb, 10),
    // exact copies of 40 vectors under new ids: their cos ties are
    // broken by vec_id
    ("planted exact ties", () => emb.unionByName(emb.filter(col("vec_id") < 40)
      .withColumn("vec_id", col("vec_id") + 100000)), 10),
    // a NaN in vector 20 (and in query 3): its NaN cosines rank first
    ("NaN vectors", () => emb.withColumn("embedding", when(col("vec_id").isin(3, 20),
        array_insert(slice(col("embedding"), 2, 1 << 16), lit(1), lit(Float.NaN)))
      .otherwise(col("embedding"))), 10),
    // a NULL vector scores NULL, which ranks last
    ("a NULL vector", () => emb.withColumn("embedding",
      when(col("vec_id") =!= 30, col("embedding"))), 10),
    // 40 vectors and k = 50: every query has fewer than k candidates
    ("queries with fewer than k candidates", () => emb.filter(col("vec_id") < 40), 50),
    ("INT ids", () => emb.withColumn("vec_id", col("vec_id").cast("int")), 10))

  cases.foreach { case (name, corpusOf, k) =>
    test(s"lshTopK ≡ the broadcast bucket join + window reference: $name") {
      val corpus = corpusOf()
      val queries = queriesOf(corpus)
      val want = rows(TopKReference.lshTopK(corpus, "vec_id", "embedding", queries, k))
      assert(want.nonEmpty, "empty reference")
      assert(rows(Similarity.lshTopK(corpus, "vec_id", "embedding", queries, k)) === want)
    }
  }

  cases.filter(_._3 == 10).foreach { case (name, corpusOf, _) =>
    test(s"exactNearest ≡ the all-pairs window reference: $name") {
      val corpus = corpusOf()
      val want = rows(TopKReference.nearest(corpus, "vec_id", "embedding"))
      assert(want.nonEmpty, "empty reference")
      assert(rows(Similarity.exactNearest(corpus, "vec_id", "embedding")
        .withColumn("rn", lit(1))) === want)
    }
  }

  test("a literal 8-query lshTopK batch: one scan job, no shuffle bytes") {
    val s = spark
    import s.implicits._
    val literal = queriesOf(emb).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq.toDF("qid", "qv")
    val (out, jobs, shuffled) = workDuring(
      Similarity.lshTopK(emb, "vec_id", "embedding", literal, 10).collect())
    assert(out.length === 80)
    assert(jobs <= 1, s"$jobs jobs")
    assert(shuffled === 0L, s"$shuffled shuffle bytes written")
  }

  test("exactNearest and nearestDupLsh reject a non-integral id column") {
    val byName = emb.withColumn("vec_id", concat(lit("v"), col("vec_id")))
    Seq[() => DataFrame](
      () => Similarity.exactNearest(byName, "vec_id", "embedding"),
      () => Similarity.nearestDupLsh(byName, "vec_id", "embedding")).foreach { op =>
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("integral ids, not string"), e.getMessage)
    }
  }
}
