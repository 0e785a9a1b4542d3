package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{CentroidDots, IvfCells, LshKeys, Quantize}
import graft.operators.Similarity
import graft.operators.Similarity.AnnIndex

/** The window formulations of the cosine rankings, kept only as test
  * references: each ranks with a `row_number` window over (score DESC,
  * vec_id), the order the operators reproduce without a window. */
object TopKReference {

  /** The `k` best rows of each qid in `scored` by (`score` desc, id),
    * with their rank `rn`. */
  def topK(scored: DataFrame, score: String, k: Int): DataFrame =
    scored.withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col(score).desc, col("vec_id"))))
      .filter(col("rn") <= k)

  /** [[AnnIndex.search]]'s top-k: pairs from a broadcast (cell)
    * equi-join or cross join, the k·refine best (qcos desc, id) per
    * query, and an exact rerank of those on the float vectors, ranked
    * again by (cos desc, id). */
  def search(idx: AnnIndex, corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, k: Int, nprobe: Int, codes: DataFrame): DataFrame = {
    import AnnIndex._
    val (qSide, score) = idx.code match {
      case Flat => (Seq(col("qv")), round(Similarity.cosine(col("v"), col("qv")), 6))
      case Sq8 => (Seq(Quantize.int8(col("qv")).as("qcodes")),
        Quantize.cosine(col("codes"), col("qcodes")))
      case Pq(books) =>
        val adc = graft.functions.Pq.adcScore(col("pq_codes"), col("qtable"))
        (graft.functions.Pq.adcTable(col("qv"), books).as("qtable") +:
          idx.coarse.map(cents => CentroidDots.dots(col("qv"), cents).as("cdots")).toSeq,
          if (idx.coarse.isEmpty) adc else element_at(col("cdots"), col("cell") + 1) + adc)
    }
    val probes = queries.select((col("qid") +: qSide) ++ idx.coarse.map(cents =>
      explode(IvfCells.cells(col("qv"), cents, nprobe)).as("cell")): _*)
    val scan = Option(codes).getOrElse(idx.encode(corpus, idCol, vecCol))
    val pairs = (if (idx.coarse.isEmpty) scan.crossJoin(broadcast(probes))
      else scan.join(broadcast(probes), Seq("cell")))
      .filter(col("vec_id") =!= col("qid"))
    val out = if (idx.code == Flat) topK(pairs.select(col("qid"), col("vec_id"), score.as("cos")), "cos", k)
      else {
        val shortlist = topK(pairs.select(col("qid"), col("vec_id"), score.as("qcos")),
            "qcos", k * idx.code.refine)
          .select(col("qid"), col("vec_id"))
        topK(corpus.select(col(idCol).as("vec_id"), Similarity.asDouble(col(vecCol)).as("v"))
          .join(broadcast(shortlist), Seq("vec_id"))
          .join(broadcast(queries.select(col("qid"), col("qv"))), Seq("qid"))
          .select(col("qid"), col("vec_id"),
            round(Similarity.cosine(col("v"), col("qv")), 6).as("cos")), "cos", k)
      }
    out.select(col("qid"), col("vec_id"), col("cos"), col("rn"))
  }

  /** [[Similarity.lshTopK]]'s top-k by its earlier formulation: corpus
    * base keys and query probe keys exploded into one broadcast bucket
    * equi-join, candidates deduplicated across tables, then the window. */
  def lshTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, k: Int): DataFrame = {
    val d = Similarity.deriveDim(corpus, vecCol)
    val planes = (0 until Similarity.LshTables).map(t =>
      Similarity.hyperplanes(Similarity.LshPlanes, d, seed = Similarity.tableSeed(t)))
    val c = corpus.select(col(idCol).as("vec_id"), Similarity.asDouble(col(vecCol)).as("v"))
      .select(col("vec_id"), col("v"), explode(LshKeys.keys(col("v"), planes, 0)).as("bucket"))
    val probes = queries.select(col("qid"), col("qv"),
      explode(LshKeys.keys(col("qv"), planes, Similarity.LshMultiProbe)).as("bucket"))
    topK(c.join(broadcast(probes), Seq("bucket"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(Similarity.cosine(col("v"), col("qv")), 6).as("cos"))
        .distinct(), "cos", k)
      .select(col("qid"), col("vec_id"), col("cos"), col("rn"))
  }

  /** [[Similarity.exactNearest]] by a window over every ordered pair:
    * (qid, nn, cos, rn = 1). */
  def nearest(corpus: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"), Similarity.asDouble(col(vecCol)).as("v"))
    topK(c.crossJoin(c.select(col("vec_id").as("qid"), col("v").as("qv")))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(Similarity.cosine(col("v"), col("qv")), 6).as("cos")), "cos", 1)
      .select(col("qid"), col("vec_id").as("nn"), col("cos"), col("rn"))
  }

  /** (qid, id, raw cos bits, rn), sorted: equal means bit-identical. */
  def rows(df: DataFrame): Seq[(String, String, Long, Int)] =
    df.collect().toSeq.map { case Row(q, v, c, rn: Int) =>
      (q.toString, v.toString,
        if (c == null) -1L else java.lang.Double.doubleToRawLongBits(c.asInstanceOf[Double]), rn)
    }.sorted
}
