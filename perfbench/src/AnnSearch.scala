package perfbench

import java.io.File

import scala.collection.parallel.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{IvfCells, Pq, Quantize}
import graft.operators.Similarity

/** IVF-SQ8 vector search. Set-up trains the coarse quantizer and writes
  * the cell-partitioned int8 index (the write phase); one request is
  * one batch of queries through `ivfSq8TopKFromIndex` (the read phase).
  * Recall@10 is measured against an exact in-process sweep. */
object AnnSearch extends Workload {
  val name = "ann_search"
  val warmups = 1
  val dim = 64
  val groups = 64
  val nlist = 32
  val nprobe = 8
  val k = 10
  val batch = 8
  val pool = 256
  val recallFloor = 0.8

  private def gen(env: Env): VecGen = {
    val vectors = env.scaled(100000)
    VecGen(env.opts.seed, vectors, dim, groups, replicas = math.min(500, vectors / 10))
  }

  def generate(env: Env, dir: File): Unit =
    gen(env).write(env.spark, new File(dir, "vectors").getPath, env.files)

  def prepare(env: Env, dir: File): Prepared = {
    val gen = this.gen(env)
    val (vectors, replicas) = (gen.n, gen.replicas)
    val vecPath = new File(dir, "vectors").getPath
    val indexPath = new File(dir, "index").getPath
    val spark = env.spark
    val corpus = spark.read.parquet(vecPath).persist(StorageLevel.MEMORY_ONLY)
    corpus.count()
    env.keep()
    val cents = env.span("operators.ann_train") {
      Similarity.trainIvfCentroids(corpus, "id", "vec", nlist)
    }
    env.span("operators.ann_index") {
      Similarity.writeIvfSq8Index(corpus, "id", "vec", indexPath, nlist, centroids = cents)
    }
    // the query pool: sources of the first planted replicas and seeded
    // picks among the other vectors, two sources in every batch so each
    // request checks a replica
    val planted = (0 until math.min(64, replicas)).map(i => gen.id(replicas + i) -> gen.id(i)).toMap
    val picks = (0 until pool - planted.size).map { q =>
      gen.id(replicas + Rng.below(Rng.hash(env.opts.seed, 40, q), vectors - replicas)) }
    val poolIds = planted.keys.toSeq.sorted.grouped(2).zip(picks.grouped(batch - 2))
      .flatMap { case (a, b) => a ++ b }.toSeq.distinct
    new Prepared {
      def describe: String =
        s"$vectors vectors × $dim dims in $groups clusters, $replicas planted replicas, " +
          s"${env.files} files; nlist $nlist, nprobe $nprobe, k $k, $batch queries per batch, pool $pool"
      private var next = 0
      private var recallSum = 0.0
      private var recallN = 0

      /** Exact top-k of every pool query by rounded cosine, id order. */
      private lazy val exact: Map[Long, Set[Long]] = {
        val all = corpus.select("id", "vec").collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        def unit(v: Array[Double]) = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
        val units = all.map { case (id, v) => (id, unit(v)) }
        val byId = units.toMap
        val order = Ordering.by[(Double, Long), (Double, Long)] { case (s, id) => (-s, id) }
        poolIds.par.map { q =>
          val qv = byId(q)
          // bounded heap whose head is the worst of the current best k
          val best = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](order)
          units.foreach { case (id, v) =>
            if (id != q) {
              var s = 0.0; var i = 0
              while (i < dim) { s += v(i) * qv(i); i += 1 }
              val c = (math.rint(s * 1e6) / 1e6, id)
              if (best.size < k) best += c
              else if (order.lt(c, best.head)) { best.dequeue(); best += c }
            }
          }
          q -> best.iterator.map(_._2).toSet
        }.seq.toMap
      }
      private lazy val queryVecs: Map[Long, Seq[Double]] =
        corpus.filter(col("id").isin(poolIds: _*)).select("id", "vec").collect()
          .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap

      def pass(): PassResult = {
        val ids = (0 until batch).map(b => poolIds((next + b) % poolIds.size))
        next = (next + batch) % poolIds.size
        import spark.implicits._
        val queries = ids.map(q => (q, queryVecs(q))).toDF("qid", "qv")
        val rows = env.span("operators.ann_probe") {
          Similarity.ivfSq8TopKFromIndex(spark, indexPath, corpus, "id", "vec", queries, k, nprobe)
            .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        }
        def check(rows: Seq[(Long, Long)]): Seq[String] = {
          val got = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
          val missing = ids.filter(planted.contains).filterNot(q => got.getOrElse(q, Set.empty)(planted(q)))
          Seq(
            s"${rows.length} rows != ${ids.size} queries × $k" -> (rows.length == ids.size * k),
            s"${rows.distinct.length} distinct rows != ${rows.length}" -> (rows.distinct.length == rows.length),
            s"planted replica not returned for ${missing.mkString(",")}" -> missing.isEmpty
          ).collect { case (msg, false) => msg }
        }
        val firstPlanted = rows.indexWhere(r => planted.get(r._1).contains(r._2))
        PassResult(ids.size.toLong, () => Nil,
          check = () => {
            val got = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
            ids.foreach { q =>
              recallSum += (got.getOrElse(q, Set.empty) intersect exact(q)).size.toDouble / k
              recallN += 1
            }
            check(rows)
          },
          corruptions = Seq(
            "results: one row dropped" -> (() => check(rows.tail)),
            "results: one row repeated" -> (() => check(rows.tail :+ rows.last)),
            "results: planted replica replaced" -> (() =>
              if (firstPlanted < 0) Seq("no planted query in this batch")
              else check(rows.updated(firstPlanted, (rows(firstPlanted)._1, -1L))))))
      }

      def recall: Double = if (recallN == 0) 0.0 else recallSum / recallN

      override def runChecks(): Seq[String] =
        if (recall >= recallFloor) Nil else Seq(f"recall_at_10 $recall%.4f below floor $recallFloor")

      override def extra(): Seq[(String, Double, String)] =
        Seq(("recall_at_10", recall, s"ratio (over $recallN queries)"))

      override def probes(): Map[String, Double] = {
        import spark.implicits._
        val q = queryVecs(poolIds.head)
        val one = Seq((poolIds.head, q)).toDF("qid", "qv")
        val qcodes = one.select(Quantize.int8(col("qv"))).head().getAs[Array[Byte]](0)
        val books = Similarity.trainPqCodebooks(corpus, "id", "vec", m = 8, ksub = 256,
          sampleSize = 4000, iters = 5)
        val table = one.select(Pq.adcTable(col("qv"), books)).head().getSeq[Double](0)
        val codes = Kernels.cached(env, corpus.select(Quantize.int8(col("vec")).as("c")))
        val pq = Kernels.cached(env, corpus.select(Pq.codes(col("vec"), books).as("c")))
        // candidates a query scores: the vectors of its probed cells
        val cellSize = spark.read.parquet(s"$indexPath/codes").groupBy("cell").count()
          .collect().map(r => r.get(0).toString.toInt -> r.getLong(1)).toMap
        val probeCells = poolIds.map(queryVecs).toDF("qv")
          .select(IvfCells.cells(col("qv"), cents, nprobe)).collect().map(_.getSeq[Int](0))
        val perQuery = probeCells.map(cs => cs.map(c => cellSize.getOrElse(c, 0L)).sum - 1).sum.toDouble /
          probeCells.length
        Map(
          "functions.sq8_cosine_ns" -> Kernels.nsPerRow(codes, _.select(Quantize.cosine(col("c"), lit(qcodes)))),
          "functions.pq_adc_ns" -> Kernels.nsPerRow(pq, _.select(Pq.adcScore(col("c"), typedLit(table)))),
          "operators.ann_candidates_per_query" -> perQuery)
      }
    }
  }
}
