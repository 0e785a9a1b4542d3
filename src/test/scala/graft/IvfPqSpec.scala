package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.operators.Similarity.AnnIndex
import graft.queries.Tables

/** IVF-PQ (FAISS IndexIVFPQ shape): residual encoding kernels, the
  * score decomposition ⟨q,v⟩ ≈ ⟨q,c⟩ + ADC(residual), recall vs the
  * exact path, and the persisted cell-partitioned index. */
class IvfPqSpec extends SparkSpecBase {

  private lazy val emb = Tables.embeddings(spark, sf)
  private lazy val queries = emb.filter(col("vec_id") < 8)
    .select(col("vec_id").as("qid"),
      Similarity.asDouble(col("embedding")).as("qv"))

  private lazy val cents =
    Similarity.trainIvfCentroids(emb, "vec_id", "embedding", nlist = 32)
  private lazy val books =
    Similarity.trainIvfPqCodebooks(emb, "vec_id", "embedding", cents)

  test("residualCodes: cell matches IvfCells, codes deterministic, m bytes") {
    val rows = emb.limit(64)
      .select(col("vec_id"),
        graft.functions.Pq.residualCodes(
          Similarity.asDouble(col("embedding")), cents, books).as("rc"),
        element_at(graft.functions.IvfCells.cells(
          Similarity.asDouble(col("embedding")), cents, 1), 1).as("cell1"))
      .collect()
    rows.foreach { r =>
      val rc = r.getStruct(1)
      assert(rc.getInt(0) === r.getInt(2),
        s"vec ${r.getLong(0)}: struct cell must equal IvfCells assignment")
      assert(rc.getAs[Array[Byte]](1).length === books.length,
        s"vec ${r.getLong(0)}: code blob must be m bytes")
    }
    // determinism: a second evaluation is bit-identical
    val again = emb.limit(64)
      .select(col("vec_id"),
        graft.functions.Pq.residualCodes(
          Similarity.asDouble(col("embedding")), cents, books).as("rc"))
      .collect()
    assert(rows.map(r => (r.getLong(0), r.getStruct(1).getInt(0),
        r.getStruct(1).getAs[Array[Byte]](1).toSeq)).toSeq ===
      again.map(r => (r.getLong(0), r.getStruct(1).getInt(0),
        r.getStruct(1).getAs[Array[Byte]](1).toSeq)).toSeq)
  }

  test("residualCodes null contracts: null element, zero-norm, NaN → NULL row") {
    import spark.implicits._
    val edge = Seq(
        (1L, Seq[java.lang.Double](1.0, null, 3.0, 4.0)),
        (2L, Seq[java.lang.Double](0.0, 0.0, 0.0, 0.0)),
        (3L, Seq[java.lang.Double](Double.NaN, 1.0, 2.0, 3.0)))
      .toDF("id", "v")
      .select(col("id"), col("v").cast("array<double>").as("v"))
    val smallCents = Array(Array(1.0, 0.0, 0.0, 0.0))
    val smallBooks = Array.fill(2)(Array(Array(0.0, 0.0)))
    val rows = edge.select(col("id"),
        graft.functions.Pq.residualCodes(col("v"), smallCents, smallBooks).as("rc"))
      .orderBy(col("id")).collect()
    assert(rows.forall(_.isNullAt(1)),
      "corrupt/zero-norm vectors must yield NULL, not garbage codes")
  }

  /** Mean/max |score − exact cosine| of the IVF-PQ decomposition and
    * flat-PQ ADC over all (slice row, query) pairs. */
  private def adcErrors(corpus: org.apache.spark.sql.DataFrame,
      qs: org.apache.spark.sql.DataFrame,
      cs: Array[Array[Double]], rBooks: Array[Array[Array[Double]]],
      fBooks: Array[Array[Array[Double]]]): (Double, Double, Double) = {
    val centDots = array(cs.toIndexedSeq.map { c =>
      Similarity.cosine(col("qv"), array(c.toIndexedSeq.map(lit): _*))
    }: _*)
    val q = qs.select(col("qid"), col("qv"),
      graft.functions.Pq.adcTable(col("qv"), rBooks).as("rtable"),
      graft.functions.Pq.adcTable(col("qv"), fBooks).as("ftable"),
      centDots.as("cdots"))
    val r = corpus.select(col("vec_id"),
        Similarity.asDouble(col("embedding")).as("v"),
        graft.functions.Pq.residualCodes(
          Similarity.asDouble(col("embedding")), cs, rBooks).as("rc"),
        graft.functions.Pq.codes(
          Similarity.asDouble(col("embedding")), fBooks).as("fcodes"))
      .crossJoin(broadcast(q))
      .select(
        abs(element_at(col("cdots"), col("rc.cell") + 1) +
          graft.functions.Pq.adcScore(col("rc.codes"), col("rtable")) -
          Similarity.cosine(col("v"), col("qv"))).as("rerr"),
        abs(graft.functions.Pq.adcScore(col("fcodes"), col("ftable")) -
          Similarity.cosine(col("v"), col("qv"))).as("ferr"))
      .agg(avg(col("rerr")), avg(col("ferr")), max(col("rerr")))
      .head()
    (r.getDouble(0), r.getDouble(1), r.getDouble(2))
  }

  test("residual ADC score error is bounded on the real fixture") {
    // on THIS near-uniform fixture residual PQ roughly TIES flat PQ
    // (nlist=32 cells at d=32 leave residual norms ~1 — no structure
    // to exploit), so the pin here is the absolute error bound; the
    // residual ADVANTAGE is pinned on the clustered fixture below,
    // where the mechanism must engage
    val flatBooks = Similarity.trainPqCodebooks(emb, "vec_id", "embedding")
    val (rerr, ferr, rmax) = adcErrors(emb.limit(256), queries,
      cents, books, flatBooks)
    info(f"real fixture mean |err|: residual=$rerr%.4f flat=$ferr%.4f max residual=$rmax%.4f")
    assert(rerr < 0.06, f"residual ADC mean error $rerr%.4f out of bounds")
    assert(rmax < 0.5, f"residual ADC worst-case error $rmax%.4f out of bounds")
  }

  test("residual PQ beats flat PQ on clustered data — the IVF-PQ mechanism") {
    import spark.implicits._
    // deterministic clustered fixture: 32 well-separated unit anchors
    // in d=16, 1024 vectors = anchor(id % 32) + 5% splitmix noise.
    // The anchor count EXCEEDS ksub=16 by design: flat PQ's 16
    // centroids per subspace cannot even represent the 32 anchor
    // subvectors (its error floor is inter-anchor distance), while
    // residual PQ's coarse term removes the anchor exactly and its
    // books only quantize the shared noise ball. This is the true
    // billion-vector IVF-PQ argument: coarse structure lives in the
    // coarse quantizer, the byte budget goes to the residual.
    //
    // (A previous revision used 8 anchors with ksub=16 — provably
    // insufficient: flat PQ then gets 2 centroids per anchor cluster
    // and quantization error scales ~k^(-1/dsub), so the achievable
    // residual advantage caps at (16/2)^(-1/4) ≈ 0.59, i.e. ~1.7×,
    // and the measured 1.57× matched that theory. The 2× pin needs a
    // fixture where the mechanism can actually deliver 2×.)
    val d = 16
    val nAnchors = 32
    val anchors = Similarity.hyperplanes(nAnchors, d).map { a =>
      val n = math.sqrt(a.map(x => x * x).sum); a.map(_ / n)
    }
    def noise(id: Long, j: Int): Double = {
      val z = graft.functions.HashExprs.mix64(id * 1000003L + j)
      ((z >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0) * 0.05
    }
    val rows = (0L until 1024L).map { id =>
      val a = anchors((id % nAnchors).toInt)
      (id, (0 until d).map(j => a(j) + noise(id, j)).toArray.toSeq)
    }
    val clustered = rows.toDF("vec_id", "embedding")
    val qs = clustered.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"),
        Similarity.asDouble(col("embedding")).as("qv"))
    val cs = Similarity.trainIvfCentroids(clustered, "vec_id", "embedding",
      nlist = nAnchors)
    val rBooks = Similarity.trainIvfPqCodebooks(clustered, "vec_id",
      "embedding", cs, m = 4, ksub = 16)
    val fBooks = Similarity.trainPqCodebooks(clustered, "vec_id", "embedding",
      m = 4, ksub = 16)
    val (rerr, ferr, rmax) = adcErrors(clustered, qs, cs, rBooks, fBooks)
    info(f"clustered mean |err|: residual=$rerr%.4f flat=$ferr%.4f max residual=$rmax%.4f")
    assert(rerr < ferr / 2,
      f"residual PQ ($rerr%.4f) should quantize ≥2× tighter than flat PQ ($ferr%.4f) on clustered data")
  }

  test("CentroidDots: raw-centroid dots, NOT cosine — non-unit centroids stay unbiased") {
    import spark.implicits._
    // the decomposition ⟨q,v̂⟩ = ⟨unit(q), c⟩ + ⟨unit(q), r̂⟩ needs the
    // RAW centroid dot (the residual v−c is defined against c as-is);
    // dividing by ‖c‖ (cosine) would scale each cell's coarse term by
    // 1/‖c‖ when a caller supplies non-unit centroids. Pin with a
    // centroid of norm 2: expect ⟨unit(q), c⟩ = 2·cos(q, c).
    val cs = Array(Array(2.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0))
    val rows = Seq((1L, Seq(3.0, 4.0, 0.0, 0.0)),          // unit = (0.6, 0.8, 0, 0)
        (2L, Seq[Double]()), (3L, Seq(0.0, 0.0, 0.0, 0.0))) // empty + zero-norm → NULL
      .toDF("id", "v")
      .select(col("id"), col("v").cast("array<double>").as("v"))
    val got = rows.select(col("id"),
        graft.functions.CentroidDots.dots(col("v"), cs).as("d"))
      .orderBy(col("id")).collect()
    val d1 = got(0).getSeq[Double](1)
    assert(math.abs(d1(0) - 1.2) < 1e-12, s"raw dot vs c of norm 2: got ${d1(0)}, want 0.6*2")
    assert(math.abs(d1(1) - 0.8) < 1e-12)
    assert(got(1).isNullAt(1) && got(2).isNullAt(1),
      "empty / zero-norm vectors must yield NULL (no unit direction)")
    // null element → NULL row, same contract as IvfCells
    val withNull = Seq((4L, Seq[java.lang.Double](1.0, null, 0.0, 0.0))).toDF("id", "v")
      .select(col("id"), col("v").cast("array<double>").as("v"))
      .select(graft.functions.CentroidDots.dots(col("v"), cs).as("d")).head()
    assert(withNull.isNullAt(0))
  }

  test("ivfPqTopK recall vs brute force") {
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = AnnIndex(Some(cents), AnnIndex.Pq(books))
      .search(emb, "vec_id", "embedding", queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & ivfpq).size.toDouble / bf.size
    info(f"ivf-pq recall: $recall%.3f")
    assert(recall >= 0.75, s"IVF-PQ recall $recall too low")
  }

  test("trainIvfPqCodebooks contracts: divisibility, ksub cap, mismatch guards") {
    // dimension not divisible by m must fail loud on the driver
    val ex = intercept[IllegalArgumentException] {
      Similarity.trainIvfPqCodebooks(emb, "vec_id", "embedding", cents, m = 5)
    }
    assert(ex.getMessage.contains("divisible"))
    intercept[IllegalArgumentException] {
      Similarity.trainIvfPqCodebooks(emb, "vec_id", "embedding", cents, ksub = 300)
    }
    // supplied centroids/codebooks that disagree with nlist/m raise
    intercept[IllegalArgumentException] {
      AnnIndex.fit(emb, "vec_id", "embedding", "IVF,PQ",
        nlist = 16, centroids = cents)
    }
    intercept[IllegalArgumentException] {
      AnnIndex.fit(emb, "vec_id", "embedding", "IVF,PQ",
        m = 4, centroids = cents, codebooks = books)
    }
    // empty corpus: degenerate books of the right shape, no crash
    val empty = emb.filter(col("vec_id") < 0)
    val deg = Similarity.trainIvfPqCodebooks(empty, "vec_id", "embedding",
      cents, m = 8)
    assert(deg.length === 8)
    assert(deg.forall(_.head.length === cents.head.length / 8))
  }
}
