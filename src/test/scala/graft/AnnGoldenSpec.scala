package graft

import graft.operators.Similarity
import graft.operators.Similarity.AnnIndex
import graft.queries.{GoldenAnnCents, GoldenAnnPq, GoldenModels, PipelineQueries, Tables}

/** Drift alarm for the frozen golden IVF quantizers backing the
  * embed_ann_ivf / embed_ann_ivf_sq8 DuckDB oracles
  * ([[graft.queries.GoldenAnnCents]]): retrain from each shipped
  * fixture with the parameters of the staged ANN index
  * (`PipelineQueries.Ann`) and compare bit-for-bit — both the bare
  * trainers and that stage itself, whose values the oracles assume.
  * A failure means the trainer arithmetic or the fixture changed —
  * regenerate via `Test/runMain graft.AnnGoldenScratch`
  * ONLY after confirming the change is intentional (a silent refresh
  * would turn the oracle gate vacuous). Also pins the fingerprint
  * dispatch: every fixture must hit a DISTINCT frozen entry, because
  * the oracle selects centroids by fingerprint computed from the
  * data. */
class AnnGoldenSpec extends SparkSpecBase {

  private val sfDirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
    "/root/testdata/sf0.1")

  test("every fixture's fingerprint hits a distinct frozen quantizer") {
    val fps = sfDirs.map(dir =>
      GoldenAnnCents.fingerprint(Tables.embeddings(spark, dir)))
    assert(fps.distinct.size === sfDirs.size,
      s"fingerprint collision across fixtures: $fps")
    fps.foreach(fp => assert(GoldenAnnCents.byFingerprint.contains(fp),
      s"fingerprint $fp missing from the freeze — fixture changed? " +
        "Regenerate via Test/runMain graft.AnnGoldenScratch"))
  }

  test("retrained coarse quantizers match the freeze bit-for-bit") {
    sfDirs.foreach { dir =>
      val emb = Tables.embeddings(spark, dir)
      val fp = GoldenAnnCents.fingerprint(emb)
      val frozen = GoldenAnnCents.byFingerprint(fp)
      val trained = Similarity.trainIvfCentroids(emb, "vec_id", "embedding",
        nlist = 32)
      val staged = PipelineQueries.stage(spark, dir, PipelineQueries.Ann).coarse
        .getOrElse(fail(s"staged ANN index has no coarse quantizer at $dir"))
      Seq("trained" -> trained, "staged" -> staged).foreach { case (what, got) =>
        assert(got.length === frozen.length, s"$what nlist drift at $dir")
        got.zip(frozen).zipWithIndex.foreach { case ((g, f), i) =>
          assert(java.util.Arrays.equals(g, f),
            s"$what centroid $i drifted at $dir — trainer or fixture change? " +
              "Regenerate via Test/runMain graft.AnnGoldenScratch " +
              "only if intentional")
        }
      }
    }
  }

  private def assertBooksEqual(got: Array[Array[Array[Double]]],
      frozen: Array[Array[Array[Double]]], what: String, dir: String): Unit = {
    assert(got.length === frozen.length, s"$what m drift at $dir")
    got.zip(frozen).zipWithIndex.foreach { case ((gb, fb), j) =>
      assert(gb.length === fb.length, s"$what book $j ksub drift at $dir")
      gb.zip(fb).zipWithIndex.foreach { case ((g, f), c) =>
        assert(java.util.Arrays.equals(g, f),
          s"$what codeword ($j,$c) drifted at $dir — trainer or fixture " +
            "change? Regenerate via Test/runMain graft.AnnGoldenScratch " +
            "only if intentional")
      }
    }
  }

  test("retrained small models (nlist=8 cents, quality weights) match " +
      "the freeze bit-for-bit; document fingerprints are distinct") {
    import org.apache.spark.sql.functions._
    val docFps = sfDirs.map { dir =>
      Tables.documents(spark, dir)
        .agg((count(lit(1)) + sum(length(col("text")))).as("fp"))
        .head().getLong(0)
    }
    assert(docFps.distinct.size === sfDirs.size,
      s"document fingerprint collision across fixtures: $docFps")
    sfDirs.zip(docFps).foreach { case (dir, docFp) =>
      val emb = Tables.embeddings(spark, dir)
      val embFp = GoldenAnnCents.fingerprint(emb)
      val got8 = Similarity.trainIvfCentroids(emb, "vec_id", "embedding",
        nlist = 8)
      val froz8 = GoldenModels.cents8ByFingerprint(embFp)
      assert(got8.length === froz8.length, s"cents8 nlist drift at $dir")
      got8.zip(froz8).zipWithIndex.foreach { case ((g, f), i) =>
        assert(java.util.Arrays.equals(g, f),
          s"cents8 centroid $i drifted at $dir — regenerate via " +
            "Test/runMain graft.ModelGoldenScratch only if intentional")
      }
      val gotW = PipelineQueries.trainedQualityWeights(spark, dir)
      val frozW = GoldenModels.qualityByFingerprint(docFp)
      assert(gotW.bias === frozW.bias &&
          java.util.Arrays.equals(gotW.w, frozW.w),
        s"quality weights drifted at $dir — regenerate via " +
          "Test/runMain graft.ModelGoldenScratch only if intentional")
    }
  }

  test("retrained PQ codebooks (flat + IVF-residual) match the freeze " +
      "bit-for-bit") {
    sfDirs.foreach { dir =>
      val emb = Tables.embeddings(spark, dir)
      val fp = GoldenAnnCents.fingerprint(emb)
      assertBooksEqual(
        Similarity.trainPqCodebooks(emb, "vec_id", "embedding"),
        GoldenAnnPq.flatByFingerprint(fp), "flat-PQ", dir)
      assertBooksEqual(
        Similarity.trainIvfPqCodebooks(emb, "vec_id", "embedding",
          GoldenAnnCents.byFingerprint(fp)),
        GoldenAnnPq.residByFingerprint(fp), "residual-PQ", dir)
      PipelineQueries.stage(spark, dir, PipelineQueries.Ann).code match {
        case AnnIndex.Pq(books) => assertBooksEqual(books,
          GoldenAnnPq.residByFingerprint(fp), "staged residual-PQ", dir)
        case c => fail(s"staged ANN index should be IVF,PQ, has code $c at $dir")
      }
    }
  }
}
