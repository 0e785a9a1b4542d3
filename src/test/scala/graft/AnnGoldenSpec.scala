package graft

import java.nio.file.Paths

import graft.operators.Similarity
import graft.operators.Similarity.AnnIndex
import graft.queries.{Golden, PipelineQueries, Tables}

/** Drift alarm for the committed golden state ([[graft.queries.Golden]])
  * behind the six model-backed DuckDB oracles: retrain from each shipped
  * fixture with the parameters of the registered queries and compare
  * bit-for-bit — both the bare trainers and the staged ANN index
  * (`PipelineQueries.Ann`) whose values the oracles assume. A failure
  * means the trainer arithmetic or the fixture changed — regenerate
  * with the command the message names ONLY after confirming the change
  * is intentional (a silent refresh would turn the oracle gate vacuous).
  * The fingerprint lookups pin the dispatch: every fixture must hit its
  * own committed state, because the oracle selects it by the
  * fingerprint computed from the data. */
class AnnGoldenSpec extends SparkSpecBase {

  private val sfDirs = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(n => Paths.get(sf).resolveSibling(n).toString)
  private val regen = s"Regenerate via ${Golden.Regenerate} only if intentional"

  private def committed(dir: String): Golden.State = {
    val fp = Golden.embFingerprint(Tables.embeddings(spark, dir))
    Golden.committed.byEmb.getOrElse(fp,
      fail(s"embeddings fingerprint $fp of $dir is not committed — fixture changed? $regen"))
  }

  private def assertMatEqual(got: Golden.Mat, frozen: Golden.Mat, what: String,
      dir: String): Unit = {
    assert(got.length === frozen.length, s"$what row count drift at $dir")
    got.zip(frozen).zipWithIndex.foreach { case ((g, f), i) =>
      assert(java.util.Arrays.equals(g, f),
        s"$what row $i drifted at $dir — trainer or fixture change? $regen")
    }
  }

  private def assertBooksEqual(got: Golden.Books, frozen: Golden.Books,
      what: String, dir: String): Unit = {
    assert(got.length === frozen.length, s"$what m drift at $dir")
    got.zip(frozen).zipWithIndex.foreach { case ((g, f), j) =>
      assertMatEqual(g, f, s"$what book $j", dir)
    }
  }

  test("every fixture's fingerprint hits a distinct frozen quantizer") {
    val states = sfDirs.map(committed)
    assert(states.map(_.embFp).distinct.size === sfDirs.size,
      s"fingerprint collision across fixtures: ${states.map(_.embFp)}")
    assert(states.map(_.name) === Seq("sf0.001", "sf0.01", "sf0.1"))
  }

  test("retrained coarse quantizers match the freeze bit-for-bit") {
    sfDirs.foreach { dir =>
      val emb = Tables.embeddings(spark, dir)
      val frozen = committed(dir).cents
      assertMatEqual(Similarity.trainIvfCentroids(emb, "vec_id", "embedding",
        nlist = 32), frozen, "trained centroid", dir)
      assertMatEqual(PipelineQueries.stage(spark, dir, PipelineQueries.Ann).coarse
        .getOrElse(fail(s"staged ANN index has no coarse quantizer at $dir")),
        frozen, "staged centroid", dir)
    }
  }

  test("retrained small models (nlist=8 cents, quality weights) match " +
      "the freeze bit-for-bit; document fingerprints are distinct") {
    val docFps = sfDirs.map(dir => Golden.docFingerprint(Tables.documents(spark, dir)))
    assert(docFps.distinct.size === sfDirs.size,
      s"document fingerprint collision across fixtures: $docFps")
    sfDirs.zip(docFps).foreach { case (dir, docFp) =>
      val emb = Tables.embeddings(spark, dir)
      assertMatEqual(Similarity.trainIvfCentroids(emb, "vec_id", "embedding",
        nlist = 8), committed(dir).cents8, "cents8 centroid", dir)
      val frozW = Golden.committed.byDoc.getOrElse(docFp,
        fail(s"documents fingerprint $docFp of $dir is not committed. $regen")).quality
      val gotW = PipelineQueries.trainedQualityWeights(spark, dir)
      assert(gotW.bias === frozW.bias && java.util.Arrays.equals(gotW.w, frozW.w),
        s"quality weights drifted at $dir. $regen")
    }
  }

  test("retrained PQ codebooks (flat + IVF-residual) match the freeze " +
      "bit-for-bit") {
    sfDirs.foreach { dir =>
      val emb = Tables.embeddings(spark, dir)
      val frozen = committed(dir)
      assertBooksEqual(Similarity.trainPqCodebooks(emb, "vec_id", "embedding"),
        frozen.flat, "flat-PQ", dir)
      assertBooksEqual(Similarity.trainIvfPqCodebooks(emb, "vec_id", "embedding",
        frozen.cents), frozen.resid, "residual-PQ", dir)
      PipelineQueries.stage(spark, dir, PipelineQueries.Ann).code match {
        case AnnIndex.Pq(books) =>
          assertBooksEqual(books, frozen.resid, "staged residual-PQ", dir)
        case c => fail(s"staged ANN index should be IVF,PQ, has code $c at $dir")
      }
    }
  }
}
