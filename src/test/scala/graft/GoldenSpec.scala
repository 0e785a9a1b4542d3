package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.QualityModel
import graft.queries.Golden

/** The golden store itself: the text format keeps every double's bits,
  * a fingerprint cannot carry two different states, and the committed
  * store is exactly the three shipped fixtures. No Spark. */
class GoldenSpec extends AnyFunSuite {

  private val odd = Array(-0.0, 0.1 + 0.2, Double.MinPositiveValue, -Double.MaxValue,
    1e-300, java.lang.Double.longBitsToDouble(0x000fffffffffffffL), 1.0 / 3.0, 4.9e-12)

  private def fabricated(embFp: Long, docFp: Long) = Golden.State("fabricated",
    embFp, docFp, Array(odd, odd.reverse), Array(Array(odd), Array(odd.map(-_))),
    Array(Array(odd.reverse)), Array(odd), QualityModel.Weights(-0.0, odd))

  private def bits(s: Golden.State): Seq[Long] =
    (Seq[Golden.Mat](s.cents, s.cents8) ++ s.flat ++ s.resid :+
      Array(s.quality.bias +: s.quality.w))
      .flatMap(_.flatten.toSeq).map(java.lang.Double.doubleToRawLongBits(_))

  test("a state written to a dir and read back keeps every double's raw bits") {
    val dir = Files.createTempDirectory("graft_golden")
    try {
      val st = fabricated(Long.MaxValue, Long.MinValue)
      Golden.writeOwn(dir.toString, st)
      val Seq(back) = Golden.own(dir.toString)
      assert((back.name, back.embFp, back.docFp) === (st.name, st.embFp, st.docFp))
      assert(back.flat.map(_.length).toSeq === st.flat.map(_.length).toSeq)
      assert(bits(back) === bits(st))
      assert(bits(Golden.forDir(dir.toString).byDoc(Long.MinValue)) === bits(st))
    } finally FileUtils.deleteDirectory(dir.toFile)
  }

  test("a fingerprint already committed accepts only its equal state") {
    val held = Golden.committed.byEmb.values.minBy(_.embFp)
    val clash = intercept[IllegalArgumentException] {
      Golden.committed + fabricated(held.embFp, 7L)
    }
    assert(clash.getMessage.contains(s"embeddings fingerprint ${held.embFp}"))
    val docClash = intercept[IllegalArgumentException] {
      Golden.committed + fabricated(7L, held.docFp)
    }
    assert(docClash.getMessage.contains(s"documents fingerprint ${held.docFp}"))
    // a reps = 1 derivation: the same vectors, new documents
    val sameVectors = held.copy(name = "derived", docFp = 7L,
      quality = QualityModel.Weights(1.0, Array(2.0)))
    val merged = Golden.committed + sameVectors + held
    assert(merged.byEmb === Golden.committed.byEmb)
    assert(merged.byDoc(7L) eq sameVectors)
  }

  test("the committed store holds exactly the three shipped fixtures") {
    val c = Golden.committed
    assert(c.byEmb.values.map(_.name).toSet === Set("sf0.001", "sf0.01", "sf0.1"))
    assert(c.byEmb.size === 3 && c.byDoc.size === 3, "fingerprints must be distinct")
    assert(c.byDoc.values.toSet === c.byEmb.values.toSet)
  }
}
