package graft

import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.queries.Golden
import graft.queries.Golden.hashAt

/** The frozen golden hash tables ([[graft.queries.Golden.media]])
  * back the media-dedup oracles — this spec is the drift alarm: it
  * recomputes a sample of every table through the running JVM's real
  * codecs and compares bit-for-bit against the freeze. A failure here
  * means the JVM's PNG/JPEG/WAV codec or Java2D resampler changed —
  * regenerate with the command the message names ONLY after
  * confirming the change is intentional (a silent regeneration would
  * turn the oracle gate vacuous). */
class MediaGoldenSpec extends SparkSpecBase {

  private val regen = s"codec change? Regenerate via ${Golden.Regenerate} only if intentional"

  // 64 base ids spread across the id space + all 16 twins: wide enough
  // to catch any codec drift (a resampler change moves essentially
  // every hash), cheap enough to run in every suite pass
  private val sampleIds = (0L until 16L) ++ (16L until 4996L by 83L)

  private def idsDf = spark.range(0, 5000)
    .filter(col("id").isin(sampleIds: _*)).select(col("id").as("doc_id"))

  test("image dHash table matches the running codec") {
    val got = Multimodal.perceptualHash(spark,
        Multimodal.syntheticPatternMedia(idsDf))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === sampleIds.size)
    sampleIds.foreach { id =>
      assert(got(id) === hashAt(Golden.media.img, id.toInt),
        s"image dHash drifted for id=$id — $regen")
    }
  }

  test("JPEG twin dHash table matches the running codec") {
    val got = Multimodal.perceptualHash(spark,
        Multimodal.transcodeImages(spark,
          Multimodal.syntheticPatternMedia(
            idsDf.filter(col("doc_id") < 16)), "jpg"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 16).foreach { id =>
      assert(got(id.toLong) === hashAt(Golden.media.imgTwin, id),
        s"twin dHash drifted for id=$id — $regen")
    }
  }

  test("audio envelope hash tables match the running codec") {
    val got = Multimodal.audioEnvelopeHash(spark,
        Multimodal.syntheticModulatedAudio(idsDf))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sampleIds.foreach { id =>
      assert(got(id) === hashAt(Golden.media.aud, id.toInt),
        s"audio hash drifted for id=$id — $regen")
    }
    val twins = Multimodal.audioEnvelopeHash(spark,
        Multimodal.syntheticModulatedAudio(
          idsDf.filter(col("doc_id") < 16), ampScale = 1.02))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 16).foreach { id =>
      assert(twins(id.toLong) === hashAt(Golden.media.audTwin, id),
        s"audio twin hash drifted for id=$id — $regen")
    }
  }
}
