package graft.queries

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Multimodal, QualityModel, Similarity}
import graft.operators.Similarity.AnnIndex

/** The frozen state the DuckDB oracles replay, and the one place that
  * decides how it is keyed, stored and trained.
  *
  * Six oracles (`embed_ann_ivf`, `embed_ann_ivf_sq8`, `embed_ann_pq`,
  * `embed_ann_ivf_pq`, `sample_cluster_balanced_ivf`,
  * `quality_classifier`) need a trained model that SQL cannot retrain:
  * centroids, PQ codebooks, logistic weights. Each fixture's models are
  * one [[State]]; the oracle SQL carries every known state as `VALUES`
  * rows keyed by a fingerprint and picks its own by the fingerprint
  * DuckDB computes from the data. An unknown fixture matches no row and
  * the oracle returns zero rows: a loud fail, never a silent pass.
  *
  * Storage is plain text, `key<TAB>value` per line, doubles written with
  * `Double.toString` (which round-trips every double exactly). The
  * shipped fixtures' states and the media hash tables are committed
  * resources under `graft/golden/`; a [[graft.ScaleFixture]] dir carries
  * its own state in `<dir>/_golden/states.tsv`. `AnnGoldenSpec` and
  * `MediaGoldenSpec` retrain and compare bit for bit: the drift alarm.
  * After an intentional trainer, codec or fixture change, regenerate the
  * committed files with [[main]]. */
object Golden {
  type Mat = Array[Array[Double]]
  type Books = Array[Array[Array[Double]]]

  /** Order-free embeddings fingerprint: COUNT(*) + SUM(floor(|first
    * element| · 2^20)). float→double is exact and the 2^20 scale keeps
    * every term integral, so Spark and DuckDB agree bit for bit. */
  def embFingerprint(emb: DataFrame): Long =
    emb.agg((count(lit(1)) +
      sum(floor(abs(element_at(col("embedding").cast("array<double>"),
        1)) * 1048576.0).cast("long"))).as("fp"))
      .head().getLong(0)

  /** DuckDB mirror of [[embFingerprint]], as the oracles' `fpv(fp)` CTE. */
  val EmbFingerprintSql: String =
    "fpv AS (SELECT (SELECT COUNT(*) + SUM(CAST(floor(abs(CAST(embedding AS DOUBLE[])[1])" +
      " * 1048576.0) AS BIGINT)) FROM embeddings) AS fp)"

  /** Documents fingerprint: COUNT(*) + SUM(length(text)). doc_ids repeat
    * across fixtures (0..N-1) while texts differ, so it reads the text. */
  def docFingerprint(docs: DataFrame): Long =
    docs.agg((count(lit(1)) + sum(length(col("text")))).as("fp")).head().getLong(0)

  /** DuckDB mirror of [[docFingerprint]], as the oracles' `fpv(fp)` CTE. */
  val DocFingerprintSql: String =
    "fpv AS (SELECT COUNT(*) + SUM(length(text)) AS fp FROM documents)"

  /** One fixture's trained state. `cents`, `flat`, `resid` and `cents8`
    * are keyed by `embFp`, `quality` by `docFp`; `name` only labels it. */
  final case class State(name: String, embFp: Long, docFp: Long, cents: Mat,
      flat: Books, resid: Books, cents8: Mat, quality: QualityModel.Weights) {
    def sameVectors(o: State): Boolean = java.util.Arrays.deepEquals(
      Array[AnyRef](cents, flat, resid, cents8),
      Array[AnyRef](o.cents, o.flat, o.resid, o.cents8))
    def sameQuality(o: State): Boolean =
      java.util.Arrays.equals(qualityRow, o.qualityRow)
    private def qualityRow: Array[Double] = quality.bias +: quality.w
  }

  /** Fingerprint → state, once per fingerprint kind. */
  final case class Store(byEmb: Map[Long, State], byDoc: Map[Long, State]) {
    /** This store plus `s`. A fingerprint already held must come with
      * equal state, else this fails naming it: two models under one key
      * would make the oracle replay either. */
    def +(s: State): Store = {
      byEmb.get(s.embFp).foreach(h => require(h.sameVectors(s),
        s"golden state ${s.name}: embeddings fingerprint ${s.embFp} is held " +
          s"by ${h.name} with different centroids or codebooks"))
      byDoc.get(s.docFp).foreach(h => require(h.sameQuality(s),
        s"golden state ${s.name}: documents fingerprint ${s.docFp} is held " +
          s"by ${h.name} with different quality weights"))
      Store(byEmb.updated(s.embFp, byEmb.getOrElse(s.embFp, s)),
        byDoc.updated(s.docFp, byDoc.getOrElse(s.docFp, s)))
    }
  }

  /** The shipped fixtures' states, from the committed resources. */
  lazy val committed: Store =
    readStates(resource("states.tsv")).foldLeft(Store(Map.empty, Map.empty))(_ + _)

  /** [[committed]] plus the states `dir` carries. */
  def forDir(dir: String): Store = own(dir).foldLeft(committed)(_ + _)

  /** The states a fixture dir carries in `_golden/states.tsv` (a
    * [[graft.ScaleFixture]] dir does; a shipped fixture does not). */
  def own(dir: String): Seq[State] = {
    val f = ownFile(dir)
    if (Files.exists(f)) readStates(Files.readAllLines(f, UTF_8).asScala.toSeq) else Nil
  }

  def writeOwn(dir: String, state: State): Unit =
    writeStates(Files.createDirectories(ownFile(dir).getParent).resolve("states.tsv"),
      Seq(state))

  private def ownFile(dir: String): Path = Paths.get(dir, "_golden", "states.tsv")

  /** Train `dir`'s state with the trainers and parameters of the six
    * registered queries. */
  def train(spark: SparkSession, dir: String): State = {
    val emb = Tables.embeddings(spark, dir)
    def books(idx: AnnIndex): Books = idx.code match {
      case AnnIndex.Pq(b) => b
      case c => throw new IllegalStateException(s"expected a PQ index, got $c")
    }
    val ivfPq = PipelineQueries.Ann.build(spark, dir)
    State(Paths.get(dir).getFileName.toString, embFingerprint(emb),
      docFingerprint(Tables.documents(spark, dir)), ivfPq.coarse.get,
      books(AnnIndex.fit(emb, "vec_id", "embedding", "PQ")), books(ivfPq),
      Similarity.trainIvfCentroids(emb, "vec_id", "embedding", nlist = 8),
      PipelineQueries.trainedQualityWeights(spark, dir))
  }

  private def writeStates(file: Path, states: Seq[State]): Unit = {
    def row(d: Array[Double]) = d.map(java.lang.Double.toString).mkString(",")
    def mat(key: String, m: Mat) = m.indices.map(i => s"$key.$i\t${row(m(i))}")
    def books(key: String, b: Books) = b.indices.flatMap(j => mat(s"$key.$j", b(j)))
    write(file, states.flatMap(s =>
      Seq(s"state\t${s.name}", s"emb_fp\t${s.embFp}", s"doc_fp\t${s.docFp}") ++
        mat("cents", s.cents) ++ books("flat", s.flat) ++ books("resid", s.resid) ++
        mat("cents8", s.cents8) :+ s"quality\t${row(s.quality.bias +: s.quality.w)}"))
  }

  /** The states in `lines`; each opens with its `state` line. */
  private def readStates(lines: Seq[String]): Seq[State] =
    records(lines).map { kv =>
      def row(v: String) = v.split(",").map(java.lang.Double.parseDouble)
      def mat(key: String): Mat = indexed(kv, key).map(row).toArray
      def books(key: String): Books = Iterator.from(0).map(j => mat(s"$key.$j"))
        .takeWhile(_.nonEmpty).toArray
      val q = row(kv("quality"))
      State(kv("state"), kv("emb_fp").toLong, kv("doc_fp").toLong, mat("cents"),
        books("flat"), books("resid"), mat("cents8"),
        QualityModel.Weights(q.head, q.tail))
    }

  /** The frozen perceptual-hash tables behind the three `media_*`
    * oracles, each a fixed-stride hex dump: hash(id) is the 16 hex chars
    * at offset 16·id. `img`: dHash of the patterned PNG of ids
    * 0..4999 (every shipped fixture's doc ids) through the real PNG codec
    * and Java2D resize; `imgTwin`: its JPEG re-encode, ids 0..15; `aud`
    * and `audTwin`: the audio envelope hash of the modulated WAV and of
    * its 1.02×-gain twin. The codecs cannot run in DuckDB, and frozen
    * values keep the oracle independent of the code under test: a codec,
    * kernel or id-plumbing drift shows as a hash mismatch. The table
    * covers ids 0..4999 only, so a derived dir's shifted ids miss it. */
  final case class Media(img: String, imgTwin: String, aud: String, audTwin: String)

  lazy val media: Media = {
    val kv = records(resource("media.tsv")).head
    def table(key: String) = indexed(kv, key).mkString
    Media(table("img"), table("img_twin"), table("aud"), table("aud_twin"))
  }

  /** The hash of `id` in a [[Media]] table. */
  def hashAt(table: String, id: Int): Long =
    java.lang.Long.parseUnsignedLong(table.substring(id * 16, id * 16 + 16), 16)

  /** The one regeneration command, named by every drift alarm. */
  val Regenerate: String = "sbt \"runMain graft.queries.Golden " +
    "src/main/resources/graft/golden <fixtures>/sf0.001 <fixtures>/sf0.01 <fixtures>/sf0.1\""

  /** Regenerate the committed files: `runMain graft.queries.Golden
    * <outDir> <sfDir>...` writes `states.tsv` (one state per fixture dir)
    * and `media.tsv` into `outDir`. */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: runMain graft.queries.Golden <outDir> <sfDir> [<sfDir>...]")
    val spark = graft.SparkEntry.localSession()
    try {
      val out = Files.createDirectories(Paths.get(args(0)))
      writeStates(out.resolve("states.tsv"), args.tail.map(train(spark, _)).toSeq)
      val ids = spark.range(0, 5000).select(col("id").as("doc_id"))
      val twinIds = ids.filter(col("doc_id") < 16)
      def hex(key: String, hashes: DataFrame): Seq[String] =
        hashes.collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
          .map { case (id, h) => f"$key.$id\t$h%016x" }.toSeq
      write(out.resolve("media.tsv"),
        hex("img", Multimodal.perceptualHash(spark, Multimodal.syntheticPatternMedia(ids))) ++
        hex("img_twin", Multimodal.perceptualHash(spark, Multimodal.transcodeImages(spark,
          Multimodal.syntheticPatternMedia(twinIds), "jpg"))) ++
        hex("aud", Multimodal.audioEnvelopeHash(spark, Multimodal.syntheticModulatedAudio(ids))) ++
        hex("aud_twin", Multimodal.audioEnvelopeHash(spark,
          Multimodal.syntheticModulatedAudio(twinIds, ampScale = 1.02))))
    } finally spark.stop()
  }

  private def write(file: Path, lines: Seq[String]): Unit =
    Files.write(file, lines.asJava, UTF_8)

  private def resource(name: String): Seq[String] = {
    val in = getClass.getResourceAsStream(s"/graft/golden/$name")
    require(in != null, s"golden resource graft/golden/$name is missing")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector finally in.close()
  }

  /** The values of `key.0`, `key.1`, ... up to the first missing index. */
  private def indexed(kv: Map[String, String], key: String): Seq[String] =
    Iterator.from(0).map(i => s"$key.$i").takeWhile(kv.contains).map(kv).toVector

  /** `key<TAB>value` lines as maps; a `state` key opens a new map. */
  private def records(lines: Seq[String]): Seq[Map[String, String]] =
    lines.filter(_.nonEmpty).map { l =>
      val Array(k, v) = l.split("\t", 2)
      k -> v
    }.foldLeft(Vector.empty[Vector[(String, String)]]) {
      case (acc, kv) if kv._1 == "state" || acc.isEmpty => acc :+ Vector(kv)
      case (acc, kv) => acc.init :+ (acc.last :+ kv)
    }.map(_.toMap)
}
