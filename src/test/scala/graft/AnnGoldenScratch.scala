package graft

// Scratch main (round 17): freeze the per-fixture IVF coarse
// quantizers as golden literals for the DuckDB oracles of the
// embed_ann_ivf / embed_ann_ivf_sq8 rows — the GoldenMediaHashes
// pattern applied to the ANN family. For each shipped SF dir this
// trains the centroids EXACTLY as the staged PipelineQueries.Ann index
// does (trainIvfCentroids, nlist=32, all defaults) and dumps a complete
// GoldenAnnCents.scala to /tmp. Not a test; run with Test/runMain
// after an INTENTIONAL trainer/fixture change only, then refresh
// src/main/scala/graft/queries/GoldenAnnCents.scala.
object AnnGoldenScratch {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[8]").config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sfDirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
      "/root/testdata/sf0.1")
    // inline fingerprint (identical to GoldenAnnCents.fingerprint —
    // the scratch must not depend on the file it generates)
    def fpOf(emb: org.apache.spark.sql.DataFrame): Long = {
      import org.apache.spark.sql.functions._
      emb.agg((count(lit(1)) +
        sum(floor(abs(element_at(col("embedding").cast("array<double>"),
          1)) * 1048576.0).cast("long"))).as("fp"))
        .head().getLong(0)
    }
    val blocks = sfDirs.map { dir =>
      val emb = graft.queries.Tables.embeddings(spark, dir)
      val fp = fpOf(emb)
      val cents = graft.operators.Similarity.trainIvfCentroids(
        emb, "vec_id", "embedding", nlist = 32)
      require(cents.length == 32 && cents.forall(_.length == 64),
        s"unexpected centroid shape at $dir")
      // two strings per fixture: a 32x64 double dump stays well under
      // the JVM's 65535-byte string-constant cap when split in half
      val half = cents.length / 2
      def enc(cs: Array[Array[Double]]): String =
        cs.map(_.map(d => java.lang.Double.toString(d)).mkString(","))
          .mkString(";")
      (dir, fp, enc(cents.take(half)), enc(cents.drop(half)))
    }
    val sb = new StringBuilder
    sb ++= "package graft.queries\n\n"
    sb ++= "/** Frozen golden IVF coarse quantizers per shipped fixture.\n"
    sb ++= "  * GENERATED by `sbt \"Test/runMain graft.AnnGoldenScratch\"` -- see\n"
    sb ++= "  * that scratch for the regeneration contract. Hand edits WILL be\n"
    sb ++= "  * lost; AnnGoldenSpec retrains and fails loudly on drift. */\n"
    sb ++= "private[graft] object GoldenAnnCents {\n"
    sb ++= GOLDEN_HELPERS
    blocks.zipWithIndex.foreach { case ((dir, fp, a, b), i) =>
      sb ++= s"  // ${dir}\n"
      sb ++= s"  private val FpA$i = ${fp}L\n"
      sb ++= s"  private val CentsA${i}a: String = \"$a\"\n"
      sb ++= s"  private val CentsA${i}b: String = \"$b\"\n"
    }
    sb ++= "  val byFingerprint: Map[Long, Array[Array[Double]]] = Map(\n"
    sb ++= blocks.indices.map(i =>
      s"    FpA$i -> parse(CentsA${i}a + \";\" + CentsA${i}b)").mkString(",\n")
    sb ++= "\n  )\n}\n"
    val out = new java.io.PrintWriter("/tmp/GoldenAnnCents.scala")
    out.print(sb.toString)
    out.close()
    println(s"[ann-golden] wrote /tmp/GoldenAnnCents.scala " +
      s"(${blocks.map(_._2).mkString(", ")})")

    // ---- GoldenAnnPq: flat-PQ and IVF-residual-PQ codebooks, the
    // same freeze for the embed_ann_pq / embed_ann_ivf_pq oracles.
    // One string constant per (fixture, set, subspace): 256×8 doubles
    // ≈ 43 KB, under the JVM's 65535-byte constant cap.
    val pqBlocks = sfDirs.map { dir =>
      val emb = graft.queries.Tables.embeddings(spark, dir)
      val fp = fpOf(emb)
      val cents = graft.operators.Similarity.trainIvfCentroids(
        emb, "vec_id", "embedding", nlist = 32)
      val flat = graft.operators.Similarity.trainPqCodebooks(
        emb, "vec_id", "embedding")
      val resid = graft.operators.Similarity.trainIvfPqCodebooks(
        emb, "vec_id", "embedding", cents)
      require(flat.length == 8 && resid.length == 8 &&
        flat.forall(_.forall(_.length == 8)) &&
        resid.forall(_.forall(_.length == 8)),
        s"unexpected codebook shape at $dir")
      (fp, flat, resid)
    }
    val pb = new StringBuilder
    pb ++= "package graft.queries\n\n"
    pb ++= "/** Frozen golden PQ codebooks per shipped fixture (flat PQ of\n"
    pb ++= "  * trainPqCodebooks and IVF-residual PQ of trainIvfPqCodebooks over\n"
    pb ++= "  * the GoldenAnnCents coarse quantizer, all defaults).\n"
    pb ++= "  * GENERATED by `sbt \"Test/runMain graft.AnnGoldenScratch\"`.\n"
    pb ++= "  * Hand edits WILL be lost; AnnGoldenSpec is the drift alarm. */\n"
    pb ++= "private[graft] object GoldenAnnPq {\n"
    pb ++= "  private def parse(ss: Seq[String]): Array[Array[Array[Double]]] =\n"
    pb ++= "    ss.toArray.map(_.split(\";\").map(_.split(\",\")" +
      ".map(java.lang.Double.parseDouble)))\n\n"
    def encBook(b: Array[Array[Double]]): String =
      b.map(_.map(d => java.lang.Double.toString(d)).mkString(","))
        .mkString(";")
    pqBlocks.zipWithIndex.foreach { case ((fp, flat, resid), i) =>
      pb ++= s"  private val FpB$i = ${fp}L\n"
      flat.zipWithIndex.foreach { case (b, j) =>
        pb ++= s"  private val Flat${i}_$j: String = \"${encBook(b)}\"\n"
      }
      resid.zipWithIndex.foreach { case (b, j) =>
        pb ++= s"  private val Res${i}_$j: String = \"${encBook(b)}\"\n"
      }
    }
    def seqOf(pfx: String, i: Int): String =
      (0 until 8).map(j => s"$pfx${i}_$j").mkString("Seq(", ", ", ")")
    pb ++= "  val flatByFingerprint: Map[Long, Array[Array[Array[Double]]]] = Map(\n"
    pb ++= pqBlocks.indices.map(i =>
      s"    FpB$i -> parse(${seqOf("Flat", i)})").mkString(",\n")
    pb ++= "\n  )\n"
    pb ++= "  val residByFingerprint: Map[Long, Array[Array[Array[Double]]]] = Map(\n"
    pb ++= pqBlocks.indices.map(i =>
      s"    FpB$i -> parse(${seqOf("Res", i)})").mkString(",\n")
    pb ++= "\n  )\n}\n"
    val out2 = new java.io.PrintWriter("/tmp/GoldenAnnPq.scala")
    out2.print(pb.toString)
    out2.close()
    println(s"[ann-golden] wrote /tmp/GoldenAnnPq.scala " +
      s"(${pqBlocks.map(_._1).mkString(", ")})")
    spark.stop()
  }

  private val GOLDEN_HELPERS: String =
    """  /** Order-independent integer fixture fingerprint -- MUST stay the
      |    * exact DuckDB expression interpolated by AnnOracles.fingerprintSql
      |    * (COUNT(*) + SUM(floor(abs(first element) * 2^20))): float->double
      |    * is exact, the 2^20 scale keeps every term integral, and a BIGINT
      |    * sum is order-free, so Spark and DuckDB agree bit-for-bit. */
      |  def fingerprint(emb: org.apache.spark.sql.DataFrame): Long = {
      |    import org.apache.spark.sql.functions._
      |    emb.agg((count(lit(1)) +
      |      sum(floor(abs(element_at(col("embedding").cast("array<double>"),
      |        1)) * 1048576.0).cast("long"))).as("fp"))
      |      .head().getLong(0)
      |  }
      |
      |  private def parse(s: String): Array[Array[Double]] =
      |    s.split(";").map(_.split(",").map(java.lang.Double.parseDouble))
      |
      |""".stripMargin
}
