package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.sketch.BloomFilter

import graft.functions._
import graft.operators.Similarity

/** The contract every native kernel in `graft.functions` keeps, one
  * table row per kernel: whole-stage codegen and interpreted
  * evaluation return the same rows bit for bit, a NULL input yields a
  * NULL result, a kernel whose `compute` can return null does so on
  * some non-NULL input row here, the projection stays inside a
  * whole-stage-codegen `Project`, and a wrongly typed input fails
  * analysis with "<name> expects ..., got ...". */
class KernelContractSpec extends SparkSpecBase {

  /** One kernel: its SQL name, the input relation (DDL and rows, row 0
    * holds the NULL input), the kernel over the input columns, whether
    * `compute` can return null, and a wrongly typed call. */
  private case class K(name: String, ddl: String, rows: Seq[Row],
      kernel: Seq[Column] => Column, nullResult: Boolean,
      wrongType: Column => Column)

  private val vec = "v ARRAY<DOUBLE>"
  private val vecs = Seq(Row(null), Row(Seq(1.0, 2.0, 3.0, 4.0)),
    Row(Seq(0.5, -1.0, 0.25, 2.0)), Row(Seq(-3.0, 0.0, 0.0, 1.0)),
    Row(Seq(1.0, null, 3.0, 4.0)), Row(Seq(0.0, 0.0, 0.0, 0.0)),
    Row(Seq(Double.NaN, 1.0, 0.0, 0.0)))
  private val longs = "h ARRAY<BIGINT>"
  private val longRows = Seq(Row(null), Row(Seq(1L, 2L, 3L)), Row(Seq.empty[Long]),
    Row(Seq(5L, -7L, 5L, 9L)), Row(Seq(1L, null, 3L)))
  private val text = "s STRING"
  private val texts = Seq(Row(null), Row("a b c d e"), Row(""), Row("x"),
    Row("b  a zz c"), Row("the cat sat on the mat"), Row("a b c the"))

  private val planes = Array(Similarity.hyperplanes(3, 4, seed = 5L),
    Similarity.hyperplanes(3, 4, seed = 6L))
  private val centroids = Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0),
    Array(0.0, 0.0, 0.6, 0.8))
  private val books = Array(
    Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(-0.7, 0.7)),
    Array(Array(0.5, 0.5), Array(-1.0, 0.0)))
  private val vocab = Array("a", "b", "c", "the")
  private val bloom = {
    val b = BloomFilter.create(100, 0.01)
    Seq(1L, 3L, 9L).foreach(b.putLong)
    b
  }

  private def unary(name: String, ddl: String, rows: Seq[Row], nullResult: Boolean)(
      f: Column => Column): K =
    K(name, ddl, rows, cs => f(cs.head), nullResult, f)

  private val kernels: Seq[K] = Seq(
    K("sorted_jaccard", s"a ARRAY<BIGINT>, b ARRAY<BIGINT>",
      Seq(Row(null, Seq(1L)), Row(Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)),
        Row(Seq.empty[Long], Seq.empty[Long]), Row(Seq(1L, null), Seq(1L)),
        Row(Seq(4L), Seq.empty[Long])),
      cs => HashExprs.sortedJaccard(cs(0), cs(1)), nullResult = true,
      c => HashExprs.sortedJaccard(c, c)),
    unary("rolling_min_hash", text, texts, nullResult = false)(HashExprs.rollingMinHash(_, 4)),
    unary("winnow_hashes", text, texts, nullResult = false)(HashExprs.winnowHashes(_, 4, 2)),
    K("dot_product", s"a ARRAY<DOUBLE>, b ARRAY<DOUBLE>",
      Seq(Row(null, Seq(1.0)), Row(Seq(1.0, 2.0), Seq(3.0, 4.0)),
        Row(Seq.empty[Double], Seq.empty[Double]), Row(Seq(Double.NaN), Seq(0.0))),
      cs => HashExprs.dotProduct(cs(0), cs(1)), nullResult = false,
      c => HashExprs.dotProduct(c, c)),
    unary("shingle_hashes", text, texts, nullResult = false)(HashExprs.shingleHashes(_, 2)),
    unary("minhash_band_keys", longs, longRows.take(4), nullResult = false)(
      HashExprs.minhashBandKeys(_, 8, 4)),
    unary("simhash64", longs, longRows.take(4), nullResult = false)(HashExprs.simhash),
    unary("bloom_long_hits", longs, longRows, nullResult = true)(BloomLongHits.hits(_, bloom)),
    unary("ordered_pairs", longs, longRows, nullResult = false)(PairExprs.orderedPairs),
    unary("bigram_nll", text, texts, nullResult = true)(LmExprs.bigramNll(_, vocab,
      Array("a" -> 3L, "b" -> 2L, "<unk>" -> 4L), Array("a b" -> 1L, "b c" -> 2L), 5, 0.5)),
    unary("ratio_sum", text, texts, nullResult = true)(LmExprs.ratioSum(_, vocab,
      Array("a" -> 0.5, "b" -> -0.25, "c" -> 1.0, "the" -> 0.125))),
    unary("mapped_keys", text, texts, nullResult = false)(
      LmExprs.mappedKeys(_, vocab, withBigrams = true)),
    unary("lsh_keys", vec, vecs, nullResult = true)(LshKeys.keys(_, planes.toSeq, 1)),
    unary("ivf_cells", vec, vecs, nullResult = true)(IvfCells.cells(_, centroids, 2)),
    unary("centroid_dots", vec, vecs, nullResult = true)(CentroidDots.dots(_, centroids)),
    unary("pq_codes", vec, vecs, nullResult = true)(Pq.codes(_, books)),
    unary("pq_adc_table", vec, vecs, nullResult = true)(Pq.adcTable(_, books)),
    K("pq_adc_score", "c BINARY, t ARRAY<DOUBLE>",
      Seq(Row(null, Seq(1.0, 2.0)), Row(Array[Byte](0, 2), Seq(0.5, 1.5, -2.0, 3.0, 4.0, 0.25)),
        Row(Array[Byte](1, 1), Seq(0.5, 1.5, -2.0, 3.0, 4.0, 0.25)),
        Row(Array[Byte](1), null)),
      cs => Pq.adcScore(cs(0), cs(1)), nullResult = false,
      c => Pq.adcScore(c, c)),
    unary("pq_residual_codes", vec, vecs, nullResult = true)(
      Pq.residualCodes(_, centroids, books)),
    unary("quantize_int8", vec, vecs, nullResult = true)(Quantize.int8),
    K("quantized_cosine", "a BINARY, b BINARY",
      Seq(Row(null, Array[Byte](1)), Row(Array[Byte](1, -2, 3), Array[Byte](2, 2, -1)),
        Row(Array[Byte](0, 0), Array[Byte](1, 1)), Row(Array[Byte](4, 5), null),
        Row(Array[Byte](127, -127), Array[Byte](127, -127))),
      cs => Quantize.cosine(cs(0), cs(1)), nullResult = true,
      c => Quantize.cosine(c, c)),
    unary("all_finite", vec, vecs, nullResult = false)(Quantize.allFinite),
    unary("bpe_tokens", text, texts, nullResult = false)(
      Bpe.tokens(_, Array("a" -> "</w>", "t" -> "h", "th" -> "e"))))

  /** `k` over its input relation: the input columns, then `out`. The
    * input is an RDD scan, which the optimizer cannot fold into a local
    * relation, so the projection really runs. */
  private def project(k: K): DataFrame = {
    val schema = StructType.fromDDL(k.ddl)
    val in = spark.createDataFrame(spark.sparkContext.parallelize(k.rows, 2), schema)
    in.select(in.columns.map(col) :+ k.kernel(schema.fieldNames.toSeq.map(col)).as("out"): _*)
  }

  /** Rows and the executed plan with `confs` set, then restored. */
  private def run(k: K, confs: (String, String)*): (Seq[Seq[Any]], DataFrame) = {
    val old = confs.map { case (key, _) => key -> spark.conf.getOption(key) }
    confs.foreach { case (key, v) => spark.conf.set(key, v) }
    try {
      val df = project(k)
      (df.collect().toSeq.map(r => canon(r).asInstanceOf[Seq[Any]]), df)
    } finally old.foreach {
      case (key, Some(v)) => spark.conf.set(key, v)
      case (key, None) => spark.conf.unset(key)
    }
  }

  /** A value compared by content: doubles by their bits, binaries by
    * their bytes, rows and arrays element by element. */
  private def canon(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(canon)
    case s: scala.collection.Seq[_] => s.map(canon)
    case other => other
  }

  test("the table covers the 23 kernels, 12 of them with a nullable result") {
    assert(kernels.map(_.name).distinct.length === 23)
    assert(kernels.count(_.nullResult) === 12)
  }

  kernels.foreach { k =>
    test(s"${k.name}: codegen equals interpreted, NULL in gives NULL out, *(n) Project") {
      val (generated, df) = run(k,
        "spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false")
      val (interpreted, _) = run(k,
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
      assert(generated === interpreted)
      assert(generated.length === k.rows.length)
      val out = generated.map(_.last)
      val (nullIn, valid) = generated.partition(_.init.contains(null))
      assert(nullIn.nonEmpty && nullIn.forall(_.last == null), "a NULL input must give NULL")
      val nullOut = valid.filter(_.last == null)
      if (k.nullResult) assert(nullOut.nonEmpty, "no input row yields a null result")
      else assert(nullOut.isEmpty, s"unexpected null results: $nullOut")
      assert(out.exists(_ != null))
      val plan = df.queryExecution.executedPlan
      assert(planNodes(plan).exists {
        case w: WholeStageCodegenExec => w.child.isInstanceOf[ProjectExec]
        case _ => false
      }, s"the kernel's Project is not whole-stage codegen'd:\n$plan")
      assert("""\*\(\d+\) Project""".r.findFirstIn(plan.toString).nonEmpty, plan.toString)
    }
  }

  test("a wrongly typed input fails analysis naming the kernel and both types") {
    import spark.implicits._
    val wrong = Seq(1).toDF("i")
    kernels.foreach { k =>
      val e = intercept[org.apache.spark.sql.AnalysisException](
        wrong.select(k.wrongType(col("i"))).queryExecution.assertAnalyzed())
      assert(e.getMessage.contains(s"${k.name} expects"), s"${k.name}: ${e.getMessage}")
      assert(e.getMessage.contains("got"), s"${k.name}: ${e.getMessage}")
    }
  }
}
