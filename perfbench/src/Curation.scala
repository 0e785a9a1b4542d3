package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{BloomLongHits, HashExprs, LmExprs}
import graft.operators.{Dedup, LanguageModel, Packing, Selection, TextAnalysis}
import graft.sources.Shards

/** The composed training-data pipeline: exact dedup → near dedup
  * (MinHash-LSH) → quality and bigram-LM scores → Bloom
  * decontamination against an eval set → budgeted selection → sequence
  * packing → training shards. One request is one pass over the corpus. */
object Curation extends Workload {
  val name = "curation_pipeline"
  val warmups = 0
  val maxTokens = 2048L
  val decontamN = 8
  /** `TextAnalysis.decontaminate` documents a false-positive rate of
    * fpp = 1e-6 per probed n-gram. The Spark BloomFilter it builds
    * answers about 0.05/items of non-member probes instead (4M random
    * longs against filters of 460, 2.3k and 4.6k items at fpp 1e-6:
    * rates 1.1e-4, 1.8e-5, 1.1e-5), a known defect. The false-flag
    * ceiling allows that rate, rounded up to 0.06/items, plus a 4σ
    * Poisson margin, and no more, so over-flagging still fails. */
  val decontamFpp = 1e-6
  def falseFlagCap(o: Overlap): Long = {
    val mean = 0.06 / o.items * o.probes
    math.ceil(mean + 4 * math.sqrt(mean)).toLong
  }

  /** What one pass leaves to check. */
  final case class Outputs(exact: DataFrame, near: DataFrame, quality: DataFrame,
      contam: DataFrame, survivors: DataFrame, selected: DataFrame, packed: DataFrame,
      shardRows: Seq[Long])

  def check(gen: DocGen, budget: Long, o: Outputs): Seq[String] = {
    val ex = o.exact.agg(count(lit(1)), sum(when(col("cnt") > 1, 1L).otherwise(0L)),
      sum("cnt")).head()
    val pairs = o.near.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val flagged = o.contam.filter(col("contaminated")).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val surv = o.survivors.select("doc_id").collect().map(_.getLong(0))
    val ov = gen.overlap(decontamN)
    val truth = ov.docs
    val falseFlags = (flagged -- truth).size
    val cap = falseFlagCap(ov)
    val wantSurv = gen.survivors -- flagged
    val nQuality = o.quality.count()
    val sel = o.selected.agg(count(lit(1)), sum("n_tokens")).head()
    val nSel = sel.getLong(0)
    val valid = Packing.packValidity(o.selected, "doc_id", "n_tokens", maxTokens).head()
    val nPacked = o.packed.count()
    val shardRows = o.shardRows.sum
    val (docs, clusters) = (gen.docs.toLong, gen.clusters.toLong)
    Seq(
      s"exact groups ${ex.getLong(0)} != ${docs - clusters}" -> (ex.getLong(0) == docs - clusters),
      s"duplicate groups ${ex.getLong(1)} != $clusters" -> (ex.getLong(1) == clusters),
      s"exact rows ${ex.getLong(2)} != $docs" -> (ex.getLong(2) == docs),
      s"near pairs: ${(gen.nearPairs -- pairs).size} planted missed, " +
        s"${(pairs.toSet -- gen.nearPairs).size} extra, ${pairs.length - pairs.toSet.size} repeated" ->
        (pairs.length == gen.nearPairs.size && pairs.toSet == gen.nearPairs),
      s"decontamination: ${(truth -- flagged).size} of ${truth.size} docs sharing an eval n-gram not flagged" ->
        truth.subsetOf(flagged),
      s"decontamination: $falseFlags clean docs flagged, above the ceiling $cap " +
        f"(documented fpp gives ${decontamFpp * ov.probes}%.1f over ${ov.probes} probes)" -> (falseFlags <= cap),
      s"survivors: ${(wantSurv -- surv).size} missing, ${(surv.toSet -- wantSurv).size} extra, " +
        s"${surv.length - surv.toSet.size} repeated" -> (surv.length == wantSurv.size && surv.toSet == wantSurv),
      s"quality rows $nQuality != $docs" -> (nQuality == docs),
      s"selected tokens ${sel.get(1)} > budget $budget" -> (nSel == 0 || sel.getLong(1) <= budget),
      s"packing invalid: $valid" -> (valid.getAs[Long]("n_items") == nSel &&
        valid.getAs[Boolean]("all_packed_once") && valid.getAs[Boolean]("no_overflow") &&
        valid.getAs[Boolean]("bins_bounded")),
      s"packed rows $nPacked != selected $nSel" -> (nPacked == nSel),
      s"shard manifest rows $shardRows != selected $nSel" -> (shardRows == nSel)
    ).collect { case (msg, false) => msg }
  }

  private def gen(env: Env): DocGen =
    DocGen(env.opts.seed, env.scaled(35000), clusters = env.scaled(700), leaks = env.scaled(175),
      evalDocs = env.scaled(350))

  def generate(env: Env, dir: File): Unit = {
    gen(env).write(env.spark, new File(dir, "docs").getPath, env.files)
    gen(env).writeEval(env.spark, new File(dir, "eval").getPath)
  }

  def prepare(env: Env, dir: File): Prepared = {
    val gen = this.gen(env)
    val docs = gen.docs
    val docsPath = new File(dir, "docs").getPath
    val evalPath = new File(dir, "eval").getPath
    // half the corpus tokens: a budget that binds
    val budget = env.spark.read.parquet(docsPath)
      .agg(sum(size(split(col("text"), " ")))).head().getLong(0) / 2
    new Prepared {
      def describe: String =
        s"$docs docs (${gen.clusters} dup clusters of 3, ${gen.leaks} leaked eval passages), " +
          s"${gen.evalDocs} eval passages, ${env.files} files, token budget $budget"
      private var round = 0

      def pass(): PassResult = {
        import env.{span, stage}
        val spark = env.spark
        val corpus = spark.read.parquet(docsPath)
        val evalSet = spark.read.parquet(evalPath)
        val exact = span("operators.dedup_exact")(stage(Dedup.exactDuplicates(corpus, "doc_id", "text")))
        val near = span("operators.dedup_near")(stage(Dedup.nearDuplicates(corpus, "doc_id", "text")))
        val quality = span("operators.quality")(stage(TextAnalysis.qualityScore(corpus, "doc_id", "text")))
        val nll = span("operators.lm") {
          val lm = LanguageModel.train(corpus, "doc_id", "text")
          stage(LanguageModel.perplexity(corpus, "doc_id", "text", lm))
        }
        val contam = span("operators.decontam") {
          stage(TextAnalysis.decontaminate(corpus, "doc_id", "text", evalSet, "text", n = decontamN))
        }
        val (survivors, selected) = span("operators.select") {
          val s = stage(corpus
            .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
            .join(exact.select("doc_id"), "doc_id")
            .join(near.select(col("doc_b").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
            .join(contam.filter(!col("contaminated")).select("doc_id"), "doc_id")
            .join(quality, "doc_id")
            .join(nll.select("doc_id", "nll"), "doc_id")
            .withColumn("score", col("quality") - lit(0.01) * coalesce(col("nll"), lit(0.0))))
          (s, stage(Selection.selectByBudget(s, "doc_id", "score", "n_tokens", budget)))
        }
        val packed = span("operators.pack")(stage(Packing.packSequences(selected, "doc_id", "n_tokens", maxTokens)))
        Main.deleteTree(new File(dir, s"shards-$round"))
        round += 1
        val shardPath = new File(dir, s"shards-$round").getPath
        val shardRows = span("sources.shards") {
          Shards.writeTrainingShards(
            selected.select("doc_id", "n_tokens").join(corpus, "doc_id"),
            "doc_id", shardPath, recordsPerShard = 2000L, seed = "perfbench")
            .select("n_rows").collect().map(_.getLong(0)).toSeq
        }
        val o = Outputs(exact, near, quality, contam, survivors, selected, packed, shardRows)
        def dropOne(df: DataFrame) = df.exceptAll(df.limit(1))
        val firstLeak = gen.leakIds.min
        PassResult(docs.toLong, () => Nil,
          check = () => check(gen, budget, o),
          counts = () => {
            val p = packed.agg(countDistinct("bin"), sum("tokens")).head()
            val flagged = contam.filter(col("contaminated")).count()
            Map("operators.pack_fill" -> p.getLong(1).toDouble / (p.getLong(0) * maxTokens),
              "operators.decontam_false_pos" -> (flagged - gen.overlap(decontamN).docs.size).toDouble)
          },
          corruptions = Seq(
            "exact groups: one row dropped" -> (() => check(gen, budget, o.copy(exact = dropOne(exact)))),
            "near pairs: one pair dropped" -> (() => check(gen, budget, o.copy(near = dropOne(near)))),
            "near pairs: one pair repeated" -> (() => check(gen, budget,
              o.copy(near = near.unionByName(near.limit(1))))),
            "quality: one row dropped" -> (() => check(gen, budget, o.copy(quality = dropOne(quality)))),
            "decontamination: one leak marked clean" -> (() => check(gen, budget, o.copy(contam =
              contam.withColumn("contaminated", col("contaminated") && col("doc_id") =!= firstLeak)))),
            "decontamination: every doc flagged" -> (() => check(gen, budget, o.copy(contam =
              contam.withColumn("contaminated", lit(true)),
              survivors = survivors.limit(0)))),
            "survivors: one row dropped" -> (() => check(gen, budget, o.copy(survivors = dropOne(survivors)))),
            "selection: one row dropped" -> (() => check(gen, budget, o.copy(selected = dropOne(selected)))),
            "packing: one row dropped" -> (() => check(gen, budget, o.copy(packed = dropOne(packed)))),
            "manifest: one shard count perturbed" -> (() => check(gen, budget,
              o.copy(shardRows = shardRows.updated(0, shardRows.head + 1))))))
      }

      override def probes(): Map[String, Double] = {
        val spark = env.spark
        val corpus = spark.read.parquet(docsPath).select("doc_id", "text")
        val lm = LanguageModel.train(corpus, "doc_id", "text")
        val evalSet = spark.read.parquet(evalPath)
        val evalHashes = evalSet.select(explode(HashExprs.shingleHashes(col("text"), decontamN)).as("h"))
        val bloom = evalHashes.stat.bloomFilter("h", evalHashes.distinct().count(), 1e-6)
        val cands = Dedup.lshCandidates(corpus, "doc_id", "text", 3, 64, 16).count()
        Kernels.textKernels(env, corpus) ++ Map(
          "functions.bloom_ns" -> Kernels.nsPerRow(
            Kernels.cached(env, corpus.select(HashExprs.shingleHashes(col("text"), decontamN).as("h"))),
            h => h.select(BloomLongHits.hits(col("h"), bloom))),
          "functions.lm_score_ns" -> Kernels.nsPerRow(Kernels.cached(env, corpus),
            d => d.select(LmExprs.bigramNll(col("text"), lm.vocab.toArray, lm.unigrams.toArray,
              lm.bigrams.toArray, lm.alphabetSize, lm.alpha))),
          "operators.lsh_candidates" -> cands.toDouble,
          "operators.lsh_precision" -> gen.nearPairs.size.toDouble / math.max(1L, cands))
      }
    }
  }
}
