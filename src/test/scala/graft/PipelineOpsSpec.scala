package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Sampling, Similarity, TextAnalysis, Windows}
import graft.operators.Similarity.AnnIndex
import graft.queries.Tables

/** Behavior tests for the training-data-pipeline operators whose
  * outputs are hash-function-dependent (no DuckDB oracle): LSH recall
  * against the exact path, sketch error bounds, fingerprint
  * determinism. */
class PipelineOpsSpec extends SparkSpecBase {

  private lazy val docs = Tables.documents(spark, sf)
  private lazy val emb = Tables.embeddings(spark, sf)

  test("minhash-LSH near-duplicates equal the exact all-pairs result at 0.8") {
    val lsh = Dedup.nearDuplicates(docs, "doc_id", "text",
        shingleN = 3, k = 128, bands = 32, threshold = 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-duplicates")
    assert(lsh === exact)
  }

  test("jaccardFor stage=false (lazy opt-out) equals the staged default") {
    import spark.implicits._
    val cands = Seq((0L, 1L)).toDF("doc_a", "doc_b")
    val a = Dedup.jaccardFor(cands, docs, "doc_id", "text", shingleN = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = Dedup.jaccardFor(cands, docs, "doc_id", "text", shingleN = 3,
        stage = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a === b)
  }

  test("nearDuplicatesChecked returns the exact pair set with a green lsh_ok flag") {
    val checked = Dedup.nearDuplicatesChecked(docs, "doc_id", "text",
      shingleN = 3, k = 128, bands = 32, threshold = 0.8)
    val rows = checked.collect()
    assert(rows.nonEmpty, "fixture should contain planted near-duplicates")
    // the certificate column is constant true: LSH ⊆ exact and planted
    // (j ≥ 0.9) recall ≥ 0.9
    assert(rows.forall(_.getBoolean(3)), "lsh_ok must hold on the fixture")
    // row values are the DETERMINISTIC exact pair set (the de-flaked
    // oracle contract), which on this fixture the LSH set also equals
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet === exact)
  }

  test("simhash near-duplicates: threshold holds, Hamming≤chunks-1 pigeonhole guarantee holds") {
    val found = Dedup.simhashNearDuplicates(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(found.forall(_._2 >= 0.5))
    val foundPairs = found.map(_._1).toSet
    val sims = docs.filter(size(Dedup.tokens(col("text"))) >= 3)
      .select(col("doc_id"),
        graft.functions.HashExprs.simhash(Dedup.shingleHashes(col("text"), 3)).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val planted = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the default 4×16-bit chunking CERTIFIES Hamming ≤ 3 (pigeonhole):
    // every such planted pair must be found; farther pairs are what the
    // method is allowed to miss (it's approximate by design)
    val guaranteed = planted.filter { case (a, b) =>
      java.lang.Long.bitCount(sims(a) ^ sims(b)) <= 3 }
    assert(guaranteed.nonEmpty, "fixture should plant tight near-duplicates")
    assert(guaranteed.subsetOf(foundPairs),
      s"missed guaranteed pairs: ${guaranteed -- foundPairs}")
    val recall = (planted & foundPairs).size.toDouble / planted.size
    // measured 0.852 on this fixture (deterministic seeds) — the floor
    // matches the driver-visible simhash_recall_cert at 0.6
    assert(recall >= 0.6, s"simhash planted recall $recall too low")
  }

  test("simhashNearDuplicatesChecked returns the exact pair set with a green simhash_ok flag") {
    val checked = Dedup.simhashNearDuplicatesChecked(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.5)
    val rows = checked.collect()
    assert(rows.nonEmpty, "fixture should contain pairs at j >= 0.5")
    // certificate column constant true: simhash ⊆ exact AND planted
    // (j ≥ 0.9) recall ≥ 0.6
    assert(rows.forall(_.getBoolean(3)), "simhash_ok must hold on the fixture")
    // row values are the DETERMINISTIC exact prefix-filter pair set —
    // the oracle contract; simhash misses cannot perturb them
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet === exact)
  }

  test("bigram LM: hand-computed model and per-doc NLL on a toy corpus") {
    import spark.implicits._
    import graft.operators.LanguageModel
    // tokens: doc1 [a,b,a], doc2 [a,c], doc3 [a]. unigram counts
    // a:4 b:1 c:1 — top-2 tie (b,c) breaks by token asc → vocab [a,b],
    // S=3. mapped: [a,b,a], [a,<unk>], [a]. u2: a:4 b:1 <unk>:1.
    // bigrams: "a b":1 "b a":1 "a <unk>":1.
    val docs = Seq((1L, "a b a"), (2L, "a c"), (3L, "a")).toDF("doc_id", "text")
    val lm = LanguageModel.train(docs, "doc_id", "text", vocabSize = 2, alpha = 0.5)
    assert(lm.vocab === Seq("a", "b"))
    assert(lm.alphabetSize === 3)
    assert(lm.unigrams === Map("a" -> 4L, "b" -> 1L, LanguageModel.Unk -> 1L))
    assert(lm.bigrams === Map("a b" -> 1L, "b a" -> 1L, s"a ${LanguageModel.Unk}" -> 1L))
    val out = LanguageModel.perplexity(docs, "doc_id", "text", lm)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    // doc1: -(ln((1+.5)/(4+1.5)) + ln((1+.5)/(1+1.5)))/2
    val d1 = -(math.log(1.5 / 5.5) + math.log(1.5 / 2.5)) / 2
    // doc2: -ln((1+.5)/(4+1.5))
    val d2 = -math.log(1.5 / 5.5)
    assert(out(1L)._1 === 2L)
    assert(math.abs(out(1L)._2.get - math.rint(d1 * 1e6) / 1e6) < 1e-9)
    assert(math.abs(out(2L)._2.get - math.rint(d2 * 1e6) / 1e6) < 1e-9)
    // single-token doc: no bigram evidence → NULL nll
    assert(out(3L) === ((0L, None)))
  }

  test("bigram LM: frozen model scores an unseen corpus (OOV + unseen-unigram path)") {
    import spark.implicits._
    import graft.operators.LanguageModel
    val trainDocs = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val lm = LanguageModel.train(trainDocs, "doc_id", "text", vocabSize = 2, alpha = 0.5)
    // training corpus has no OOV, so <unk> is absent from unigrams —
    // scoring text with OOV tokens exercises the coalesce(0) fallback
    assert(!lm.unigrams.contains(LanguageModel.Unk))
    val out = LanguageModel.perplexity(
        Seq((9L, "z z")).toDF("doc_id", "text"), "doc_id", "text", lm)
      .collect().head
    // term = ln((0+.5)/(0+.5*3)) = ln(1/3)
    assert(out.getLong(1) === 1L)
    assert(math.abs(out.getDouble(2) - math.rint(-math.log(1.0 / 3) * 1e6) / 1e6) < 1e-9)
  }

  test("native BigramNll equals the Column-composed reference fold on random corpora") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.operators.LanguageModel
    // the Column-composed formulation the native kernel replaced —
    // kept here as the executable reference (the LshKeys discipline:
    // a native expression is pinned value-identical to the
    // builtin-composed definition it optimizes)
    def referenceNll(docs: org.apache.spark.sql.DataFrame,
        lm: LanguageModel.BigramLm): Map[Long, Option[Double]] = {
      val uniMap = typedLit(lm.unigrams.map { case (k, v) => k -> v.toDouble })
      val bigMap = typedLit(lm.bigrams.map { case (k, v) => k -> v.toDouble })
      val v = typedLit(lm.vocab)
      val m = transform(split(col("text"), " "),
        w => when(array_contains(v, w), w).otherwise(lit(LanguageModel.Unk)))
      val n1 = greatest(size(m) - 1, lit(0))
      val terms = zip_with(slice(m, lit(1), n1), slice(m, lit(2), n1), (a, b) =>
        log((coalesce(element_at(bigMap, concat(a, lit(" "), b)), lit(0.0))
              + lm.alpha) /
            (coalesce(element_at(uniMap, a), lit(0.0))
              + lm.alpha * lm.alphabetSize)))
      docs.select(col("doc_id"),
        when(n1 === 0, lit(null).cast("double"))
          .otherwise(round(-aggregate(terms, lit(0.0), (acc, x) => acc + x) / n1, 6))
          .as("nll"))
        .collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    }
    // random corpora over a tiny alphabet (dense bigram coverage) plus
    // adversarial whitespace shapes: empty text, leading/trailing/
    // double spaces (split(" ") keeps those empties — the kernel must
    // treat "" as a token exactly like the reference)
    val word = Gen.oneOf("a", "b", "cc", "ddd", "é")
    val genDoc = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, word))
      .map(_.mkString(" "))
    val genCorpus = Gen.choose(3, 10)
      .flatMap(n => Gen.listOfN(n, genDoc))
      .map(_ ++ Seq("", " ", "a  b", " a", "b "))
    (0 until 4).foreach { i =>
      genCorpus.apply(Gen.Parameters.default, Seed(i.toLong)).foreach { texts =>
        val docs = texts.zipWithIndex.map { case (t, j) => (j.toLong, t) }
          .toDF("doc_id", "text")
        val lm = LanguageModel.train(docs, "doc_id", "text", vocabSize = 3)
        val native = LanguageModel.perplexity(docs, "doc_id", "text", lm)
          .collect()
          .map(r => r.getLong(0) ->
            (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
        assert(native === referenceNll(docs, lm), s"seed $i diverged")
      }
    }
  }

  test("native MappedKeys equals the Column-composed OOV/bigram-key chain") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.operators.LanguageModel
    // the Column-composed trainer chain MappedKeys replaced (r21) —
    // kept as the executable reference, same discipline as the
    // BigramNll test above
    def reference(docs: org.apache.spark.sql.DataFrame,
        vocab: Seq[String], withBigrams: Boolean): Seq[Seq[String]] = {
      val v = typedLit(vocab)
      val m = transform(split(col("text"), " "),
        w => when(array_contains(v, w), w).otherwise(lit(LanguageModel.Unk)))
      val n1 = greatest(size(m) - 1, lit(0))
      val bk = zip_with(slice(m, lit(1), n1), slice(m, lit(2), n1),
        (a, b) => concat(a, lit(" "), b))
      docs.orderBy("doc_id")
        .select((if (withBigrams) concat(m, bk) else m).as("k"))
        .collect().toSeq.map(r =>
          if (r.isNullAt(0)) null else r.getSeq[String](0))
    }
    def native(docs: org.apache.spark.sql.DataFrame,
        vocab: Seq[String], withBigrams: Boolean): Seq[Seq[String]] =
      docs.orderBy("doc_id")
        .select(graft.functions.LmExprs.mappedKeys(
          col("text"), vocab.toArray, withBigrams).as("k"))
        .collect().toSeq.map(r =>
          if (r.isNullAt(0)) null else r.getSeq[String](0))
    // adversarial vocabs: empty, the literal "<unk>" and "" as vocab
    // members (a double-space corpus can rank "" into the top-k)
    val vocabs = Seq(Seq.empty[String], Seq("a", "b"),
      Seq("<unk>", "", "é"), Seq("a", "cc", "ddd"))
    val word = Gen.oneOf("a", "b", "cc", "ddd", "é", "<unk>")
    val genDoc = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, word))
      .map(_.mkString(" "))
    val genCorpus = Gen.choose(3, 10)
      .flatMap(n => Gen.listOfN(n, genDoc))
      .map(_ ++ Seq("", " ", "a  b", " a", "b ", null))
    (0 until 4).foreach { i =>
      genCorpus.apply(Gen.Parameters.default, Seed(i.toLong)).foreach { texts =>
        val docs = texts.zipWithIndex.map { case (t, j) => (j.toLong, t) }
          .toDF("doc_id", "text")
        for (vocab <- vocabs; wb <- Seq(true, false))
          assert(native(docs, vocab, wb) === reference(docs, vocab, wb),
            s"seed $i vocab $vocab withBigrams $wb diverged")
      }
    }
  }

  test("corpus divergence: identical snapshots give 0, disjoint give ln 2") {
    import spark.implicits._
    import graft.operators.LanguageModel
    val a = Seq((1L, "x x y")).toDF("doc_id", "text")
    val same = LanguageModel.divergence(a, a, "doc_id", "text", vocabSize = 4)
      .collect()
    assert(same.nonEmpty)
    assert(same.forall(r => r.getDouble(3) === 0.0 && r.getDouble(4) === 0.0))
    val b = Seq((2L, "z z z")).toDF("doc_id", "text")
    val disj = LanguageModel.divergence(a, b, "doc_id", "text", vocabSize = 4)
      .collect()
    // fully disjoint supports: JS divergence = ln 2 (nat base)
    val ln2 = math.rint(math.log(2) * 1e6) / 1e6
    assert(disj.forall(r => math.abs(r.getDouble(4) - ln2) < 1e-9),
      s"expected js_total=ln2, got ${disj.map(_.getDouble(4)).toSeq}")
    // per-token p/q sanity: every token probability mass sits on one side
    assert(disj.forall(r => r.getDouble(1) == 0.0 || r.getDouble(2) == 0.0))
  }

  test("substringDuplication catches arbitrary-alignment dups and merges overlapping windows") {
    import spark.implicits._
    val toy = Seq(
      (1L, "x p q r y"),           // shares "p q r" with doc 2 at offset 1
      (2L, "a p q r b"),
      (3L, "s t u v s t u v"),     // shares every 3-window with doc 4
      (4L, "s t u v s t u v q"),
      (5L, "z z")).toDF("doc_id", "text") // shorter than k → no windows
    val out = Dedup.substringDuplication(toy, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // the shared substring sits at a NON-32-aligned offset — the case
    // aligned paragraph dedup structurally misses
    assert(out(1L) === ((5L, 1L, 3L)))
    assert(out(2L) === ((5L, 1L, 3L)))
    // six overlapping dup windows merge to one covered interval:
    // counted once (8 tokens), not 6×3
    assert(out(3L) === ((8L, 6L, 8L)))
    assert(out(4L) === ((9L, 6L, 8L)))
    assert(out(5L) === ((2L, 0L, 0L)))
  }

  test("removeDuplicateSubstrings cuts covered spans, keeps order, empties fully-duplicated docs") {
    import spark.implicits._
    val toy = Seq(
      (1L, "x p q r y"),           // "p q r" shared with doc 2 → cut
      (2L, "a p q r b"),
      (3L, "s t u v s t u v"),     // fully covered by shared windows
      (4L, "s t u v s t u v q"),   // all but the trailing token covered
      (5L, "z z")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSubstrings(toy, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) === ((5L, 2L, "x y")))
    assert(out(2L) === ((5L, 2L, "a b")))
    assert(out(3L) === ((8L, 0L, "")))
    assert(out(4L) === ((9L, 1L, "q")))
    assert(out(5L) === ((2L, 2L, "z z")))
  }

  test("stripBoilerplate drops cross-doc spans, keeps unique content in order, empties pure-boilerplate docs") {
    import spark.implicits._
    val toy = Seq(
      (1L, "nav bar unique1 a tail1 x"),
      (2L, "nav bar unique2 b tail2 y"),
      (3L, "nav bar")).toDF("doc_id", "text")
    val out = TextAnalysis.stripBoilerplate(toy, "doc_id", "text",
        spanTokens = 2, maxDf = 1)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // "nav bar" appears in all three docs → dropped everywhere; the
    // unique middle/tail spans survive in original order
    assert(out(1L) === ((3L, 2L, "unique1 a tail1 x")))
    assert(out(2L) === ((3L, 2L, "unique2 b tail2 y")))
    // a document that is ALL boilerplate keeps an empty string, not null
    assert(out(3L) === ((1L, 0L, "")))
  }

  test("duplicateClusters resolves chains and stars to min-id components") {
    import spark.implicits._
    // components: {1,2,3,4} (chain), {10,11,12} (star on 10), {20,21}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val cc = Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("duplicateClusters converges on a long chain with a far local minimum") {
    import spark.implicits._
    // doc 2 sits 7 hops from the global minimum 1 — a fixed small
    // iteration count would leave the component split
    val chain = Seq((1L, 10L), (10L, 9L), (9L, 8L), (8L, 7L),
      (7L, 6L), (6L, 5L), (5L, 2L)).toDF("doc_a", "doc_b")
    val cc = Dedup.duplicateClusters(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.values.toSet === Set(1L), s"component split: $cc")
  }

  test("duplicateClusters settles a 100-hop chain (pointer jumping: log rounds)") {
    import spark.implicits._
    // a 100-edge path ending at the global min — one-hop propagation
    // would need 100 rounds and trip the 50-round cap; pointer jumping
    // needs ~7
    val chain = (1 to 100).map(i => (i.toLong, (i + 1).toLong)).toDF("doc_a", "doc_b")
    val cc = Dedup.duplicateClusters(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.values.toSet === Set(1L), "100-hop chain split")
    assert(cc.size === 101)
  }

  test("duplicateClusters driver fast path equals distributed propagation (r22)") {
    import spark.implicits._
    // chains + stars + an isolated pair, with edges in adversarial
    // order; the public face takes the union-find fast path (long ids,
    // under the cap), duplicateClustersDistributed is pinned to the
    // distributed loop
    val pairs = Seq((9L, 8L), (1L, 2L), (8L, 7L), (2L, 3L), (7L, 1L),
      (30L, 31L), (30L, 32L), (32L, 33L), (50L, 51L))
      .toDF("doc_a", "doc_b")
    val fast = Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.duplicateClustersDistributed(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast === dist)
    // non-long ids must keep the distributed path (min-label order is
    // the column type's) — and agree with the long-id labels
    val strPairs = pairs.select(col("doc_a").cast("string").as("doc_a"),
      col("doc_b").cast("string").as("doc_b"))
    val str = Dedup.duplicateClusters(strPairs)
      .collect().map(r => r.getString(0).toLong -> r.getString(1).toLong).toMap
    assert(str === dist)
  }

  test("dedupSurvivors keeps ONE survivor on a >5-hop duplicate chain") {
    import spark.implicits._
    // same 7-hop chain as above, flowing through the registered
    // dedup_survivors path — guards against an iteration cap that
    // silently splits deep components into extra survivors
    val chain = Seq((1L, 10L), (10L, 9L), (9L, 8L), (8L, 7L),
      (7L, 6L), (6L, 5L), (5L, 2L)).toDF("doc_a", "doc_b")
    val chainDocs = Seq(1L, 2L, 5L, 6L, 7L, 8L, 9L, 10L, 100L).toDF("doc_id")
    val survivors = Dedup.dedupSurvivors(chainDocs, "doc_id", chain)
      .collect().map(_.getLong(0)).toSet
    assert(survivors === Set(1L, 100L), s"chain split into extras: $survivors")
  }

  test("dedupSurvivors with no pairs keeps every document") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.dedupSurvivors(docs, "doc_id", empty).count() === docs.count())
  }

  test("dedupSurvivors keeps singletons plus one representative per cluster") {
    val pairs = Dedup.nearDuplicates(docs, "doc_id", "text")
    val survivors = Dedup.dedupSurvivors(docs, "doc_id", pairs)
    val nPairsDocs = pairs.select("doc_a").union(pairs.select("doc_b"))
      .distinct().count()
    val nClusters = Dedup.duplicateClusters(pairs)
      .select("cluster").distinct().count()
    assert(survivors.count() === docs.count() - nPairsDocs + nClusters)
    // every dropped doc has a surviving near-duplicate representative
    assert(survivors.count() < docs.count())
  }

  test("incremental near-dup against a persisted index finds the batch pairs") {
    val idx = "target/test_dedup_index"
    Dedup.writeNearDupIndex(docs, "doc_id", "text", idx)
    // every doc probed incrementally must recover exactly the pairs the
    // one-shot batch path finds (as (new, indexed) in both directions)
    val inc = Dedup.incrementalNearDuplicates(docs, "doc_id", "text", idx)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Dedup.nearDuplicates(docs, "doc_id", "text")
      .collect().flatMap(r =>
        Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0)))).toSet
    assert(inc === batch)
    assert(inc.nonEmpty)
  }

  test("appendToNearDupIndex: probe-then-admit over batches equals one-shot indexing") {
    val idx = "target/test_dedup_index_append"
    // batch 1 = first half of the corpus, batch 2 = the rest
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val mid = ids(ids.length / 2)
    val b1 = docs.filter(col("doc_id") < mid)
    val b2 = docs.filter(col("doc_id") >= mid)
    Dedup.writeNearDupIndex(b1, "doc_id", "text", idx)
    // batch 2 probes the index built from batch 1, then is admitted
    val cross = Dedup.incrementalNearDuplicates(b2, "doc_id", "text", idx)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Dedup.appendToNearDupIndex(b2, "doc_id", "text", idx)
    // after admission, probing the whole corpus against the grown index
    // must equal probing against a one-shot index of everything
    val grown = Dedup.incrementalNearDuplicates(docs, "doc_id", "text", idx)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneShotIdx = "target/test_dedup_index_oneshot"
    Dedup.writeNearDupIndex(docs, "doc_id", "text", oneShotIdx)
    val oneShot = Dedup.incrementalNearDuplicates(docs, "doc_id", "text", oneShotIdx)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(grown === oneShot)
    // the cross-batch pairs found at probe time are a subset of the total
    assert(cross.subsetOf(grown))
  }

  test("index compaction bounds part files and preserves probe results") {
    import graft.sources.ParquetCompact
    val idx = "target/test_dedup_index_compact"
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    // seed with a sliver, then append the rest in many tiny batches
    // with compaction DISABLED so small files genuinely accumulate —
    // the decay mode the compactor exists for
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    Dedup.writeNearDupIndex(docs.filter(col("doc_id") <= ids(9)),
      "doc_id", "text", idx)
    ids.drop(10).grouped(60).foreach { g =>
      Dedup.appendToNearDupIndex(
        docs.filter(col("doc_id").isin(g.toIndexedSeq: _*)),
        "doc_id", "text", idx, maxIndexFiles = 0)
    }
    val before = ParquetCompact.dataFileCount(spark, s"$idx/hashes")
    assert(before > 4, s"fixture must accumulate small files (got $before)")
    val probePre = Dedup.incrementalNearDuplicates(docs, "doc_id", "text", idx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // under the threshold: a no-op
    assert(!ParquetCompact.compactIfNeeded(spark, s"$idx/hashes",
      maxFiles = before + 1, targetFiles = 2))
    // over it: rewritten to the target count, same probe results
    assert(ParquetCompact.compactIfNeeded(spark, s"$idx/hashes",
      maxFiles = 4, targetFiles = 2))
    assert(ParquetCompact.compactIfNeeded(spark, s"$idx/bands",
      maxFiles = 4, targetFiles = 2))
    assert(ParquetCompact.dataFileCount(spark, s"$idx/hashes") <= 2)
    assert(ParquetCompact.dataFileCount(spark, s"$idx/bands") <= 2)
    val probePost = Dedup.incrementalNearDuplicates(docs, "doc_id", "text", idx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(probePost === probePre,
      "compaction must not change any probe result")
    assert(probePost.nonEmpty)
    // crash recovery: a half-finished swap (dir moved aside, new dir
    // never moved in) is restored by the next call before compacting
    val hashesDir = new org.apache.hadoop.fs.Path(s"$idx/hashes")
    val oldDir = new org.apache.hadoop.fs.Path(s"$idx/hashes__compact_old")
    assert(fs.rename(hashesDir, oldDir))
    assert(!ParquetCompact.compactIfNeeded(spark, s"$idx/hashes",
      maxFiles = 64))
    assert(fs.exists(hashesDir) && !fs.exists(oldDir),
      "the stranded __compact_old must be restored as the live dir")
    val probeRecovered = Dedup
      .incrementalNearDuplicates(docs, "doc_id", "text", idx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(probeRecovered === probePre)
    // the append path's own trigger: an append past the cap compacts
    Dedup.appendToNearDupIndex(docs.limit(0), "doc_id", "text", idx,
      maxIndexFiles = 1)
    assert(ParquetCompact.dataFileCount(spark, s"$idx/hashes") <= 8)
  }

  test("asofJoin: a NULL right value is still the visible latest row") {
    import graft.operators.AsOf
    import spark.implicits._
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val left = Seq((1L, 7L, t(20))).toDF("id", "k", "ts")
    val right = Seq((7L, t(5), Some(100.0)), (7L, t(10), None))
      .toDF("k", "ts", "v")
    val out = AsOf.asofJoin(left, right, Seq("k"), "ts", "v", "last_v").head()
    assert(out.isNullAt(3), "latest right row has NULL value; must not fall back to the older 100.0")
  }

  test("range join rejects overlapping column names; drops inverted intervals") {
    import graft.operators.RangeJoin
    import spark.implicits._
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val pts = Seq((1L, t(5))).toDF("id", "ts")
    val badIv = Seq((t(0), t(10))).toDF("ts", "e") // shares "ts"
    intercept[IllegalArgumentException](
      RangeJoin.bucketed(pts, badIv, "ts", "ts", "e", 60000))
    val inverted = Seq((t(10), t(0)), (t(0), t(10))).toDF("s", "e")
    val out = RangeJoin.bucketed(pts, inverted, "ts", "s", "e", 60000)
    assert(out.count() === 1) // only the valid interval matches
  }

  test("bucketed range join equals the theta join") {
    import graft.operators.RangeJoin
    import org.apache.spark.sql.functions.{col => c, expr}
    val ev = Tables.events(spark, sf).select(c("event_id"), c("ts"))
    val iv = Tables.events(spark, sf)
      .select(org.apache.spark.sql.functions.date_trunc("day", c("ts")).as("s"))
      .distinct()
      .select(c("s"), (c("s") + expr("INTERVAL 6 HOURS")).as("e"))
    val bucketed = RangeJoin.bucketed(ev, iv, "ts", "s", "e", 3600L * 1000)
      .select("event_id", "s").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
    val theta = ev.join(iv, c("ts") >= c("s") && c("ts") < c("e"))
      .select("event_id", "s").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
    assert(bucketed === theta)
    assert(bucketed.nonEmpty)
  }

  test("asofJoin attaches the latest right value at-or-before each left ts") {
    import graft.operators.AsOf
    import spark.implicits._
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val left = Seq((1L, 7L, t(0)), (2L, 7L, t(10)), (3L, 7L, t(20)), (4L, 8L, t(5)))
      .toDF("id", "k", "ts")
    val right = Seq((7L, t(5), 100.0), (7L, t(10), 200.0), (9L, t(0), 9.0))
      .toDF("k", "ts", "v")
    val out = AsOf.asofJoin(left, right, Seq("k"), "ts", "v", "last_v")
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(out(1L) === None)               // no right row yet
    assert(out(2L) === Some(200.0))        // equal-ts right row visible
    assert(out(3L) === Some(200.0))        // carried forward
    assert(out(4L) === None)               // other key
  }

  test("chunkDocuments covers every token with the configured overlap") {
    import spark.implicits._
    val doc = Seq((1L, (1 to 100).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val chunks = TextAnalysis.chunkDocuments(doc, "doc_id", "text", 32, 8)
      .orderBy("chunk_id").collect()
    assert(chunks.length === 5)              // starts 0,24,48,72,96
    assert(chunks.head.getAs[Long]("chunk_tokens") === 32L)
    assert(chunks.last.getAs[Long]("chunk_tokens") === 4L)
    assert(chunks.head.getAs[String]("chunk_text").startsWith("w1 w2 "))
    assert(chunks(1).getAs[String]("chunk_text").startsWith("w25 "))
  }

  test("redactPii masks emails and long digit runs") {
    import spark.implicits._
    val doc = Seq((1L, "contact me at someone@example.com or 1234567 thanks"))
      .toDF("doc_id", "text")
    val red = TextAnalysis.redactPii(doc, "doc_id", "text")
      .head().getAs[String]("redacted")
    assert(red === "contact me at <EMAIL> or <NUM> thanks")
  }

  test("repetitionScore flags a fully repeated document") {
    import spark.implicits._
    val docs = Seq(
      (1L, Seq.fill(20)("spam ham jam").mkString(" ")),
      (2L, (1 to 60).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionScore(docs, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) > 0.3, s"repeated doc scored ${r(1L)}")
    assert(r(2L) < 0.05, s"unique doc scored ${r(2L)}")
  }

  test("shingle expressions yield empty sets for texts shorter than n") {
    import spark.implicits._
    val short = Seq((1L, "one two")).toDF("doc_id", "text")
    assert(short.select(Dedup.shingles(col("text"), 3)).head().getSeq[String](0).isEmpty)
    assert(short.select(Dedup.shingleHashes(col("text"), 3)).head().getSeq[Long](0).isEmpty)
  }

  test("exact dedup groups duplicate texts under one representative") {
    val n = docs.count()
    val d = Dedup.exactDuplicates(docs, "doc_id", "text")
    assert(d.agg(sum("cnt")).head().getLong(0) === n)
    assert(d.filter(col("cnt") > 1).count() ===
      n - docs.select("text").distinct().count())
  }

  test("paragraph dedup finds planted cross-document spans, by occurrence") {
    import spark.implicits._
    // doc 1 and 2 share their first 4-token span exactly; doc 3 is
    // disjoint; doc 4 repeats doc 1's SECOND span, offset to a
    // different ordinal — chunkSize=4 makes every span one "paragraph"
    val docs4 = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d x y z w"),
      (3L, "p q r s t u v w"),
      (4L, "e f g h m n o p")).toDF("doc_id", "text")
    val d = Dedup.paragraphDuplicates(docs4, "doc_id", "text", chunkSize = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(d === Map(
      (1L, 0L) -> 2L, (2L, 0L) -> 2L,    // shared "a b c d"
      (1L, 1L) -> 2L, (4L, 0L) -> 2L))   // "e f g h" at different ordinals
    // a span duplicated only WITHIN one document is still caught
    val self = Seq((9L, "a b a b")).toDF("doc_id", "text")
    assert(Dedup.paragraphDuplicates(self, "doc_id", "text", chunkSize = 2)
      .count() === 2)
  }

  test("LSH ANN recall vs brute force") {
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), Similarity.asDouble(col("embedding")).as("qv"))
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.lshTopK(emb, "vec_id", "embedding", queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & ann).size.toDouble / bf.size
    // approximate by design; random-ish embeddings are the hard case.
    // measured 0.975 on this fixture with the default 8 tables ×
    // 2 flip-probes (deterministic seeds) — floor with margin below
    assert(recall >= 0.8, s"LSH recall $recall too low")
    // every ANN hit must be a real corpus vector scored correctly:
    // spot-check one pair's cosine against the brute-force score
    assert(ann.nonEmpty)
  }

  test("LSH nearest-dup recall vs exact 1-NN, and no cartesian in its plan") {
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        emb.select(col("vec_id").as("qid"), Similarity.asDouble(col("embedding")).as("qv")),
        k = 1, broadcastQueries = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.nearestDupLsh(emb, "vec_id", "embedding")
    val got = lsh.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    // measured 0.973-0.992 across sf0.001-0.1 with asymmetric
    // multi-probe (deterministic seeds; was 0.59-0.72 base-only) —
    // floor 0.7 matches the driver-visible embed_ann_recall cert
    // with >=30% margin
    assert(recall >= 0.7, s"nearest-dup LSH recall $recall too low")
    // the declared scale path must never plan an all-pairs product
    val plan = lsh.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join in plan:\n$plan")
  }

  test("nearestDupLsh skew guard: tiny maxBucket still valid, deterministic, no cartesian") {
    val lsh = Similarity.nearestDupLsh(emb, "vec_id", "embedding", maxBucket = 8)
    val rows = lsh.collect()
    assert(rows.nonEmpty)
    // every returned neighbour is a real distinct corpus vector
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    val plan = lsh.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian under salting:\n$plan")
    val again = Similarity.nearestDupLsh(emb.repartition(7), "vec_id", "embedding",
        maxBucket = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet === again)
  }

  test("semanticDuplicates: full recall on planted near-dups, zero false positives") {
    import spark.implicits._
    // plant a ~2%-perturbed copy of every vector: cos(v, v') ≈ 0.9998
    val base = emb.select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
    val planted = base.filter(col("vec_id") < 16)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("v"), (x, i) => x * (lit(1.0) + lit(0.02) *
          when(pmod(i, lit(2)) === 0, lit(1.0)).otherwise(lit(-1.0)))).as("v"))
    val corpus = base.unionByName(planted)
    val got = Similarity.semanticDuplicates(corpus, "vec_id", "v", threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (0L until 16L).map(i => (i, i + 1000000L)).toSet
    assert((want -- got).isEmpty, s"missed planted pairs: ${want -- got}")
    // every emitted pair is exact-verified, so nothing below threshold
    // can appear; with no natural pair above ~0.51 the sets are equal
    assert(got === want)
    // a corpus with no pairs above threshold yields an empty result
    assert(Similarity.semanticDuplicates(base, "vec_id", "v", 0.95).isEmpty)
    // retention: every planted copy (the higher id of its pair) drops,
    // every base vector and every singleton survives
    val survivors = Similarity.semanticSurvivors(corpus, "vec_id", "v", 0.95)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(survivors === base.collect().map(_.getLong(0)).toSet)
  }

  test("certExactPairs bounded sweep equals the full all-pairs sweep (smallest SF)") {
    import graft.queries.PipelineQueries
    // The dedup_semantic certificate assumes no qualifying pair lies
    // entirely outside {vec_id < certStratum} ∪ {planted twins}. Pin
    // that fixture assumption: the FULL O(N²) sweep (affordable only
    // at this SF) must emit exactly the bounded sweep's rows. The
    // plant comes from the SAME plantedNearDups the query uses, so
    // the two can never silently disagree. At sf0.001 every natural
    // vec_id sits below the 512 stratum, which would make the subset
    // filter a no-op and the equality vacuous — so the corpus also
    // carries NEGATED copies of every base vector under ids ≥ 600:
    // outside the subset, and adding no qualifying pair because
    // negated-vs-negated pairs MIRROR the natural cosines
    // (cos(-a,-b) = cos(a,b)) and negated-vs-natural pairs negate
    // them — both stay under 0.95 exactly because no natural pair
    // approaches the threshold at this SF (the invariant the whole
    // certificate rests on). If the subset filter ever dropped a
    // qualifying region, the full sweep would now expose it.
    val base = emb.select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
    val off = PipelineQueries.twinOffsetBatch
    val negated = base.select((col("vec_id") + 600L).as("vec_id"),
      transform(col("v"), x => -x).as("v"))
    val corpus = base
      .unionByName(PipelineQueries.plantedNearDups(base, off))
      .unionByName(negated)
      .localCheckpoint()
    val outsideSubset = corpus
      .filter(col("vec_id") >= 512L && col("vec_id") < off).count()
    assert(outsideSubset >= 500,
      s"test corpus must straddle the stratum (got $outsideSubset rows outside)")
    val bounded = PipelineQueries.certExactPairs(corpus, 0.95, off)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = corpus.as("a").join(corpus.as("b"),
        col("a.vec_id") < col("b.vec_id"))
      .filter(Similarity.cosine(col("a.v"), col("b.v")) >= 0.95)
      .select(col("a.vec_id"), col("b.vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bounded === full,
      s"bounded sweep diverged: onlyBounded=${bounded -- full} onlyFull=${full -- bounded}")
    assert(full.nonEmpty, "fixture should contain planted twins")
  }

  test("PQ ANN: recall floor, ADC accuracy, code shape, determinism, index ≡ direct") {
    import spark.implicits._
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), Similarity.asDouble(col("embedding")).as("qv"))
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val books = Similarity.trainPqCodebooks(emb, "vec_id", "embedding")
    val pqIdx = AnnIndex(None, AnnIndex.Pq(books))
    val pq = pqIdx.search(emb, "vec_id", "embedding", queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & pq).size.toDouble / bf.size
    assert(recall >= 0.7, s"PQ recall $recall below floor")
    // codes are m-byte blobs, deterministic under repartitioning
    val codes = pqIdx.encode(emb, "vec_id", "embedding")
    assert(codes.select(length(col("pq_codes"))).distinct()
      .collect().map(_.getInt(0)).toSeq === Seq(8))
    val again = pqIdx.encode(emb.repartition(7), "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toMap
    assert(codes.collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq))
      .forall { case (id, c) => again(id) == c })
    // ADC score ≈ true cosine: per-subspace 256-centroid residuals on
    // unit vectors are small; bound the mean absolute error
    val scored = emb.select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
      .crossJoin(broadcast(queries.limit(2)))
      .filter(col("vec_id") =!= col("qid"))
      .select(
        graft.functions.Pq.adcScore(
          graft.functions.Pq.codes(col("v"), books),
          graft.functions.Pq.adcTable(col("qv"), books)).as("adc"),
        Similarity.cosine(col("v"), col("qv")).as("cos"))
      .agg(avg(abs(col("adc") - col("cos")))).collect().head.getDouble(0)
    assert(scored < 0.05, s"ADC mean |error| $scored too large")
    // persisted index searches identically to the direct path
    val dir = java.nio.file.Files.createTempDirectory("pq_idx").toString
    try {
      pqIdx.write(emb, "vec_id", "embedding", dir)
      val (back, backCodes) = AnnIndex.read(spark, dir)
      val fromIdx = back.search(emb, "vec_id", "embedding", queries, 10,
          codes = backCodes)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(fromIdx === pq)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
    // null contracts: a zero-norm vector has no direction — null code
    val z = Seq((1L, Seq(0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)),
        (2L, Seq(1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)))
      .toDF("vec_id", "v")
    val zbooks = Similarity.trainPqCodebooks(z, "vec_id", "v", m = 2)
    val zc = AnnIndex(None, AnnIndex.Pq(zbooks)).encode(z, "vec_id", "v")
      .collect().map(r => (r.getLong(0), r.isNullAt(1))).toMap
    assert(zc(1L) && !zc(2L), "zero-norm vector must code to null")
    // a PQ code is one byte: >256 centroids per subspace must be
    // rejected, never silently wrapped
    intercept[IllegalArgumentException] {
      Similarity.trainPqCodebooks(z, "vec_id", "v", m = 2, ksub = 512)
    }
    // empty corpus (and hence empty query draw): the whole search
    // degrades to an empty result (the deriveDim discipline), not a
    // trainer crash on the dim-divisibility check
    val none = z.filter(col("vec_id") < 0)
    assert(AnnIndex.fit(none, "vec_id", "v", "PQ").search(none, "vec_id", "v",
      none.select(col("vec_id").as("qid"), col("v").as("qv")), 10).isEmpty)
  }

  test("quantizer trainers skip vectors with null/NaN elements instead of crashing") {
    import spark.implicits._
    // a single corrupt vector in the sample draw must not NPE the
    // driver-side collect in either trainer (the encode expressions
    // null such rows per contract; training just excludes them)
    val dirty = Seq(
      (1L, Seq[java.lang.Double](1.0, 0.0, 0.0, 0.0)),
      (2L, Seq[java.lang.Double](0.0, 1.0, 0.0, 0.0)),
      (3L, Seq[java.lang.Double](0.0, null, 0.0, 1.0)),
      (4L, Seq[java.lang.Double](Double.NaN, 0.0, 0.0, 0.0)),
      (5L, Seq[java.lang.Double](Double.PositiveInfinity, 0.0, 0.0, 0.0)))
      .toDF("vec_id", "v")
    val cents = Similarity.trainIvfCentroids(dirty, "vec_id", "v", nlist = 2)
    assert(cents.forall(_.forall(java.lang.Double.isFinite)))
    val books = Similarity.trainPqCodebooks(dirty, "vec_id", "v", m = 2)
    assert(books.forall(_.forall(_.forall(java.lang.Double.isFinite))))
    // and the corrupt rows still code to null downstream
    val codes = AnnIndex(None, AnnIndex.Pq(books)).encode(dirty, "vec_id", "v")
      .collect().map(r => (r.getLong(0), r.isNullAt(1))).toMap
    assert(!codes(1L) && !codes(2L) && codes(3L) && codes(4L) && codes(5L))
  }

  test("IVF ANN recall vs brute force") {
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), Similarity.asDouble(col("embedding")).as("qv"))
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = AnnIndex.fit(emb, "vec_id", "embedding", "IVF,Flat")
      .search(emb, "vec_id", "embedding", queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    // measured 0.888-0.900 across sf0.001-0.1 with restart-trained
    // spherical-k-means centroids at the default 16-of-32 probing
    // (deterministic sample + seeds); 8-of-16 measured 0.76-0.84,
    // random directions 0.71-0.75 — floor 0.75 matches the
    // driver-visible embed_ann_recall cert with >=15% margin
    assert(recall >= 0.75, s"IVF recall $recall too low")
  }

  test("nearDuplicatesChecked on a pair-free corpus returns empty, no vacuous sentinel") {
    import spark.implicits._
    val d = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "zeta eta theta iota kappa"),
      (3L, "lambda mu nu xi omicron")).toDF("doc_id", "text")
    // no pairs and a holding certificate → empty result (matches an
    // empty oracle); the sentinel row appears only if the cert FAILS
    assert(Dedup.nearDuplicatesChecked(d, "doc_id", "text").count() === 0)
  }

  test("nearestDupLsh on an empty corpus returns empty without crashing") {
    val none = emb.filter(col("vec_id") < 0)
    assert(Similarity.nearestDupLsh(none, "vec_id", "embedding").count() === 0)
  }

  test("native lsh_keys equals the Column-composed reference (base + multi-probe)") {
    // the reference implementation this native expression replaced:
    // when-folded bucket bits + margin structs + stable array_sort
    import spark.implicits._
    def refProbeKeys(v: org.apache.spark.sql.Column,
        allPlanes: Seq[Array[Array[Double]]], multiProbe: Int) =
      if (multiProbe <= 0)
        array(allPlanes.zipWithIndex.map { case (hp, t) =>
          Similarity.lshBucket(v, hp).bitwiseOR(lit(t.toLong << 56))
        }: _*)
      else flatten(array(allPlanes.zipWithIndex.map { case (hp, t) =>
        val base = Similarity.lshBucket(v, hp)
        val margins = array(hp.zipWithIndex.toIndexedSeq.map { case (p, i) =>
          val pNorm = math.sqrt(p.map(x => x * x).sum)
          struct((abs(graft.functions.HashExprs.dotProduct(v,
            array(p.toIndexedSeq.map(lit): _*))) / pNorm).as("m"),
            lit(i).as("i"))
        }: _*)
        val flips = transform(
          slice(array_sort(margins, (a, b) =>
            when(a.getField("m") < b.getField("m"), -1)
              .when(a.getField("m") > b.getField("m"), 1).otherwise(0)),
            1, math.min(multiProbe, hp.length)),
          s => base.bitwiseXOR(
              call_function("shiftleft", lit(1L), s.getField("i")))
            .bitwiseOR(lit(t.toLong << 56)))
        concat(array(base.bitwiseOR(lit(t.toLong << 56))), flips)
      }: _*))
    val vecs = emb.limit(50)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
    val dims = vecs.select(size(col("v"))).head().getInt(0)
    val planes = (0 until 8).map(t =>
      Similarity.hyperplanes(5, dims, seed = 0x9E3779B97F4A7C15L + t * 1000003L))
    for (mp <- Seq(0, 1, 2, 3)) {
      val rows = vecs.select(col("vec_id"),
          graft.functions.LshKeys.keys(col("v"), planes, mp).as("native"),
          refProbeKeys(col("v"), planes, mp).as("reference"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](1) === r.getSeq[Long](2),
          s"mp=$mp vec=${r.getLong(0)}")
      }
    }
  }

  test("native ivf_cells equals the Column-composed reference (top-nprobe cells)") {
    // the replaced chain: score structs + stable descending array_sort
    def refCells(v: org.apache.spark.sql.Column,
        cents: Array[Array[Double]], n: Int) = {
      val scores = array(cents.zipWithIndex.toIndexedSeq.map { case (c, i) =>
        struct(graft.functions.HashExprs.dotProduct(v,
          array(c.toIndexedSeq.map(lit): _*)).as("s"), lit(i).as("i"))
      }: _*)
      transform(
        slice(array_sort(scores,
          (a, b) => when(a.getField("s") > b.getField("s"), -1)
            .when(a.getField("s") < b.getField("s"), 1).otherwise(0)), 1, n),
        s => s.getField("i"))
    }
    val cents = Similarity.trainIvfCentroids(emb, "vec_id", "embedding", nlist = 16)
    val vecs = emb.limit(50)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
    for (n <- Seq(1, 4, 8, 16)) {
      val rows = vecs.select(col("vec_id"),
          graft.functions.IvfCells.cells(col("v"), cents, n).as("native"),
          refCells(col("v"), cents, n).as("reference"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[Int](1) === r.getSeq[Int](2), s"n=$n vec=${r.getLong(0)}")
      }
    }
  }

  test("lsh_keys and ivf_cells yield NULL on a null vector element, not garbage") {
    // parquet-read embeddings carry containsNull=true; an actual null
    // slot must surface as a NULL row (the SortedJaccard contract),
    // never as an undefined-slot read silently corrupting buckets
    import spark.implicits._
    val planes = Seq(Similarity.hyperplanes(4, 3, seed = 7L))
    val cents = Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0))
    val vecs = Seq((1L, Seq[java.lang.Double](1.0, 2.0, 3.0)),
        (2L, Seq[java.lang.Double](1.0, null, 3.0)))
      .toDF("vec_id", "v")
      .select(col("vec_id"), col("v").cast("array<double>").as("v"))
    val rows = vecs.select(col("vec_id"),
        graft.functions.LshKeys.keys(col("v"), planes, 2).as("lsh"),
        graft.functions.IvfCells.cells(col("v"), cents, 2).as("ivf"))
      .orderBy(col("vec_id")).collect()
    assert(!rows(0).isNullAt(1) && !rows(0).isNullAt(2))
    assert(rows(1).isNullAt(1), "null element must yield NULL lsh keys")
    assert(rows(1).isNullAt(2), "null element must yield NULL ivf cells")
  }

  test("nearDuplicatesChecked keeps a string id type through the sentinel union") {
    // the sentinel leg casts its -1 ids to the exact path's id type;
    // without that, unionByName would coerce doc_a/doc_b for EVERY
    // result (schema drift vs nearDuplicates appears at plan time, so
    // asserting the schema suffices — no need to trigger the sentinel)
    import spark.implicits._
    val d = Seq(("a", "alpha beta gamma delta epsilon"),
      ("b", "alpha beta gamma delta zeta")).toDF("doc_id", "text")
    val checked = Dedup.nearDuplicatesChecked(d, "doc_id", "text")
    assert(checked.schema("doc_a").dataType ===
      org.apache.spark.sql.types.StringType)
    assert(checked.schema("doc_b").dataType ===
      org.apache.spark.sql.types.StringType)
  }

  test("int8 quantization kernels match a naive recompute and bound the cosine error") {
    import spark.implicits._
    val vecs = emb.limit(64)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
    val rows = vecs.select(col("vec_id"), col("v"),
        graft.functions.Quantize.int8(col("v")).as("q"))
      .collect()
    def naive(v: Seq[Double]): Seq[Byte] = {
      val m = v.map(math.abs).foldLeft(0.0)(math.max)
      if (m == 0.0) v.map(_ => 0: Byte)
      else { val s = 127.0 / m; v.map(x => Math.round(x * s).toByte) }
    }
    rows.foreach { r =>
      assert(r.getAs[Array[Byte]](2).toSeq === naive(r.getSeq[Double](1)),
        s"vec=${r.getLong(0)}")
    }
    // pairwise: native quantized cosine equals the naive integer
    // recompute exactly, and approximates the true cosine closely
    // (int8: worst-case element error 0.5/127 ≈ 0.4%)
    val pairs = for (a <- rows.take(8); b <- rows.take(8)) yield (a, b)
    val qcosDf = vecs.limit(8).select(col("vec_id").as("ia"),
        col("v").as("va"), graft.functions.Quantize.int8(col("v")).as("qa"))
      .crossJoin(vecs.limit(8).select(col("vec_id").as("ib"),
        col("v").as("vb"), graft.functions.Quantize.int8(col("v")).as("qb")))
      .select(col("ia"), col("ib"),
        graft.functions.Quantize.cosine(col("qa"), col("qb")).as("qcos"),
        (graft.functions.HashExprs.dotProduct(col("va"), col("vb")) /
          (sqrt(graft.functions.HashExprs.dotProduct(col("va"), col("va"))) *
           sqrt(graft.functions.HashExprs.dotProduct(col("vb"), col("vb")))))
          .as("cos"))
      .collect()
    qcosDf.foreach { r =>
      assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 0.03,
        s"(${r.getLong(0)},${r.getLong(1)}): qcos=${r.getDouble(2)} cos=${r.getDouble(3)}")
    }
    // contracts: null element → NULL; all-zero vector → zero codes,
    // NULL cosine (undefined)
    val edge = Seq((1L, Seq[java.lang.Double](1.0, null, 3.0)),
        (2L, Seq[java.lang.Double](0.0, 0.0, 0.0)))
      .toDF("id", "v").select(col("id"), col("v").cast("array<double>").as("v"))
      .select(col("id"), graft.functions.Quantize.int8(col("v")).as("q"))
      .orderBy(col("id")).collect()
    assert(edge(0).isNullAt(1), "null element must yield NULL codes")
    assert(edge(1).getAs[Array[Byte]](1).toSeq === Seq[Byte](0, 0, 0))
    // non-finite elements: NaN must not silently become code 0 (a
    // garbage vector ranking normally in the quantized scan) and Inf
    // must not zero the whole vector — both yield NULL like null slots
    val nonFinite = Seq((1L, Seq(Double.NaN, 1.0, 2.0)),
        (2L, Seq(Double.PositiveInfinity, 1.0, 2.0)))
      .toDF("id", "v")
      .select(col("id"), graft.functions.Quantize.int8(col("v")).as("q"))
      .orderBy(col("id")).collect()
    assert(nonFinite.forall(_.isNullAt(1)),
      "NaN/Inf elements must yield NULL codes")
    val zeroCos = spark.range(1).select(graft.functions.Quantize.cosine(
      typedLit(Array[Byte](0, 0, 0)), typedLit(Array[Byte](1, 2, 3))).as("c"))
      .head()
    assert(zeroCos.isNullAt(0), "zero-norm cosine must be NULL")
  }

  test("sq8TopK recall vs brute force") {
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), Similarity.asDouble(col("embedding")).as("qv"))
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq8 = AnnIndex(None, AnnIndex.Sq8)
      .search(emb, "vec_id", "embedding", queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & sq8).size.toDouble / bf.size
    // measured 1.0 across sf0.001/0.01/0.1 at the default refine=4
    // (int8 error ~0.4% per element; the exact rerank fixes ordering,
    // so a miss needs a true neighbour outside the quantized top-40) —
    // floor 0.9 matches the driver-visible embed_ann_recall cert
    assert(recall >= 0.9, s"SQ8 recall $recall too low")
  }

  test("ivfSq8TopK recall equals plain IVF — the sq8 layer is lossless within cells") {
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), Similarity.asDouble(col("embedding")).as("qv"))
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cents = Similarity.trainIvfCentroids(emb, "vec_id", "embedding", nlist = 32)
    val ivf = AnnIndex(Some(cents), AnnIndex.Flat)
      .search(emb, "vec_id", "embedding", queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfSq = AnnIndex(Some(cents), AnnIndex.Sq8)
      .search(emb, "vec_id", "embedding", queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & ivfSq).size.toDouble / bf.size
    // measured 0.888-0.900 across sf0.001-0.1 — exactly the plain-IVF
    // numbers: recall is bounded by cell pruning, not by quantization
    // (int8 error ≪ the rerank's k·refine slack)
    assert(recall >= 0.75, s"IVF-SQ8 recall $recall too low")
    assert((bf & ivfSq).size >= (bf & ivf).size - 1,
      "sq8 layer should not lose recall vs plain IVF beyond rounding ties")
  }

  test("shuffleOrder is a deterministic layout-proof permutation; seeds decorrelate") {
    val ids = docs.select(col("doc_id"))
    val a = Sampling.shuffleOrder(ids, "doc_id", seed = "e1")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = a.size
    // a permutation: every position 0..n-1 exactly once
    assert(a.values.toSeq.sorted === (0L until n))
    // physical layout must not change the order (retry/re-run safety)
    val b = Sampling.shuffleOrder(ids.repartition(7), "doc_id", seed = "e1")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b === a)
    // a different seed (epoch) produces a genuinely different order
    val c = Sampling.shuffleOrder(ids, "doc_id", seed = "e2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a.count { case (id, p) => c(id) == p } < n / 10,
      "epoch seeds should decorrelate the order")
  }

  test("bloom decontamination: zero false negatives, bounded false positives, layout-proof") {
    val corpus = docs.filter(col("doc_id") % 20 =!= 0)
    val bench = docs.filter(col("doc_id") % 20 === 0)
    val res = TextAnalysis.decontaminate(corpus, "doc_id", "text",
      bench, "text", n = 5, fpp = 1e-6)
    val flagged = res.filter(col("contaminated"))
      .collect().map(_.getLong(0)).toSet
    val benchH = bench.select(
      explode(Dedup.shingleHashes(col("text"), 5)).as("h")).distinct()
    val exact = corpus.select(col("doc_id"),
        explode(Dedup.shingleHashes(col("text"), 5)).as("h"))
      .join(benchH, Seq("h"), "left_semi")
      .select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(exact.nonEmpty, "fixture should contain cross-slice overlap")
    assert((exact -- flagged).isEmpty, "bloom must never miss a true hit")
    assert((flagged -- exact).size <= math.max(5, exact.size / 10),
      s"too many bloom false positives: ${(flagged -- exact).size}")
    // the filter build is order-independent bit-OR aggregation, so a
    // physical repartition of either side cannot change the output
    val res2 = TextAnalysis.decontaminate(corpus.repartition(7), "doc_id",
        "text", bench.repartition(3), "text", n = 5, fpp = 1e-6)
      .filter(col("contaminated")).collect().map(_.getLong(0)).toSet
    assert(res2 === flagged)
  }

  test("decontaminate against an empty or shingle-free benchmark flags nothing") {
    import spark.implicits._
    val corpus = docs.limit(50)
    val emptyBench = docs.filter(col("doc_id") < 0)
    assert(TextAnalysis.decontaminate(corpus, "doc_id", "text",
        emptyBench, "text", n = 5)
      .filter(col("contaminated")).count() === 0)
    // benchmark docs shorter than n tokens produce zero shingles —
    // same result as an empty benchmark, not a crash or a full flag
    val shortBench = Seq((1L, "too short")).toDF("doc_id", "text")
    assert(TextAnalysis.decontaminate(corpus, "doc_id", "text",
        shortBench, "text", n = 5)
      .filter(col("contaminated")).count() === 0)
  }

  test("sq8TopK on an empty corpus returns empty without crashing") {
    val queries = emb.filter(col("vec_id") < 2)
      .select(col("vec_id").as("qid"), Similarity.asDouble(col("embedding")).as("qv"))
    val none = emb.filter(col("vec_id") < 0)
    assert(AnnIndex(None, AnnIndex.Sq8)
      .search(none, "vec_id", "embedding", queries, 10).count() === 0)
  }

  test("IVF centroid training is deterministic and partitioning-independent") {
    // the coarse quantizer must not depend on physical layout: the
    // training sample is chosen by (hash, id) order, so a repartition
    // cannot change the centroids (and with them every cell assignment)
    val a = Similarity.trainIvfCentroids(emb, "vec_id", "embedding", nlist = 16)
    val b = Similarity.trainIvfCentroids(emb.repartition(7), "vec_id", "embedding",
      nlist = 16)
    assert(a.length === 16)
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    // centroids are unit-norm (spherical k-means: argmax-dot = cosine)
    a.foreach { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-9, s"non-unit centroid norm $n")
    }
  }

  test("IVF survives a degenerate corpus (identical vectors, tiny corpus)") {
    import spark.implicits._
    // all-identical vectors: k-means++ D² weights are all zero — the
    // seeding and Lloyd loop must not divide by zero or crash, and
    // search must still return each query's neighbours
    val same = (1L to 20L).map(i => (i, Array.fill(4)(0.5f))).toDF("vec_id", "embedding")
    val cents = Similarity.trainIvfCentroids(same, "vec_id", "embedding", nlist = 4)
    assert(cents.length === 4)
    val q = same.filter(col("vec_id") === 1)
      .select(col("vec_id").as("qid"), Similarity.asDouble(col("embedding")).as("qv"))
    val hits = AnnIndex.fit(same, "vec_id", "embedding", "IVF,Flat")
      .search(same, "vec_id", "embedding", q, k = 5)
    assert(hits.count() === 5)
    // fewer usable vectors than nlist: falls back to hyperplane directions
    val tiny = (1L to 3L).map(i => (i, Array.fill(4)(i.toFloat))).toDF("vec_id", "embedding")
    assert(Similarity.trainIvfCentroids(tiny, "vec_id", "embedding", nlist = 8).length === 8)
  }

  test("assignSplits partitions every row deterministically near the weights") {
    import graft.operators.Sampling
    val split = Sampling.assignSplits(docs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val n = docs.count().toDouble
    val byLabel = split.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLabel.values.sum === n.toLong)            // total partition
    assert(byLabel("train") / n > 0.7 && byLabel("train") / n < 0.9)
    // determinism: a re-run under different partitioning agrees exactly
    val again = Sampling.assignSplits(docs.repartition(7), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val first = split.select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(first === again)
  }

  test("stratifiedSample keeps per-stratum fractions; full-keep stratum intact; unknown dropped") {
    import graft.operators.Sampling
    val kept = Sampling.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 0.5, "zh" -> 1.0))
    val keptByLang = kept.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val allByLang = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(keptByLang.keySet === Set("en", "zh"))      // others dropped
    assert(keptByLang("zh") === allByLang("zh"))       // 100% stratum intact
    val enRate = keptByLang("en").toDouble / allByLang("en")
    assert(enRate > 0.3 && enRate < 0.7, s"en rate $enRate")
  }

  test("sampleExactK returns exactly k deterministic rows via partial top-k") {
    import graft.operators.Sampling
    val s = Sampling.sampleExactK(docs, "doc_id", 25)
    assert(s.count() === 25)
    val ids = s.select("doc_id").collect().map(_.getLong(0)).toSet
    val again = Sampling.sampleExactK(docs.repartition(5), "doc_id", 25)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === again)
    val plan = s.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"no partial top-k:\n$plan")
  }

  test("rebalanceMix hits the target composition; binding source keeps everything") {
    import graft.operators.Sampling
    val mixed = Sampling.rebalanceMix(docs, "doc_id", "source",
      Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.25))
    val out = mixed.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val in = docs.filter(col("source").isin("src0", "src1", "src2"))
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // sources are ~equal-sized in the fixture, so src0 (highest target
    // weight relative to supply) binds and keeps everything
    assert(out("src0") === in("src0"))
    val total = out.values.sum.toDouble
    assert(out("src0") / total > 0.4 && out("src0") / total < 0.6)
    assert(out("src1") / total > 0.15 && out("src1") / total < 0.35)
  }

  test("packSequences: every item once, bins respect the budget, deterministic") {
    import graft.operators.Packing
    import spark.implicits._
    val items = (1L to 500L).map(i => (i, (i % 37) + 1)).toDF("id", "tokens")
    val packed = Packing.packSequences(items, "id", "tokens",
      maxTokens = 64, buckets = 8)
    assert(packed.count() === 500)
    assert(packed.select("id").distinct().count() === 500)
    val binSums = packed.groupBy("bin")
      .agg(sum("tokens").as("t"), count(lit(1)).as("c"))
    // budget holds for every multi-item bin (oversize singletons exempt)
    assert(binSums.filter(col("t") > 64 && col("c") > 1).count() === 0)
    // next-fit bound: < 2·optimal + one tail bin per bucket
    val nBins = binSums.count()
    val total = 500L * 0 + (1L to 500L).map(i => (i % 37) + 1).sum
    assert(nBins < 2 * math.ceil(total / 64.0) + 8, s"$nBins bins for $total tokens")
    // determinism under different input partitioning
    val again = Packing.packSequences(items.repartition(13), "id", "tokens",
        maxTokens = 64, buckets = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val firstRun = packed.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(firstRun === again)
  }

  test("packSequences gives an oversize item its own bin") {
    import graft.operators.Packing
    import spark.implicits._
    val items = Seq((1L, 10L), (2L, 500L), (3L, 10L)).toDF("id", "tokens")
    val packed = Packing.packSequences(items, "id", "tokens",
      maxTokens = 64, buckets = 1)
    val binOf = packed.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the oversize item shares with nobody
    val mates = packed.filter(col("bin") === binOf("2")).count()
    assert(mates === 1, s"oversize item shares a bin ($mates rows)")
  }

  test("vector_sum Aggregator equals the posexplode+groupBy path") {
    import graft.functions.VectorAgg
    import graft.operators.Similarity
    val viaAgg = emb.groupBy(col("label"))
      .agg(VectorAgg.vector_sum(Similarity.asDouble(col("embedding"))).as("vs"))
      .select(col("label"), posexplode(col("vs")).as(Seq("pos", "v")))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val viaExplode = emb
      .select(col("label"), posexplode(Similarity.asDouble(col("embedding")))
        .as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos")).agg(sum(col("v")).as("v"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(viaAgg.keySet === viaExplode.keySet)
    viaAgg.foreach { case (k, v) =>
      assert(math.abs(v - viaExplode(k)) < 1e-9, s"$k: $v vs ${viaExplode(k)}")
    }
  }

  test("approx distinct users within HLL error bound of exact") {
    val exact = Windows.distinctUsersExact(Tables.events(spark, sf))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = Windows.distinctUsersApprox(Tables.events(spark, sf), rsd = 0.02)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, v) =>
      assert(math.abs(approx(k) - v).toDouble / v <= 0.1,
        s"$k: approx ${approx(k)} vs exact $v")
    }
  }

  test("rolling fingerprint is deterministic and discriminates texts") {
    val fp1 = TextAnalysis.fingerprint(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fp2 = TextAnalysis.fingerprint(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp1 === fp2)
    assert(fp1.values.toSet.size > fp1.size / 2, "fingerprints should mostly differ")
  }

  test("rolling min hash equals an independent naive per-window computation") {
    import spark.implicits._
    // re-derive the fingerprint from the DEFINITION (hash every window
    // from scratch) — pins the O(len) remove-multiply recurrence
    def mix(h0: Long): Long = {
      var z = h0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def naive(s: String, w: Int): Long = {
      val b = s.getBytes("UTF-8")
      if (b.length <= w)
        mix(b.foldLeft(0L)((h, x) => h * 0x100000001B3L + (x & 0xFFL)))
      else (0 to b.length - w).map { i =>
        mix((i until i + w).foldLeft(0L)((h, j) =>
          h * 0x100000001B3L + (b(j) & 0xFFL)))
      }.min
    }
    val texts = Seq("", "short", "exactly16bytes!!",
      "a slightly longer text exceeding sixteen bytes for the rolling path",
      "unicode: héllo wörld — ünïcödé bytes roll too")
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = TextAnalysis.fingerprint(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) === naive(t, 16), s"text #$i") }
  }

  test("winnowing fingerprint: shared-substring guarantee, min containment") {
    import spark.implicits._
    // w + g - 1 = 22 bytes at the defaults; `shared` is far longer, so
    // docs 1 and 2 MUST share at least one selected hash (MOSS bound)
    val shared = "the quick brown fox jumps over the lazy dog repeatedly"
    val d = Seq(
      (1L, "aaa bbb " + shared + " ccc"),
      (2L, "xxx yyy zzz " + shared + " qqq www longer tail here"),
      (3L, "totally different content with no common long substring at all"))
      .toDF("doc_id", "text")
    val wn = TextAnalysis.fingerprintWinnow(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((wn(1L) & wn(2L)).nonEmpty,
      "documents sharing a >= w+g-1-byte substring must share a winnow hash")
    // the single min-sample fingerprint is always one of the winnow
    // minima, and exactly their minimum
    val fp = TextAnalysis.fingerprint(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    fp.foreach { case (id, f) =>
      assert(wn(id).contains(f), s"doc $id: global min not selected")
      assert(wn(id).min === f, s"doc $id: winnow min != fingerprint")
    }
    // deterministic across runs and repartitionings
    val again = TextAnalysis.fingerprintWinnow(d.repartition(5), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(again === wn)
  }

  test("near-dup query plans read staged signatures — no re-hashing per join leg") {
    // the staged localCheckpoint truncates lineage, so the executed
    // plan of every near-dup path must contain ZERO shingle_hashes
    // evaluations: each document was hashed exactly once, at staging
    for ((name, df) <- Seq(
        "nearDuplicates" -> Dedup.nearDuplicates(docs, "doc_id", "text"),
        "nearDuplicatesChecked" -> Dedup.nearDuplicatesChecked(docs, "doc_id", "text"),
        "simhash" -> Dedup.simhashNearDuplicates(docs, "doc_id", "text"),
        "ngramJaccard" -> Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("shingle_hashes"),
        s"$name re-hashes documents inside the query plan:\n$plan")
    }
  }

  test("overlapPairs detects partial overlap only (inverted winnow index)") {
    import spark.implicits._
    val shared = "the quick brown fox jumps over the lazy dog repeatedly and again"
    val d = Seq(
      (1L, "aaa bbb " + shared + " ccc"),
      (2L, "xxx yyy zzz " + shared + " qqq www"),
      (3L, "totally different content with no common long substring at all"))
      .toDF("doc_id", "text")
    val pairs = TextAnalysis.overlapPairs(d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)),
      "only the documents sharing the long substring may pair")
    // the plan must be a bucketed equi join on fingerprint values —
    // never an all-pairs product
    val plan = TextAnalysis.overlapPairs(d, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$plan")
  }

  test("overlapPairs fused long-id path equals the generic fallback (r22)") {
    import spark.implicits._
    // ids stay single-digit so the fallback's STRING a<b ordering
    // agrees with the numeric one — the comparison isolates the path
    // difference, not the id collation
    val boiler = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val extra = "one two three four five six seven eight nine ten eleven"
    val d = Seq(
      (0L, boiler + " " + extra + " zero"),
      (1L, "one " + boiler + " " + extra),
      (2L, "two " + boiler + " t2"),
      (3L, "three " + boiler + " t3"),
      (4L, "unrelated text with no shared long substring anywhere at all"))
      .toDF("doc_id", "text")
    // maxDocFreq = 3 drops the 4-doc boilerplate fingerprints in BOTH
    // paths (capped collect hitting the cap vs the df histogram), so
    // the equality also pins the stop-fingerprint guard equivalence
    for (mdf <- Seq(3, 10); ms <- Seq(1, 2)) {
      val fused = TextAnalysis.overlapPairs(d, "doc_id", "text",
          minShared = ms, maxDocFreq = mdf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val generic = TextAnalysis.overlapPairs(
          d.select(col("doc_id").cast("string").as("doc_id"), col("text")),
          "doc_id", "text", minShared = ms, maxDocFreq = mdf)
        .collect()
        .map(r => (r.getString(0).toLong, r.getString(1).toLong, r.getLong(2)))
        .toSet
      assert(fused === generic,
        s"fused vs fallback diverged at maxDocFreq=$mdf minShared=$ms")
    }
    // the long-id plan must actually take the fused path (native
    // pair kernel + capped collect — no df-histogram join)
    val plan = TextAnalysis.overlapPairs(d, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ordered_pairs"), s"fused kernel missing:\n$plan")
    assert(!plan.contains("Join"), s"fused path must not join:\n$plan")
  }

  test("OrderedPairs equals double explode + a<b filter (dups, equals, nulls)") {
    import spark.implicits._
    val rows = Seq(
      Seq[java.lang.Long](1L, 2L, 3L),
      Seq[java.lang.Long](5L, 5L, 2L),          // equal values pair with nothing
      Seq[java.lang.Long](7L, null, 3L, 7L),    // null slots never pair
      Seq[java.lang.Long](9L),
      Seq.empty[java.lang.Long])
    val d = rows.toDF("ds")
    val kernel = d.select(explode(
        graft.functions.PairExprs.orderedPairs(col("ds"))).as("p"))
      .select(col("p.a"), col("p.b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val composed = d.select(explode(col("ds")).as("a"), col("ds"))
      .select(col("a"), explode(col("ds")).as("b"))
      .filter(col("a") < col("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(kernel.toSeq === composed.toSeq)
  }

  test("CappedListAgg keeps complete groups exact and marks over-cap groups") {
    import spark.implicits._
    val d = (1 to 7).map(i => ("big", i.toLong)) ++
      Seq(("ok", 100L), ("ok", 101L), ("one", 5L))
    val got = d.toDF("g", "id").repartition(4)
      .groupBy(col("g"))
      .agg(graft.functions.CappedListAgg.capped_list(5)(col("id")).as("ds"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).sorted).toMap
    assert(got("big").length === 5, "over-cap group must truncate AT the cap")
    assert(got("ok") === Seq(100L, 101L))
    assert(got("one") === Seq(5L))
  }

  test("overlapTopK caps each document at k partners, ranked by shared desc") {
    import spark.implicits._
    // one boilerplate block shared by docs 0-3 (a 4-cluster: 3
    // partners each) plus an EXTRA block shared only by 0 and 1, so
    // (0,1) strictly out-share the rest of the cluster
    val boiler = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val extra = "one two three four five six seven eight nine ten eleven twelve"
    val d = Seq(
      (0L, boiler + " " + extra + " doczero"),
      (1L, "docone " + boiler + " " + extra),
      (2L, "doctwo " + boiler + " tail2"),
      (3L, "docthree " + boiler + " tail3"),
      (4L, "completely unrelated text with no shared long substring anywhere"))
      .toDF("doc_id", "text")
    val full = TextAnalysis.overlapPairs(d, "doc_id", "text", maxDocFreq = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(full.keySet === (for (a <- 0L to 3L; b <- 0L to 3L if a < b)
      yield (a, b)).toSet, "the 4-cluster must fully pair in the full relation")
    val topk = TextAnalysis.overlapTopK(d, "doc_id", "text",
        maxDocFreq = 10, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    // O(N·k) bound: nobody exceeds k rows, ranks are dense from 1
    val byDoc = topk.groupBy(_._1)
    assert(byDoc.values.forall(_.length <= 2))
    assert(byDoc.values.forall(rs =>
      rs.map(_._4).sorted.toSeq === (1 to rs.length)))
    // doc 0's rank-1 partner is doc 1 (the extra shared block): the
    // ranking really follows the shared-fingerprint count
    val rank1 = topk.filter(t => t._1 == 0L && t._4 == 1).map(_._2)
    assert(rank1.toSeq === Seq(1L), s"doc 0 must rank doc 1 first: $rank1")
    // every emitted (doc, partner, shared) exists in the full relation
    // with the same shared count
    assert(topk.forall { case (doc, p, sh, _) =>
      full.get((math.min(doc, p), math.max(doc, p))).contains(sh) })
    // the isolated doc never appears
    assert(topk.forall(t => t._1 != 4L && t._2 != 4L))
    // SCALE PIN: the rank step must be the bounded top-k AGGREGATE
    // (map-side partials cap the shuffle at k per doc per task — the
    // O(N·k) intermediate), never a row_number window shuffling the
    // full directed pair set into a per-doc sort (O(pairs), ~200×
    // the emitted rows at the 30× rehearsal)
    val plan = TextAnalysis.overlapTopK(d, "doc_id", "text",
        maxDocFreq = 10, k = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window sort in top-k plan:\n$plan")
    assert(plan.contains("ObjectHashAggregate") &&
        plan.contains("partial_"),
      s"expected a partial ObjectHashAggregate top-k plan:\n$plan")
    // non-integral ids would silently corrupt the primitive-long
    // buffer — the driver-side require must fire instead
    import spark.implicits._
    val strPairs = Seq(("a", "b", 3L)).toDF("doc_a", "doc_b", "shared")
    val ex = intercept[IllegalArgumentException] {
      TextAnalysis.overlapTopKOf(strPairs, 2)
    }
    assert(ex.getMessage.contains("integral"))
    // a fractional weight would be cast-truncated and silently
    // reorder ranks — same loud driver-side gate
    val fracPairs = Seq((1L, 2L, 0.9)).toDF("doc_a", "doc_b", "shared")
    val ex2 = intercept[IllegalArgumentException] {
      TextAnalysis.overlapTopKOf(fracPairs, 2)
    }
    assert(ex2.getMessage.contains("shared"))
  }

  test("tumbling windows partition the event count exactly") {
    val ev = Tables.events(spark, sf)
    val total = ev.count()
    assert(Windows.tumbling(ev, "1 hour").agg(sum("cnt")).head().getLong(0) === total)
    // sliding windows with width 2x slide double-count every event
    assert(Windows.sliding(ev, "1 hour", "30 minutes")
      .agg(sum("cnt")).head().getLong(0) === 2 * total)
  }

  test("nearestDupLsh flags its (n, dim) derive job on derived inputs only") {
    val base = emb.select(col("vec_id"),
      Similarity.asDouble(col("embedding")).as("v"))
    // scan-like input (projection over the parquet scan): no flag
    val c0 = Similarity.deriveOnDerivedInput.get()
    Similarity.nearestDupLsh(emb, "vec_id", "embedding")
    assert(Similarity.deriveOnDerivedInput.get() === c0,
      "a plain scan input must not trip the derived-input warning")
    // derived input (a union) without planes/dim: the flag fires
    val derived = base.unionByName(base.select(
      (col("vec_id") + 100000L).as("vec_id"), col("v")))
    Similarity.nearestDupLsh(derived, "vec_id", "v")
    assert(Similarity.deriveOnDerivedInput.get() === c0 + 1,
      "a derived input without planes/dim must trip the warning")
    // explicit planes + dim skip the derive job (and the flag) entirely
    val d = Similarity.deriveDim(emb, "embedding")
    Similarity.nearestDupLsh(derived, "vec_id", "v", planes = 8, dim = d)
    assert(Similarity.deriveOnDerivedInput.get() === c0 + 1,
      "explicit planes+dim must skip the derive job")
    // the plan classifier itself: checkpointed inputs are scan-like
    // (materialized — re-evaluation is cheap), joins are not
    assert(Similarity.scanLikePlan(
      base.localCheckpoint().queryExecution.analyzed))
    assert(!Similarity.scanLikePlan(
      base.join(base.select(col("vec_id")), Seq("vec_id"))
        .queryExecution.analyzed))
  }

  test("supplied quantizer state must be shape-consistent with the tuning params") {
    val queries = emb.filter(col("vec_id") < 2)
      .select(col("vec_id").as("qid"),
        Similarity.asDouble(col("embedding")).as("qv"))
    val books = Similarity.trainPqCodebooks(emb, "vec_id", "embedding",
      m = 8, ksub = 16, sampleSize = 200)
    // m mismatch and ksub smaller than the books' actual width both fail
    def fails(mk: => Any): Unit = intercept[IllegalArgumentException](mk)
    fails(AnnIndex.fit(emb, "vec_id", "embedding", "PQ", m = 4, codebooks = books))
    fails(AnnIndex.fit(emb, "vec_id", "embedding", "PQ", ksub = 8, codebooks = books))
    val cents = Similarity.trainIvfCentroids(emb, "vec_id", "embedding",
      nlist = 8, sampleSize = 200)
    fails(AnnIndex.fit(emb, "vec_id", "embedding", "IVF,Flat", nlist = 16, centroids = cents))
    fails(AnnIndex.fit(emb, "vec_id", "embedding", "IVF,SQ8", nlist = 16, centroids = cents))
    // state the kind has no use for, and an unknown kind, fail too
    fails(AnnIndex.fit(emb, "vec_id", "embedding", "SQ8", nlist = 8, centroids = cents))
    fails(AnnIndex.fit(emb, "vec_id", "embedding", "IVF,SQ8", ksub = 16, codebooks = books))
    fails(AnnIndex.fit(emb, "vec_id", "embedding", "IVF,HNSW"))
    // consistent state is accepted
    AnnIndex.fit(emb, "vec_id", "embedding", "PQ", ksub = 16, codebooks = books)
      .search(emb, "vec_id", "embedding", queries, 5)
    AnnIndex.fit(emb, "vec_id", "embedding", "IVF,Flat", nlist = 8, centroids = cents)
      .search(emb, "vec_id", "embedding", queries, 5)
  }

  test("staged overlap pairs are memoized per session and released on eviction") {
    import graft.queries.PipelineQueries
    import graft.queries.PipelineQueries.{stage, stagedCount, evictStaged}
    val child = spark.newSession()
    // Same (session, dir) → the memoized frame, not a recompute.
    val a = stage(child, sf, PipelineQueries.OverlapPairs)
    val b = stage(child, sf, PipelineQueries.OverlapPairs)
    assert(a eq b, "second lookup must hit the memo")
    assert(stagedCount(child) === 1)
    // A different session object — even one sharing the context —
    // must get its own entry (the r12 identity-hash string key could
    // collide here and hand session B session A's checkpoint).
    val other = spark.newSession()
    val c = stage(other, sf, PipelineQueries.OverlapPairs)
    assert(!(c eq a))
    assert(stagedCount(other) === 1)
    // Every registered stage lands in the one map, and one eviction
    // drops them all — the driver-side models included.
    val lm = stage(child, sf, PipelineQueries.Lm)
    PipelineQueries.Stages.foreach(st => stage(child, sf, st))
    assert(stagedCount(child) === 6)
    // Eviction drops the entries AND unpersists the localCheckpoint
    // blocks: the checkpoint RDD must leave the context's persistent
    // set, not just the map.
    val rddIds = Seq(a, c).map(_.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      case p => fail(s"staged frame should be a LogicalRDD leaf, got $p")
    })
    assert(rddIds.forall(spark.sparkContext.getPersistentRDDs.contains),
      "checkpoint blocks should be persisted while cached")
    evictStaged(child)
    evictStaged(other)
    assert(stagedCount(child) === 0)
    assert(stagedCount(other) === 0)
    // unpersist(blocking=false) is async; poll briefly.
    val deadline = System.nanoTime() + 10e9.toLong
    while (rddIds.exists(spark.sparkContext.getPersistentRDDs.contains)
        && System.nanoTime() < deadline) Thread.sleep(50)
    assert(rddIds.forall(id => !spark.sparkContext.getPersistentRDDs.contains(id)),
      "evicted checkpoint blocks must be unpersisted")
    assert(!(stage(child, sf, PipelineQueries.Lm) eq lm),
      "an evicted model must be retrained, not served from the memo")
    evictStaged(child)
  }

  test("staged LSH key legs: memoized per session, equivalent to the direct call, evicted") {
    import graft.queries.PipelineQueries
    import graft.queries.PipelineQueries.{stage, stagedCount, evictStaged}
    val child = spark.newSession()
    val st1 = stage(child, sf, PipelineQueries.LshKeys)
    val st2 = stage(child, sf, PipelineQueries.LshKeys)
    assert(st1 eq st2, "second lookup must hit the memo")
    assert(stagedCount(child) === 1)
    // staged-then-consumed ≡ the single-shot operator (same planes,
    // same seeds, same salting decision) — the bench row's restructure
    // must not change the registered query's output
    val viaStage = Similarity.nearestDupLshFrom(st1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = Similarity.nearestDupLsh(
        graft.queries.Tables.embeddings(child, sf), "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaStage === direct)
    // the consumed plan still never degenerates to all-pairs
    val plan = Similarity.nearestDupLshFrom(st1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop in plan:\n$plan")
    // eviction drops the stage AND unpersists its checkpointed legs
    val rddIds = st1.checkpointed.map(_.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      case p => fail(s"staged leg should be a LogicalRDD leaf, got $p")
    })
    assert(rddIds.nonEmpty)
    assert(rddIds.forall(spark.sparkContext.getPersistentRDDs.contains))
    evictStaged(child)
    assert(stagedCount(child) === 0)
    val deadline = System.nanoTime() + 10e9.toLong
    while (rddIds.exists(spark.sparkContext.getPersistentRDDs.contains)
        && System.nanoTime() < deadline) Thread.sleep(50)
    assert(rddIds.forall(id => !spark.sparkContext.getPersistentRDDs.contains(id)),
      "evicted stage checkpoints must be unpersisted")
  }

  test("stage-then-evict cycles on one session add at most one context listener") {
    import graft.queries.PipelineQueries
    val child = spark.newSession()
    // build the session's own state (its listener bus) before counting
    child.listenerManager
    val sc = spark.sparkContext
    val before = org.apache.spark.ListenerCount.of(sc)
    (1 to 3).foreach { _ =>
      PipelineQueries.stage(child, sf, PipelineQueries.Lm)
      PipelineQueries.evictStaged(child)
    }
    assert(org.apache.spark.ListenerCount.of(sc) - before <= 1,
      "eviction must not make the next stage register another listener")
  }

  test("certObserved emits every gated metric and clears the registered floors") {
    import graft.queries.PipelineQueries
    val m = PipelineQueries.certObserved(spark, sf).toMap
    // stable key set — the round-over-round series the bench JSON
    // carries; a key rename would silently break the trend record
    assert(m.keySet === Set(
      "overlap_recall", "overlap_topk_recall", "simhash_recall",
      "ann_lsh_recall", "ann_ivf_recall", "ann_sq8_recall",
      "ann_ivf_sq8_recall", "ann_pq_recall", "ann_ivf_pq_recall",
      "nearest_dup_lsh_recall", "hll_max_rel_err", "quality_heldout_acc",
      "phash_planted_recall"))
    // the observed values must clear the same floors the cert queries
    // gate on — if a cert would fail the driver gate, this fails first
    assert(m("overlap_recall") >= 0.8)
    assert(m("overlap_topk_recall") >= 0.8)
    assert(m("simhash_recall") >= 0.6)
    assert(m("ann_lsh_recall") >= 0.8)
    assert(m("ann_ivf_recall") >= 0.75)
    assert(m("ann_sq8_recall") >= 0.9)
    assert(m("ann_ivf_sq8_recall") >= 0.75)
    assert(m("ann_pq_recall") >= 0.7)
    assert(m("ann_ivf_pq_recall") >= 0.75)
    assert(m("nearest_dup_lsh_recall") >= 0.7)
    // hll cert bound is |approx-exact| <= 0.06*users + 1; with the
    // tiny per-type user counts at sf0.001 the +1 slack dominates, so
    // the relative form is loose here — 0.2 still catches a sketch
    // regression while tolerating one-off integer jumps
    assert(m("hll_max_rel_err") >= 0.0 && m("hll_max_rel_err") <= 0.2)
    assert(m("quality_heldout_acc") >= 0.85)
    assert(m("phash_planted_recall") >= 0.9)
  }
}
