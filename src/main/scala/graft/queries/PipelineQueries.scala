package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{AsOf, Dedup, ImportanceSampling, LanguageModel, Multimodal, Packing, QualityModel, RangeJoin, Sampling, Similarity, TextAnalysis, Windows}
import graft.operators.Similarity.AnnIndex

/** Training-data-pipeline operator queries (builder brief): dedup
  * family, embedding similarity, text analysis, windowed/sketch
  * aggregation — each a [[QueryDef]] over the `documents` /
  * `embeddings` / `events` tables, with a DuckDB oracle wherever the
  * result is deterministic SQL (hash-function-dependent outputs get
  * the rows-only check plus ScalaTest coverage instead). */
object PipelineQueries {

  /** Shared shingle-Jaccard oracle: exact all-pairs n-gram Jaccard ≥
    * threshold via an inverted-index join (DuckDB list comprehension
    * builds the shingle sets; separator chr(1) can't occur in
    * tokens). The LSH path must agree because its miss probability at
    * j ≥ 0.8 with 32 bands × 4 rows is ~5e-8 (planted pairs are
    * j ≈ 0.98: miss ~1e-36) — an equality oracle is safe at those
    * odds; candidates are exact-verified, so extra bands cost only
    * candidate generation, never correctness. */
  private def jaccardOracle(n: Int, threshold: String): String = {
    val shingleExpr = (1 to n).map(j => s"l[i+${j - 1}]")
      .mkString(" || chr(1) || ")
    s"""WITH s AS (
       |  SELECT doc_id, list_distinct([$shingleExpr FOR i IN range(1, len(l) - ${n - 2})]) AS sh
       |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
       |  WHERE len(l) >= $n),
       |e AS (SELECT doc_id, unnest(sh) AS sg FROM s),
       |cnt AS (SELECT doc_id, len(sh) AS nn FROM s),
       |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
       |  FROM e x JOIN e y ON x.sg = y.sg AND x.doc_id < y.doc_id GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  ROUND(CAST(i AS DOUBLE) / (ca.nn + cb.nn - i), 6) AS jaccard
       |FROM inter
       |JOIN cnt ca ON ca.doc_id = doc_a
       |JOIN cnt cb ON cb.doc_id = doc_b
       |WHERE CAST(i AS DOUBLE) / (ca.nn + cb.nn - i) >= $threshold""".stripMargin
  }

  /** Planted near-duplicate vectors for the semantic-dedup gates: each
    * base vector with vec_id < 16 re-emitted under vec_id + `offset`
    * with a ±2% alternating-sign perturbation (cos ≈ 0.9998 — far
    * above the 0.95 gates, while no natural pair exceeds ~0.51). ONE
    * definition with a matching SQL twin below: the closed form must
    * stay bit-identical across the Scala side and every oracle, and
    * across the batch (offset 1e6) and streaming (offset 1000001 —
    * ids differing by 1 mod 4 are always cross-batch) variants. */
  /** Planted-twin id offsets, hoisted so the plant, the sweep, the
    * subset filter and the oracle SQL can never disagree. Batch =
    * 1e6; streaming = 1000001, coprime to the `files`=4 batch classes
    * so every twin pair is cross-batch (a multiple-of-4 offset would
    * make all planted pairs same-batch and stream-invisible). */
  private[graft] val twinOffsetBatch = 1000000L

  /** Shared golden-hash pair oracle for the two perceptual-dedup
    * gates (image dHash / audio envelope hash): DuckDB re-derives the
    * exact Hamming <= 3 pair relation from a frozen per-id hash table
    * ([[GoldenMediaHashes]]) plus the 16 planted twins at
    * [[twinOffsetBatch]], with the planted-recall flag riding every
    * row. One definition so the pair semantics (id ordering, hamming
    * cast, planted-count subquery) cannot silently diverge between
    * the image and audio gates. */
  private def goldenPairOracleSql(baseHex: String, twinHex: String,
      flagName: String): String =
    s"""WITH g AS (SELECT i AS m,
       |    ('0x' || substr('$baseHex', CAST(i*16+1 AS INT), 16))::UBIGINT AS ph
       |  FROM range(0, 5000) t(i)),
       |base AS (SELECT d.doc_id AS id, g.ph FROM documents d JOIN g ON g.m = d.doc_id),
       |tw AS (SELECT d.doc_id + $twinOffsetBatch AS id,
       |    ('0x' || substr('$twinHex', CAST(d.doc_id*16+1 AS INT), 16))::UBIGINT AS ph
       |  FROM documents d WHERE d.doc_id < 16),
       |h AS (SELECT * FROM base UNION ALL SELECT * FROM tw),
       |p AS (SELECT a.id AS id_a, b.id AS id_b,
       |    CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming
       |  FROM h a JOIN h b ON a.id < b.id AND bit_count(xor(a.ph, b.ph)) <= 3)
       |SELECT id_a, id_b, hamming,
       |  (SELECT COUNT(*) FROM p WHERE id_b = id_a + $twinOffsetBatch) = 16 AS $flagName
       |FROM p""".stripMargin
  private[graft] val twinOffsetStream = 1000001L

  /** The winnow-index pair relation STAGED ONCE per (session, sf dir):
    * `overlap_recall_cert`, `overlap_topk` and `overlap_topk_cert` all
    * consume [[TextAnalysis.overlapPairs]] at the default parameters,
    * and before this memo each query re-ran the full inverted-index
    * self-join (the single most expensive join in the bench, ×3 per
    * verify pass). A session computing both the certificate and the
    * sink is exactly the warehouse case for a staged intermediate —
    * compute the pair relation once (`localCheckpoint`, so consumers
    * read materialized blocks instead of re-planning the join) and
    * rank/certify over it. Keyed by session identity + dir: a new
    * session (specs, fresh driver) gets a fresh checkpoint; Bench's
    * repeated reps deliberately hit the memo — the timing semantics
    * (pair join paid once per session, not once per row) are recorded
    * in BASELINE.md.
    *
    * Keyed by the session OBJECT (SparkSession does not override
    * equals, so tuple keys compare it by reference): an
    * identity-hash string key could collide across sessions and hand
    * a stale checkpoint bound to a stopped session to a fresh one.
    * Entries are evicted — and the checkpointed blocks unpersisted —
    * when the owning context ends (listener registered once per
    * session) or via [[evictOverlapPairs]], so a long-lived
    * multi-tenant driver does not pin executor storage for dead
    * sessions. */
  private val overlapPairsCache =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.SparkSession, String),
      org.apache.spark.sql.DataFrame]
  private val overlapEvictionHooked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[
      org.apache.spark.sql.SparkSession]

  /** Same staging discipline for the LSH nearest-dup key relations:
    * the derive aggregate, the two checkpointed (vec_id, bucket) join
    * legs and the hot-bucket map are identical across evaluations in a
    * session, and before this memo every bench rep (and each of the
    * two verify queries consuming the operator) re-materialized them —
    * 3 extra jobs per evaluation whose scheduling jitter made this the
    * bench's flakiest row three rounds running. Bench times the
    * staging explicitly as its own cold row (`lsh_stage_keys`). */
  private val nearDupStageCache =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.SparkSession, String),
      graft.operators.Similarity.LshStage]

  /** Staged bigram LM per (session, dir): training is deterministic,
    * so every consumer (`lm_perplexity`, the quality-stack capstone)
    * shares one trained model per session instead of re-running the
    * two training aggregations per evaluation. The model is a small
    * driver-side case class (closed-alphabet counts — no checkpoint
    * blocks to evict). Bench times the training explicitly as its own
    * cold row (`lm_stage_train`). */
  private val lmCache =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.SparkSession, String),
      graft.operators.LanguageModel.BigramLm]

  private[graft] def stagedLm(s: org.apache.spark.sql.SparkSession,
      dir: String): graft.operators.LanguageModel.BigramLm = {
    hookEviction(s)
    lmCache.computeIfAbsent((s, dir),
      _ => LanguageModel.train(Tables.documents(s, dir), "doc_id", "text",
        vocabSize = 64, alpha = 0.5))
  }

  /** Staged DSIR ratio model per (session, dir) — same discipline as
    * [[stagedLm]]: training (two bounded aggregations) is
    * deterministic, so `select_importance` and its certificate share
    * one frozen model per session. Target = `lang = 'en'` documents;
    * raw = the whole corpus. */
  private val ratioCache =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.SparkSession, String),
      graft.operators.ImportanceSampling.RatioModel]

  private[graft] def stagedRatio(s: org.apache.spark.sql.SparkSession,
      dir: String): graft.operators.ImportanceSampling.RatioModel = {
    hookEviction(s)
    ratioCache.computeIfAbsent((s, dir),
      _ => ImportanceSampling.train(Tables.documents(s, dir),
        col("lang") === "en", "text", vocabSize = 64, alpha = 0.5))
  }

  /** Staged TARGET-corpus bigram LM (the `lang = 'en'` slice) for the
    * bigram DSIR variant — the raw-corpus twin is [[stagedLm]]. */
  private val lmTargetCache =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.SparkSession, String),
      graft.operators.LanguageModel.BigramLm]

  private[graft] def stagedLmTarget(s: org.apache.spark.sql.SparkSession,
      dir: String): graft.operators.LanguageModel.BigramLm = {
    hookEviction(s)
    lmTargetCache.computeIfAbsent((s, dir),
      _ => LanguageModel.train(
        Tables.documents(s, dir).filter(col("lang") === "en"),
        "doc_id", "text", vocabSize = 64, alpha = 0.5))
  }

  /** Staged IVF coarse quantizer per (session, dir) — the ANN-family
    * analog of [[stagedLm]]: at production scale a coarse quantizer is
    * trained ONCE and served to every query (FAISS's train/add/search
    * split), so the three IVF query rows and the recall certificate
    * share one deterministically-trained model per session instead of
    * re-running the k-means per evaluation (r16: training was ~half of
    * embed_ann_ivf_sq8's per-rep cost). Identical values to what each
    * call would train itself (deterministic sample + seeds — the
    * parameters below are exactly the ivf*TopK defaults). Bench times
    * the training as its own cold row (`ann_stage_cents`). */
  private val ivfCentsCache =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.SparkSession, String), Array[Array[Double]]]

  private[graft] def stagedIvfCents(s: org.apache.spark.sql.SparkSession,
      dir: String): Array[Array[Double]] = {
    hookEviction(s)
    ivfCentsCache.computeIfAbsent((s, dir),
      _ => Similarity.trainIvfCentroids(Tables.embeddings(s, dir),
        "vec_id", "embedding", nlist = 32))
  }

  /** Staged residual-PQ codebooks on top of [[stagedIvfCents]] — the
    * IVF-PQ index's second trained artifact, same once-per-corpus
    * discipline. */
  private val ivfPqBooksCache =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.SparkSession, String),
      Array[Array[Array[Double]]]]

  private[graft] def stagedIvfPqBooks(s: org.apache.spark.sql.SparkSession,
      dir: String): Array[Array[Array[Double]]] = {
    hookEviction(s)
    ivfPqBooksCache.computeIfAbsent((s, dir),
      _ => Similarity.trainIvfPqCodebooks(Tables.embeddings(s, dir),
        "vec_id", "embedding", stagedIvfCents(s, dir)))
  }

  private def hookEviction(s: org.apache.spark.sql.SparkSession): Unit =
    if (overlapEvictionHooked.add(s)) {
      s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          evictOverlapPairs(s)
      })
    }

  private[graft] def stagedOverlapPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    hookEviction(s)
    overlapPairsCache.computeIfAbsent((s, dir),
      _ => TextAnalysis.overlapPairs(
        Tables.documents(s, dir), "doc_id", "text").localCheckpoint())
  }

  private[graft] def stagedNearDupLsh(s: org.apache.spark.sql.SparkSession,
      dir: String): graft.operators.Similarity.LshStage = {
    hookEviction(s)
    nearDupStageCache.computeIfAbsent((s, dir),
      _ => graft.operators.Similarity.stageNearestDupLsh(
        Tables.embeddings(s, dir), "vec_id", "embedding"))
  }

  /** Drop every staged relation owned by `s` (winnow pairs AND the
    * LSH key stage) and unpersist their localCheckpoint blocks (the
    * checkpoint RDD surfaces as the LogicalRDD leaf of the memoized
    * frame). Safe to call on a stopped context — unpersist failures
    * are swallowed because the blocks die with the context anyway. */
  private[graft] def evictOverlapPairs(
      s: org.apache.spark.sql.SparkSession): Unit = {
    overlapEvictionHooked.remove(s)
    def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
      df.queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          try l.rdd.unpersist(blocking = false)
          catch { case _: Exception => () }
        case _ => ()
      }
    val it = overlapPairsCache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq s) {
        unpersistCheckpoint(e.getValue)
        it.remove()
      }
    }
    val jt = nearDupStageCache.entrySet().iterator()
    while (jt.hasNext) {
      val e = jt.next()
      if (e.getKey._1 eq s) {
        e.getValue.checkpointed.foreach(unpersistCheckpoint)
        jt.remove()
      }
    }
    lmCache.keySet().removeIf(k => k._1 eq s)
    lmTargetCache.keySet().removeIf(k => k._1 eq s)
    ratioCache.keySet().removeIf(k => k._1 eq s)
    ivfCentsCache.keySet().removeIf(k => k._1 eq s)
    ivfPqBooksCache.keySet().removeIf(k => k._1 eq s)
  }

  /** Test hook: staged entries currently held for `s`. */
  private[graft] def stagedOverlapCount(
      s: org.apache.spark.sql.SparkSession): Int = {
    var n = 0
    overlapPairsCache.forEach((k, _) => if (k._1 eq s) n += 1)
    n
  }

  /** Test hook: staged LSH key stages currently held for `s`. */
  private[graft] def stagedNearDupCount(
      s: org.apache.spark.sql.SparkSession): Int = {
    var n = 0
    nearDupStageCache.forEach((k, _) => if (k._1 eq s) n += 1)
    n
  }

  /** The ANN recall certificate's legs — THE single definition of
    * which approximate paths are gated, at which parameters, against
    * which exact ground truth. `embed_ann_recall` (the driver-visible
    * boolean gate) and [[certObserved]] (the machine-readable observed
    * series Bench emits) both consume this, so a parameter retune can
    * never make the two silently measure different things.
    * `methods` = (name, floor, approx top-10 frame with qid/vec_id);
    * `nearestDup` reads the per-session staged key legs. */
  private[graft] final case class AnnRecallLegs(
      exactTop10: org.apache.spark.sql.DataFrame,
      exact1nn: org.apache.spark.sql.DataFrame,
      nearestDup: org.apache.spark.sql.DataFrame,
      methods: Seq[(String, Double, org.apache.spark.sql.DataFrame)])

  private[graft] def annRecallLegs(s: org.apache.spark.sql.SparkSession,
      dir: String): AnnRecallLegs = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"),
        Similarity.asDouble(col("embedding")).as("qv"))
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries,
        k = 10)
      .select(col("qid"), col("vec_id"))
    val exact1nn = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        emb.select(col("vec_id").as("qid"),
          Similarity.asDouble(col("embedding")).as("qv")),
        k = 1, broadcastQueries = false)
      .select(col("qid"), col("vec_id"))
    val nearestDup = Similarity.nearestDupLshFrom(stagedNearDupLsh(s, dir))
      .select(col("qid"), col("nn").as("vec_id"))
    // all IVF paths share the ONE staged quantizer (identical to what
    // each would train itself — deterministic sample/seeds)
    val cents = stagedIvfCents(s, dir)
    val methods = Seq(
      ("lsh", 0.8,
        Similarity.lshTopK(emb, "vec_id", "embedding", queries, k = 10)),
      ("ivf", 0.75,
        AnnIndex(Some(cents), AnnIndex.Flat)
          .search(emb, "vec_id", "embedding", queries, k = 10)),
      ("sq8", 0.9,
        AnnIndex(None, AnnIndex.Sq8)
          .search(emb, "vec_id", "embedding", queries, k = 10)),
      ("ivf_sq8", 0.75,
        AnnIndex(Some(cents), AnnIndex.Sq8)
          .search(emb, "vec_id", "embedding", queries, k = 10)),
      // PQ: observed 0.93-1.0 across sf0.001-0.1 at the default
      // m=8/ksub=256/refine=8 — floor 0.7 keeps >=30% margin
      ("pq", 0.7,
        AnnIndex.fit(emb, "vec_id", "embedding", "PQ")
          .search(emb, "vec_id", "embedding", queries, k = 10)),
      // IVF-PQ: recall is bounded by the SAME cell pruning as the
      // plain ivf/ivf_sq8 paths (shared cents, nprobe 16 of 32 —
      // measured 0.875/0.888/0.900 at sf0.1/0.01/0.001, within a hit
      // or two of plain ivf's 0.888-0.900: the residual-PQ layer is
      // near-lossless at refine=8) — same 0.75 floor as the other IVF
      // paths, >=16% margin
      ("ivf_pq", 0.75,
        AnnIndex(Some(cents), AnnIndex.Pq(stagedIvfPqBooks(s, dir)))
          .search(emb, "vec_id", "embedding", queries, k = 10)))
    AnnRecallLegs(exact, exact1nn, nearestDup, methods)
  }

  /** OBSERVED certificate metrics — the values whose floored booleans
    * gate the 12 hash-dependent rows. The floors only fail on a cliff;
    * this emits the underlying measurements so a slow recall slide is
    * visible round-over-round in the bench JSON (`"certs"` object)
    * instead of surfacing only when a floor finally breaks. Keys are
    * stable; every computation reuses the exact operator calls (and
    * per-session staged relations) the cert queries themselves run.
    * Recall ratios are vs-certificate-ground-truth (1.0 = perfect);
    * `hll_max_rel_err` is an error (lower is better);
    * `quality_heldout_acc` is held-out accuracy. */
  private[graft] def certObserved(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(String, Double)] = {
    val docs = Tables.documents(s, dir)
    def ratio(num: Long, den: Long): Double =
      if (den == 0L) 1.0 else num.toDouble / den
    // planted ground truth shared by the overlap + simhash certs
    val planted = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.9)
      .select(col("doc_a"), col("doc_b")).localCheckpoint()
    val nPlanted = planted.count()
    def plantedHits(found: org.apache.spark.sql.DataFrame): Long =
      planted.join(found, Seq("doc_a", "doc_b"), "left_semi").count()
    val overlapRecall = ratio(plantedHits(
      stagedOverlapPairs(s, dir).select(col("doc_a"), col("doc_b"))), nPlanted)
    val topkRecall = ratio(plantedHits(
      TextAnalysis.overlapTopKOf(stagedOverlapPairs(s, dir), 5)
        .select(least(col("doc"), col("partner")).as("doc_a"),
          greatest(col("doc"), col("partner")).as("doc_b"))
        .distinct()), nPlanted)
    val simhashRecall = ratio(plantedHits(
      Dedup.simhashNearDuplicates(docs, "doc_id", "text",
          shingleN = 3, threshold = 0.5)
        .select(col("doc_a"), col("doc_b"))), nPlanted)
    val legs = annRecallLegs(s, dir)
    val exact10 = legs.exactTop10.localCheckpoint()
    val tot10 = exact10.count()
    val ann = legs.methods.map { case (m, _, approx) =>
      s"ann_${m}_recall" -> ratio(
        exact10.join(approx.select(col("qid"), col("vec_id")),
          Seq("qid", "vec_id"), "left_semi").count(), tot10)
    }
    val exact1 = legs.exact1nn.localCheckpoint()
    val nnRecall = ratio(
      exact1.join(legs.nearestDup, Seq("qid", "vec_id"), "left_semi").count(),
      exact1.count())
    val hllErr = Windows.distinctUsersExact(Tables.events(s, dir)).as("e")
      .join(Windows.distinctUsersApprox(Tables.events(s, dir)).as("a"),
        col("e.event_type") <=> col("a.event_type"))
      .select((abs(col("users_approx") - col("users")) /
        col("users").cast("double")).as("re"))
      .agg(max(col("re"))).head().getDouble(0)
    val qualityAcc = labeledQualityDocs(s, dir).filter(!col("is_train"))
      .join(QualityModel.score(docs, "doc_id", "text",
        trainedQualityWeights(s, dir)), Seq("doc_id"))
      .agg(avg(when(col("predicted_good") === col("good"), 1.0)
        .otherwise(0.0))).head().getDouble(0)
    // phash planted-twin recall — the media_phash_dup invariant's
    // observed value (16 JPEG re-encodes of patterned PNGs)
    val phashRecall = {
      // doc filter BELOW the generator — above it, the checkpoint
      // would PNG-encode the whole corpus to keep 16 rows
      val base = Multimodal.syntheticPatternMedia(
        docs.filter(col("doc_id") < 16)).localCheckpoint()
      val twins = Multimodal.transcodeImages(s, base, "jpg")
        .withColumn("media_id", col("media_id") + lit(twinOffsetBatch))
      val hashes = Multimodal.perceptualHash(s, base.unionByName(twins))
      ratio(Multimodal.phashNearDup(hashes, maxHamming = 3)
        .filter(col("id_b") === col("id_a") + twinOffsetBatch).count(), 16L)
    }
    Seq("overlap_recall" -> overlapRecall,
      "overlap_topk_recall" -> topkRecall,
      "simhash_recall" -> simhashRecall) ++
      ann ++ Seq(
      "nearest_dup_lsh_recall" -> nnRecall,
      "hll_max_rel_err" -> hllErr,
      "quality_heldout_acc" -> qualityAcc,
      "phash_planted_recall" -> phashRecall)
  }

  private[graft] def plantedNearDups(base: org.apache.spark.sql.DataFrame,
      offset: Long): org.apache.spark.sql.DataFrame =
    base.filter(col("vec_id") < 16)
      .select((col("vec_id") + offset).as("vec_id"),
        transform(col("v"), (x, i) =>
          x * (lit(1.0) + lit(0.02) *
            when(pmod(i, lit(2)) === 0, lit(1.0))
              .otherwise(lit(-1.0)))).as("v"))

  /** Natural-id cap of the certificate subset: the exact sweep and the
    * in-query sem_ok gate consider pairs among {vec_id < certStratum}
    * ∪ {planted twins}. 512 naturals (the negative-control stratum,
    * certifying the threshold's margin on real data) + 16 fixture
    * twins is CONSTANT in corpus size — the quadratic term no longer
    * grows with N. */
  private val certStratum = 512L

  /** Bounded exact brute-force sweep for the dedup_semantic
    * certificate: all pairs with cosine ≥ `threshold` WITHIN the
    * certificate subset (vec_id < [[certStratum]] naturals + every
    * planted twin at ≥ `offset`). Replaces the former all-pairs
    * BroadcastNestedLoopJoin over the full corpus — the subset is
    * fixture-constant (~528 rows at any SF), so the sweep is O(1) in
    * corpus size; and because every twin pair's members are both in
    * the subset (bases < 16 < stratum, twins ≥ offset) while no
    * natural pair approaches the threshold, the emitted rows equal the
    * full sweep's (pinned by PipelineOpsSpec's full-vs-bounded sweep
    * equality at the smallest SF). The self-join is keyed on a derived
    * constant bucket (vec_id % 1 ≡ 0 for EVERY long — unlike the
    * former shiftright-40 key it cannot split if a fixture ever emits
    * ids ≥ 2^40) purely so Catalyst plans an EQUI join (sort-merge /
    * hash), never a nested-loop: the real scale bound is the subset
    * filter, the key keeps the plan assertable (PlanSpec pins
    * no-BNLJ/cartesian). One task by construction — fine, the subset
    * is fixture-constant (~528 rows at any SF); do not "parallelize"
    * the key without re-checking the PlanSpec pin. */
  private[graft] def certExactPairs(corpus: org.apache.spark.sql.DataFrame,
      threshold: Double, offset: Long): org.apache.spark.sql.DataFrame = {
    val sub = corpus
      .filter(col("vec_id") < certStratum || col("vec_id") >= offset)
      .withColumn("bk", pmod(col("vec_id"), lit(1L)))
    sub.as("a").join(sub.as("b"),
        col("a.bk") === col("b.bk") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        Similarity.cosine(col("a.v"), col("b.v")).as("c0"))
      .filter(col("c0") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("c0"), 6).as("cos"))
  }

  /** SQL twin of [[plantedNearDups]]: CTEs `base` (cast embeddings)
    * and `c` (base ∪ planted), for oracle queries to build on. */
  private def plantedCorpusSql(offset: Long): String =
    s"""base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |planted AS (SELECT vec_id + $offset AS vec_id,
       |  [v[i] * (1 + 0.02 * (CASE WHEN (i - 1) % 2 = 0 THEN 1 ELSE -1 END))
       |    FOR i IN range(1, len(v) + 1)] AS v
       |  FROM base WHERE vec_id < 16),
       |c AS (SELECT * FROM base UNION ALL SELECT * FROM planted)""".stripMargin

  /** Documents labeled for the classifier gate: the oracle-proven
    * tie-free heuristic quality label (`good`) plus the md5-portable
    * 50/50 train/heldout assignment (`is_train`) — both recomputable
    * verbatim in DuckDB. */
  private def labeledQualityDocs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, dir)
    docs.join(TextAnalysis.qualityScore(docs, "doc_id", "text"),
        Seq("doc_id"))
      .withColumn("good", col("quality") >= 0.451117)
      .withColumn("is_train",
        Sampling.hashDraw(col("doc_id")) <
          lit(Sampling.hexThreshold(0.5)))
  }

  /** Frozen quality-classifier weights for `dir`: trained on a
    * deterministic ≤2k sample of the train half only (the heldout
    * half never reaches the trainer). Cheap enough (one bounded
    * collect) to retrain per call — no memo, so there is no cache key
    * to get wrong across sessions/dirs. */
  private[graft] def trainedQualityWeights(s: org.apache.spark.sql.SparkSession,
      dir: String): QualityModel.Weights = {
    val feats = QualityModel.features(Tables.documents(s, dir),
      "doc_id", "text")
    val train = labeledQualityDocs(s, dir).filter(col("is_train"))
      .select(col("doc_id"), col("good"))
      .join(feats, Seq("doc_id"))
    QualityModel.train(train, "doc_id",
      QualityModel.featureColumns(col("text")).map(_._1), "good")
  }

  val all: Seq[QueryDef] = Seq(

    // ---------------- deduplication ----------------

    QueryDef("dedup_exact",
      (s, dir) => Dedup.exactDuplicates(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("cnt")),
      Some("""SELECT MIN(doc_id) AS doc_id, COUNT(*) AS cnt
             |FROM documents GROUP BY text""".stripMargin)),

    // paragraph (sub-document) exact dedup: every occurrence of a
    // 32-token span whose text appears more than once in the corpus.
    // DuckDB rebuilds the same non-overlapping chunking (the
    // chunk_documents CTE with step = size = 32) and its sha256()
    // emits the same lowercase hex as Spark's sha2(…, 256), so the
    // digest column itself is oracle-compared.
    QueryDef("dedup_paragraph",
      (s, dir) => Dedup.paragraphDuplicates(Tables.documents(s, dir),
        "doc_id", "text", chunkSize = 32),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
             |starts AS (SELECT doc_id, l, unnest(range(0, GREATEST(len(l) - 1, 0) + 1, 32)) AS st
             |  FROM t),
             |numbered AS (SELECT doc_id, l, st,
             |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY st) - 1 AS chunk_id
             |  FROM starts),
             |chunks AS (SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
             |  array_to_string(l[st + 1 : st + 32], ' ') AS chunk_text
             |  FROM numbered WHERE len(l) - st > 0),
             |g AS (SELECT chunk_text, COUNT(*) AS n_copies FROM chunks
             |  GROUP BY chunk_text HAVING COUNT(*) > 1)
             |SELECT c.doc_id, c.chunk_id, sha256(c.chunk_text) AS span_sha,
             |g.n_copies
             |FROM chunks c JOIN g ON c.chunk_text = g.chunk_text""".stripMargin)),

    // DETERMINISTIC gate for a probabilistic method: the row values
    // are the exact prefix-filtered pair set (reproducible SQL — the
    // same jaccardOracle as before), while the LSH path's behaviour is
    // asserted IN-QUERY by the constant lsh_ok column: LSH pairs ⊆
    // exact pairs (n_extra == 0) AND recall ≥ 0.9 over planted pairs
    // (exact j ≥ 0.9, per-pair LSH miss ~1.5e-15 at k=128/bands=32).
    // Previously the oracle demanded exact EQUALITY of the LSH output,
    // which a ~5e-8-per-borderline-pair miss could turn spuriously
    // red on an unlucky new fixture; now a borderline miss cannot
    // affect the gate, but a genuine recall collapse still flips
    // lsh_ok against the oracle's TRUE.
    QueryDef("dedup_minhash_lsh",
      (s, dir) => Dedup.nearDuplicatesChecked(Tables.documents(s, dir),
        "doc_id", "text", shingleN = 3, k = 128, bands = 32, threshold = 0.8),
      Some(s"""SELECT doc_a, doc_b, jaccard, TRUE AS lsh_ok
              |FROM (${jaccardOracle(3, "0.8")})""".stripMargin)),

    // This and dedup_survivors below keep the EQUALITY oracle: every
    // hash seed is fixed, so a given fixture either matches forever or
    // never (no run-to-run flake), and the residual per-borderline-pair
    // ~5e-8 unlucky-new-fixture risk is accepted here because these
    // queries exercise the index/clustering machinery — the headline
    // LSH gate above is the one the driver grades the operator family
    // on, and it is now miss-proof.
    QueryDef("dedup_incremental",
      (s, dir) => {
        // end-to-end incremental path: index the corpus once, then
        // probe every document against the PERSISTED index — the
        // steady-state ingestion shape. Probing the corpus against its
        // own index must recover the batch pairs in both directions,
        // which the exact all-pairs oracle expresses directly.
        val docs = Tables.documents(s, dir)
        // path unique per (input dir, process): concurrent verifies of
        // different scale factors must not clobber each other's index
        val idx = new java.io.File(
          System.getProperty("java.io.tmpdir"),
          "graft_dedup_index_q_" +
            java.lang.Integer.toHexString(dir.hashCode) +
            "_" + ProcessHandle.current().pid()).getAbsolutePath
        // ONE params triple feeds both the index write and the sig
        // probe below (r22, ADVICE): duplicated literals were exactly
        // the silent-mismatch risk the operator's own contract warns
        // about if either side is ever edited alone
        val params @ (shingleN, k, bands) = (3, 128, 32)
        Dedup.writeNearDupIndex(docs, "doc_id", "text",
          idx, shingleN, k, bands)
        // self-matches are already excluded by the operator's
        // candidate filter (doc_new =!= indexed doc). The probe result
        // is CHECKPOINTED so the on-disk index can be deleted here —
        // returning the lazy frame instead leaked one index dir per
        // (dir, pid) into the tmpdir on every driver run. Deletion in
        // a finally: a failed probe job must not leak the dir either.
        // The probe side reads the index's own stored signatures
        // instead of re-tokenizing + re-hashing the corpus text a
        // second time (r21): the stored (doc, sh) relation IS
        // signatures(docs) — same ≥ shingleN filter, same hashes —
        // so the pair set is value-identical while the corpus text is
        // hashed once per evaluation, not twice. This is also the
        // steady-state shape: a real re-probe of an indexed corpus
        // reads signatures, it never re-derives them.
        try
          Dedup.incrementalNearDuplicatesOfSig(
            s.read.parquet(s"$idx/hashes")
              .select(col("doc").as("doc_new"), col("sh").as("sh_new")),
            idx, params, threshold = 0.8).localCheckpoint()
        finally {
          val fs = new org.apache.hadoop.fs.Path(idx)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(idx), true)
        }
      },
      Some(s"""WITH p AS (${jaccardOracle(3, "0.8")})
              |SELECT doc_a AS doc_new, doc_b AS doc_indexed, jaccard FROM p
              |UNION ALL
              |SELECT doc_b, doc_a, jaccard FROM p""".stripMargin)),

    // Semantic (embedding-space) dedup — completes the family: exact /
    // minhash / simhash / ngram / semantic. Same DETERMINISTIC-gate
    // shape as dedup_minhash_lsh: the corpus gets planted
    // near-duplicates (each base vector < 16 re-emitted under
    // id + 1e6 with a closed-form ±2% alternating-sign perturbation —
    // cos ≈ 0.9998, reproducible in SQL to the bit), the row values
    // are the exact brute-force pair set at cos ≥ 0.95 computed WITHIN
    // the certificate subset (all planted twins + the vec_id < 512
    // natural stratum — see [[certExactPairs]]; every pair ≥ 0.95 in
    // the full corpus lies inside the subset because both members of a
    // twin pair do, and no natural pair exceeds ~0.51, so the returned
    // rows equal the full sweep's while the sweep itself stays O(1) in
    // corpus size instead of the former all-pairs cartesian), and the
    // IVF-cell path is asserted IN-QUERY by the constant sem_ok
    // column: its subset pairs ⊆ exact (candidates are exact-verified,
    // so extras are impossible by construction) AND recall ≥ 0.8 over
    // the planted pairs.
    QueryDef("dedup_semantic",
      (s, dir) => {
        val base = Tables.embeddings(s, dir)
          .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
        val corpus = base.unionByName(plantedNearDups(base, twinOffsetBatch))
          .localCheckpoint()
        val exact = certExactPairs(corpus, 0.95, twinOffsetBatch).localCheckpoint()
        val approx = Similarity
          .semanticDuplicates(corpus, "vec_id", "v", threshold = 0.95)
          .select(col("vec_a"), col("vec_b")).localCheckpoint()
        // extras compare like with like: approx pairs WITHIN the
        // certificate subset vs the subset's exact sweep. Approx pairs
        // outside the subset are still false-positive-free by
        // construction (semanticDuplicates computes every candidate's
        // cosine on the full vectors before thresholding).
        val inSub = (c: org.apache.spark.sql.Column) =>
          c < certStratum || c >= twinOffsetBatch
        // ONE full-outer join + ONE aggregate for all three cert
        // counts (r22, §2.3 — was an anti-join branch, a semi-join
        // branch and a count branch + two crossJoins over the same two
        // checkpointed pair relations). exact ⊆ the subset by
        // construction, so approx rows outside the subset can never
        // match an exact row — hits over the subset-filtered approx
        // equals hits over the full approx; both inputs hold each pair
        // once, so the join is 1:1 and the counts are identical to the
        // branch formulation.
        val flags = exact.withColumn("__e", lit(true))
          .join(approx.filter(inSub(col("vec_a")) && inSub(col("vec_b")))
              .withColumn("__a", lit(true)),
            Seq("vec_a", "vec_b"), "full_outer")
        val ok = flags.agg(
            count(when(col("__a") && col("__e").isNull, 1)).as("n_extra"),
            count(when(col("__e") && col("__a"), 1)).as("hits"),
            count(when(col("__e"), 1)).as("tot"))
          .select((col("n_extra") === 0 &&
            col("hits") >= col("tot") * 0.8).as("sem_ok"))
        exact.crossJoin(ok)
      },
      Some(s"""WITH ${plantedCorpusSql(twinOffsetBatch)},
              |s AS (SELECT * FROM c
              |  WHERE vec_id < $certStratum OR vec_id >= $twinOffsetBatch)
              |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
              |ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos, TRUE AS sem_ok
              |FROM s a JOIN s b ON a.vec_id < b.vec_id
              |WHERE list_cosine_similarity(a.v, b.v) >= 0.95""".stripMargin)),

    QueryDef("dedup_ngram_jaccard",
      (s, dir) => Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 2, threshold = 0.5),
      Some(jaccardOracle(2, "0.5"))),

    QueryDef("dedup_survivors",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.nearDuplicates(docs, "doc_id", "text",
          shingleN = 3, k = 128, bands = 32, threshold = 0.8)
        Dedup.dedupSurvivors(docs, "doc_id", pairs).select(col("doc_id"))
      },
      Some(s"""WITH pairs AS (${jaccardOracle(3, "0.8")}),
              |p2 AS (SELECT doc_a, doc_b FROM pairs),
              |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p2
              |  UNION SELECT doc_b, doc_a FROM p2),
              |reach AS (
              |  WITH RECURSIVE r(doc, x) AS (
              |    SELECT src, src FROM edges
              |    UNION
              |    SELECT e.src, r.x FROM edges e JOIN r ON e.dst = r.doc)
              |  SELECT doc, MIN(x) AS cluster FROM r GROUP BY doc)
              |SELECT d.doc_id FROM documents d
              |LEFT JOIN (SELECT doc FROM reach WHERE doc <> cluster) l
              |ON l.doc = d.doc_id
              |WHERE l.doc IS NULL""".stripMargin)),

    // Exact-substring duplication (Lee et al. 2022 signal): stride-1
    // 25-token windows, cross-doc duplicated window text, per-doc
    // merged-interval token coverage. The oracle rebuilds windows by
    // TEXT (Spark keys the same set by sha2 digest so span text never
    // enters the df shuffle) and counts covered positions by explode —
    // value-identical to the interval-merge fold.
    QueryDef("dedup_substring",
      (s, dir) => Dedup.substringDuplication(Tables.documents(s, dir),
        "doc_id", "text", k = 25),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
             |w AS (SELECT doc_id, i, array_to_string(l[i + 1 : i + 25], ' ') AS wt
             |      FROM t, unnest(range(0, GREATEST(len(l) - 25, -1) + 1)) AS r(i)),
             |d AS (SELECT wt FROM w GROUP BY wt HAVING COUNT(DISTINCT doc_id) > 1),
             |ds AS (SELECT w.doc_id, w.i FROM w JOIN d USING (wt)),
             |cov AS (SELECT doc_id, COUNT(DISTINCT p) AS covered
             |        FROM ds, unnest(range(i, i + 25)) AS rr(p) GROUP BY doc_id),
             |cnt AS (SELECT doc_id, COUNT(*) AS dw FROM ds GROUP BY doc_id)
             |SELECT t.doc_id, CAST(len(t.l) AS BIGINT) AS n_tokens,
             |  CAST(COALESCE(cnt.dw, 0) AS BIGINT) AS dup_windows,
             |  CAST(COALESCE(cov.covered, 0) AS BIGINT) AS covered_tokens
             |FROM t LEFT JOIN cnt USING (doc_id) LEFT JOIN cov USING (doc_id)""".stripMargin)),

    // The removal side of dedup_substring: documents rewritten with
    // every duplicated-window-covered token cut out (order preserved;
    // fully-duplicated docs keep an empty string).
    QueryDef("dedup_substring_clean",
      (s, dir) => Dedup.removeDuplicateSubstrings(Tables.documents(s, dir),
        "doc_id", "text", k = 25),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
             |w AS (SELECT doc_id, i, array_to_string(l[i + 1 : i + 25], ' ') AS wt
             |      FROM t, unnest(range(0, GREATEST(len(l) - 25, -1) + 1)) AS r(i)),
             |d AS (SELECT wt FROM w GROUP BY wt HAVING COUNT(DISTINCT doc_id) > 1),
             |ds AS (SELECT w.doc_id, w.i FROM w JOIN d USING (wt)),
             |pos AS (SELECT doc_id, p, l[p + 1] AS tok
             |        FROM t, unnest(range(0, len(l))) AS rr(p)),
             |kept AS (SELECT p.doc_id, p.p, p.tok FROM pos p
             |         WHERE NOT EXISTS (SELECT 1 FROM ds
             |           WHERE ds.doc_id = p.doc_id
             |             AND p.p >= ds.i AND p.p < ds.i + 25))
             |SELECT t.doc_id, CAST(len(t.l) AS BIGINT) AS n_tokens,
             |  CAST(COUNT(k.p) AS BIGINT) AS kept_tokens,
             |  COALESCE(string_agg(k.tok, ' ' ORDER BY k.p), '') AS clean_text
             |FROM t LEFT JOIN kept k USING (doc_id)
             |GROUP BY t.doc_id, len(t.l)""".stripMargin)),

    // Same DETERMINISTIC-gate shape as dedup_minhash_lsh: the row
    // values are the exact prefix-filtered pair set at threshold 0.5
    // (reproducible SQL), while the simhash path is asserted IN-QUERY
    // by the constant simhash_ok column — pairs ⊆ exact AND recall
    // ≥ 0.6 over planted pairs (j ≥ 0.9; observed 0.68–0.85 across
    // the deterministic fixtures). Retires the last rows-only check
    // in the dedup family (the pre-r15 registration had no oracle
    // because the candidate set depends on xxhash64).
    QueryDef("dedup_simhash",
      (s, dir) => Dedup.simhashNearDuplicatesChecked(Tables.documents(s, dir),
        "doc_id", "text", shingleN = 3, threshold = 0.5),
      Some(s"""SELECT doc_a, doc_b, jaccard, TRUE AS simhash_ok
              |FROM (${jaccardOracle(3, "0.5")})""".stripMargin)),

    // ---------------- embedding similarity ----------------

    QueryDef("embed_cosine_topk",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"),
            Similarity.asDouble(col("embedding")).as("qv"))
        Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, k = 10)
      },
      Some("""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
             |  FROM embeddings WHERE vec_id < 8),
             |p AS (SELECT qid, vec_id,
             |    ROUND(list_cosine_similarity(qv, CAST(embedding AS DOUBLE[])), 6) AS cos
             |  FROM q CROSS JOIN embeddings WHERE vec_id <> qid),
             |r AS (SELECT qid, vec_id, cos,
             |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
             |  FROM p)
             |SELECT qid, vec_id, cos, rn FROM r WHERE rn <= 10""".stripMargin)),

    QueryDef("embed_ann_lsh",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"),
            Similarity.asDouble(col("embedding")).as("qv"))
        Similarity.lshTopK(emb, "vec_id", "embedding", queries, k = 10)
      },
      // r17: full oracle — the hyperplane bank is pure-Scala
      // deterministic, so DuckDB re-derives buckets, multi-probe
      // flips, the candidate join and the rerank (AnnOracles)
      Some(AnnOracles.lshSql())),

    QueryDef("embed_ann_sq8",
      (s, dir) => {
        // int8-quantized scan + exact rerank (the scalar-quantization
        // memory/IO path): candidate membership depends on the
        // quantized preselection, so no SQL oracle on the rows —
        // recall vs the exact top-k is floored driver-visibly by
        // embed_ann_recall (observed ≥0.98 at refine=4) and the
        // quantization kernels are property-tested in ScalaTest.
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"),
            Similarity.asDouble(col("embedding")).as("qv"))
        AnnIndex(None, AnnIndex.Sq8)
          .search(emb, "vec_id", "embedding", queries, k = 10)
      },
      // r17: full oracle — SQ8 is a pure per-vector function, so
      // DuckDB replays quantize → integer-exact quantized cosine →
      // shortlist → exact rerank with no model constants at all
      Some(AnnOracles.sq8Sql())),

    QueryDef("embed_ann_ivf_sq8",
      (s, dir) => {
        // IVF cell pruning × SQ8 quantized scoring + exact rerank —
        // the FAISS-IVF-SQ composition, the shape a 100 TB ANN
        // actually runs: the scan side is nprobe/nlist-pruned AND 8×
        // lighter. Candidate membership depends on centroids AND the
        // quantized preselection → no SQL oracle on rows; recall is
        // floored by embed_ann_recall (measured equal to plain IVF's
        // 0.888–0.900: the sq8+rerank layer is lossless within cells).
        // Coarse quantizer STAGED per (session, dir) — see
        // stagedIvfCents — so the row times the search (the per-query
        // production cost), not a per-rep retrain; Bench times the
        // training as the cold ann_stage_cents row (r16).
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"),
            Similarity.asDouble(col("embedding")).as("qv"))
        AnnIndex(Some(stagedIvfCents(s, dir)), AnnIndex.Sq8)
          .search(emb, "vec_id", "embedding", queries, k = 10)
      },
      // r17: full oracle — the frozen golden quantizer
      // (GoldenAnnCents, fingerprint-dispatched; AnnGoldenSpec is the
      // drift alarm) lets DuckDB re-derive cells, the int8 scan and
      // the rerank independently
      Some(AnnOracles.ivfSq8Sql())),

    QueryDef("embed_ann_pq",
      (s, dir) => {
        // product quantization + ADC + exact rerank — the FAISS-PQ
        // memory shape: the scan streams m=8 BYTES per vector (4×
        // less than SQ8, 32× less than float64 at d=32); each query
        // carries a precomputed m·ksub lookup table so scoring is m
        // array reads per pair. r18: full oracle — the frozen golden
        // codebooks (GoldenAnnPq, fingerprint-dispatched; AnnGoldenSpec
        // retrains them per fixture) let DuckDB re-derive the codes,
        // the ADC scan and the rerank independently.
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"),
            Similarity.asDouble(col("embedding")).as("qv"))
        AnnIndex.fit(emb, "vec_id", "embedding", "PQ")
          .search(emb, "vec_id", "embedding", queries, k = 10)
      },
      Some(AnnOracles.pqSql())),

    QueryDef("embed_ann_ivf_pq",
      (s, dir) => {
        // IVF cell pruning × residual product quantization + exact
        // rerank — the full FAISS IndexIVFPQ composition and THE
        // billion-vector shape: the scan is nprobe/nlist-pruned AND
        // m=8 bytes per vector; scoring is ⟨unit(q), c_cell⟩ (one
        // scalar per probed cell, broadcast side) + m ADC table
        // lookups on the shared residual codebooks. r18: full oracle —
        // frozen golden centroids + residual codebooks (GoldenAnnCents
        // / GoldenAnnPq, fingerprint-dispatched, AnnGoldenSpec-pinned)
        // let DuckDB re-derive cells, residual codes, the ADC scan and
        // the rerank independently. Recall additionally floored by
        // embed_ann_recall (0.875-0.900 at nprobe=16/32, refine=8).
        // Coarse quantizer + residual codebooks STAGED per
        // (session, dir) — stagedIvfCents/stagedIvfPqBooks (r16).
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"),
            Similarity.asDouble(col("embedding")).as("qv"))
        AnnIndex(Some(stagedIvfCents(s, dir)), AnnIndex.Pq(stagedIvfPqBooks(s, dir)))
          .search(emb, "vec_id", "embedding", queries, k = 10)
      },
      Some(AnnOracles.ivfPqSql())),

    QueryDef("embed_nearest_dup",
      (s, dir) => {
        // embedding-cosine near-dup: every vector's single nearest
        // neighbour + similarity; downstream thresholds decide dup-ness.
        // Exact all-vs-all here — it exists as the ORACLE CROSS-CHECK
        // for embed_nearest_dup_lsh below, which is the declared scale
        // path for this shape (banded self-join, no cartesian).
        val emb = Tables.embeddings(s, dir)
        val queries = emb.select(col("vec_id").as("qid"),
          Similarity.asDouble(col("embedding")).as("qv"))
        Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, k = 1,
            broadcastQueries = false)
          .select(col("qid"), col("vec_id").as("nn"), col("cos"))
      },
      Some("""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
             |  FROM embeddings),
             |p AS (SELECT qid, vec_id,
             |    ROUND(list_cosine_similarity(qv, CAST(embedding AS DOUBLE[])), 6) AS cos
             |  FROM q CROSS JOIN embeddings WHERE vec_id <> qid),
             |r AS (SELECT qid, vec_id, cos,
             |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
             |  FROM p)
             |SELECT qid, vec_id AS nn, cos FROM r WHERE rn = 1""".stripMargin)),

    QueryDef("embed_nearest_dup_lsh",
      (s, dir) =>
        // the 100 TB shape for whole-corpus 1-NN: banded LSH self-join
        // (candidates meet only inside a (table, bucket) key), vs the
        // exact query above whose plan is a cartesian product.
        // r18: full oracle — the plane banks are pure-Scala
        // deterministic constants, so DuckDB re-derives keys, probes,
        // the candidate join and the top-1 (AnnOracles
        // .nearestDupLshSql); recall vs the exact 1-NN additionally
        // stays ScalaTest-floored and surfaced by embed_ann_recall
        // below. The key legs are
        // STAGED once per (session, dir) — see stagedNearDupLsh — so
        // repeated evaluations time the candidate join + scoring;
        // Bench reports the staging cost as its own `lsh_stage_keys`
        // row.
        Similarity.nearestDupLshFrom(stagedNearDupLsh(s, dir)),
      Some(AnnOracles.nearestDupLshSql())),

    QueryDef("embed_ann_recall",
      (s, dir) => {
        // driver-visible verification for the hash-dependent ANN family:
        // recall of each approximate path against the oracle-green exact
        // top-k, computed INSIDE the query (one aggregate per path, no
        // collect). Floors are measured-margin (deterministic — fixed
        // hash seeds and a hash-ordered training sample): observed
        // recall across sf0.001/0.01/0.1 is lsh 0.96-0.98
        // (multi-probe), ivf 0.888-0.900 (restart-trained k-means
        // centroids probing 16 of 32 cells — the same 50% scan
        // fraction as the former 8-of-16, which measured 0.76-0.84;
        // random directions 0.71-0.75), nearest-dup 0.973-0.992
        // (asymmetric multi-probe on the self-join; was 0.59-0.72
        // base-only) — floors 0.8/0.75/0.7 hold everywhere with
        // >=15-40% margin while still failing on any genuine recall
        // collapse.
        val legs = annRecallLegs(s, dir)
        def recallOk(method: String, approx: org.apache.spark.sql.DataFrame,
            floor: Double) = {
          val hits = legs.exactTop10.join(approx.select(col("qid"), col("vec_id")),
              Seq("qid", "vec_id"), "left_semi")
            .agg(count(lit(1)).as("hits"))
          legs.exactTop10.agg(count(lit(1)).as("tot")).crossJoin(hits)
            .select(lit(method).as("method"),
              (col("hits") >= col("tot") * floor).as("recall_ok"))
        }
        val nnHits = legs.exact1nn.join(legs.nearestDup,
            Seq("qid", "vec_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
        val nnOk = legs.exact1nn.agg(count(lit(1)).as("tot")).crossJoin(nnHits)
          .select(lit("nearest_dup_lsh").as("method"),
            (col("hits") >= col("tot") * 0.7).as("recall_ok"))
        legs.methods.map { case (m, floor, approx) => recallOk(m, approx, floor) }
          .reduce(_ unionByName _)
          .unionByName(nnOk)
      },
      Some("""SELECT 'lsh' AS method, TRUE AS recall_ok
             |UNION ALL SELECT 'ivf', TRUE
             |UNION ALL SELECT 'sq8', TRUE
             |UNION ALL SELECT 'ivf_sq8', TRUE
             |UNION ALL SELECT 'pq', TRUE
             |UNION ALL SELECT 'ivf_pq', TRUE
             |UNION ALL SELECT 'nearest_dup_lsh', TRUE""".stripMargin)),

    QueryDef("label_centroids",
      (s, dir) => {
        val summed = Tables.embeddings(s, dir)
          .groupBy(col("label"))
          .agg(graft.functions.VectorAgg.vector_sum(
            Similarity.asDouble(col("embedding"))).as("vs"),
            count(lit(1)).as("n"))
        summed.select(col("label"),
            posexplode(col("vs")).as(Seq("pos0", "v")), col("n"))
          .select(col("label"), (col("pos0") + 1).cast("long").as("pos"),
            round(col("v") / col("n"), 6).as("mean_val"))
      },
      Some("""SELECT label, pos, ROUND(SUM(v) / COUNT(*), 6) AS mean_val
             |FROM (SELECT label,
             |        unnest(CAST(embedding AS DOUBLE[])) AS v,
             |        generate_subscripts(embedding, 1) AS pos
             |      FROM embeddings)
             |GROUP BY label, pos""".stripMargin)),

    QueryDef("embed_ann_ivf",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"),
            Similarity.asDouble(col("embedding")).as("qv"))
        AnnIndex(Some(stagedIvfCents(s, dir)), AnnIndex.Flat)
          .search(emb, "vec_id", "embedding", queries, k = 10)
      },
      // r17: full oracle over the frozen golden quantizer — see
      // embed_ann_ivf_sq8
      Some(AnnOracles.ivfSql())),

    // ---------------- text analysis ----------------

    QueryDef("text_stats",
      (s, dir) => TextAnalysis.textStats(Tables.documents(s, dir), "doc_id", "text"),
      Some("""SELECT doc_id,
             |CAST(length(text) AS BIGINT) AS n_chars_calc,
             |CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
             |ROUND(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
             |  / len(string_split(text, ' ')), 6) AS mean_tok_len,
             |ROUND(CAST(len(list_filter(string_split(text, ' '),
             |    x -> x IN ('a', 'the', 'and', 'of', 'to'))) AS DOUBLE)
             |  / len(string_split(text, ' ')), 6) AS stop_ratio
             |FROM documents""".stripMargin)),

    QueryDef("text_quality",
      (s, dir) => TextAnalysis.qualityScore(Tables.documents(s, dir), "doc_id", "text"),
      Some("""SELECT doc_id,
             |ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             |    / len(string_split(text, ' '))
             |  * (1.0 - CAST(len(list_filter(string_split(text, ' '),
             |      x -> x IN ('a', 'the', 'and', 'of', 'to'))) AS DOUBLE)
             |    / len(string_split(text, ' '))), 6) AS quality
             |FROM documents""".stripMargin)),

    QueryDef("token_count",
      (s, dir) => TextAnalysis.tokenCount(Tables.documents(s, dir), "doc_id", "text"),
      Some("""SELECT doc_id,
             |CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
             |CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS bpe_tokens
             |FROM documents""".stripMargin)),

    // REAL trained-BPE tokenization (vs token_count's regex proxy):
    // merges trained on a deterministic ≤2000-doc sample (driver-side,
    // frozen — the quantizer-trainer discipline), applied corpus-wide
    // by the native BpeTokens expression. The merge list is
    // data-dependent, so per-doc token COUNTS have no SQL oracle; the
    // graded row carries n_words (oracle-recomputed) plus two
    // certificates computed from the expression's OUTPUT by
    // independent built-ins: roundtrip_ok (concatenated tokens with
    // </w> markers restored to spaces == whitespace-normalized text —
    // lossless tokenization) and compression_ok (every word ≥1 token,
    // never more tokens than characters + word markers).
    QueryDef("token_count_bpe",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val merges = TextAnalysis.trainBpeMerges(docs, "doc_id", "text")
        // NULL-safe text; whitespace = the kernel's exact ASCII class
        // (Java \s and RE2 \s disagree on U+000B — the tokenizer must
        // split exactly like its verifier)
        val txt = coalesce(col("text"), lit(""))
        val words = filter(split(txt, graft.functions.Bpe.WsClass), x => x =!= "")
        val toks = graft.functions.Bpe.tokens(txt, merges)
        // expected concatenation built FROM the words (each word +
        // its </w> marker) — no replace step, so text containing a
        // literal "</w>" cannot confuse the certificate.
        // spread BEFORE the BPE kernel: the one-split fixture scan
        // would run the merge-loop encoder single-core (no-op at
        // scale — see Scale.spreadForKernel)
        graft.operators.Scale.spreadForKernel(docs, col("doc_id"))
          .select(col("doc_id"), words.as("w"), toks.as("toks"))
          .select(col("doc_id"),
            size(col("w")).cast("long").as("n_words"),
            (array_join(col("toks"), "") ===
              array_join(transform(col("w"), x => concat(x, lit("</w>"))), ""))
              .as("roundtrip_ok"),
            (size(col("toks")) >= size(col("w")) &&
              size(col("toks")) <= length(array_join(col("w"), "")) + size(col("w")))
              .as("compression_ok"))
      },
      Some("""SELECT doc_id,
             |CAST(len(list_filter(regexp_split_to_array(
             |  coalesce(text, ''), '[ \t\n\f\r]+'),
             |  x -> x != '')) AS BIGINT) AS n_words,
             |TRUE AS roundtrip_ok, TRUE AS compression_ok
             |FROM documents""".stripMargin)),

    QueryDef("lang_id",
      (s, dir) => TextAnalysis.langId(Tables.documents(s, dir), "doc_id", "text"),
      Some {
        val scoreCols = TextAnalysis.LangMarkers.map { case (lang, markers) =>
          val list = markers.map(m => s"'$m'").mkString(", ")
          s"""CAST(len(list_filter(string_split(text, ' '),
             |  x -> x IN ($list))) AS BIGINT) AS score_$lang""".stripMargin
        }.mkString(",\n")
        """SELECT doc_id,
          |""".stripMargin + scoreCols + """,
          |CASE
          |  WHEN GREATEST(score_en, score_de, score_es, score_fr, score_zh) = 0 THEN 'und'
          |  WHEN score_en >= score_de AND score_en >= score_es
          |    AND score_en >= score_fr AND score_en >= score_zh THEN 'en'
          |  WHEN score_de >= score_es AND score_de >= score_fr
          |    AND score_de >= score_zh THEN 'de'
          |  WHEN score_es >= score_fr AND score_es >= score_zh THEN 'es'
          |  WHEN score_fr >= score_zh THEN 'fr'
          |  ELSE 'zh' END AS lang_pred
          |FROM documents""".stripMargin
      }),

    QueryDef("chunk_documents",
      (s, dir) => TextAnalysis.chunkDocuments(Tables.documents(s, dir),
        "doc_id", "text", chunkSize = 32, overlap = 8),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
             |starts AS (SELECT doc_id, l, unnest(range(0, GREATEST(len(l) - 1, 0) + 1, 24)) AS st
             |  FROM t),
             |numbered AS (SELECT doc_id, l, st,
             |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY st) - 1 AS chunk_id
             |  FROM starts)
             |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
             |array_to_string(l[st + 1 : st + 32], ' ') AS chunk_text,
             |CAST(LEAST(32, len(l) - st) AS BIGINT) AS chunk_tokens
             |FROM numbered WHERE len(l) - st > 0""".stripMargin)),

    QueryDef("pack_sequences",
      (s, dir) => {
        // pack document chunks into 128-token training windows; the
        // assignment is greedy (next-fit per hash bucket), so the
        // driver-visible check is the validity certificate: item count
        // (data-dependent, oracle-computed from the chunk definition)
        // plus packing invariants as booleans
        val chunks = TextAnalysis.chunkDocuments(Tables.documents(s, dir),
            "doc_id", "text", chunkSize = 32, overlap = 8)
          .select(concat_ws("-", col("doc_id"), col("chunk_id")).as("item_id"),
            col("chunk_tokens"))
        Packing.packValidity(chunks, "item_id", "chunk_tokens",
          maxTokens = 128, buckets = 16)
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
             |starts AS (SELECT doc_id, unnest(range(0, GREATEST(len(l) - 1, 0) + 1, 24)) AS st,
             |  len(l) AS n FROM t)
             |SELECT COUNT(*) AS n_items,
             |TRUE AS all_packed_once, TRUE AS no_overflow, TRUE AS bins_bounded
             |FROM starts WHERE n - st > 0""".stripMargin)),

    QueryDef("repetition_score",
      (s, dir) => TextAnalysis.repetitionScore(Tables.documents(s, dir),
        "doc_id", "text", n = 3),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents
             |  WHERE len(string_split(text, ' ')) >= 3),
             |g AS (SELECT doc_id,
             |  l[i + 1] || ' ' || l[i + 2] || ' ' || l[i + 3] AS g
             |  FROM t, unnest(range(0, len(l) - 2)) AS u(i)),
             |c AS (SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY doc_id, g)
             |SELECT doc_id,
             |ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS repetition
             |FROM c GROUP BY doc_id""".stripMargin)),

    // C4-style boilerplate strip: spans duplicated across documents
    // (df > 1) are dropped, documents reassembled from the survivors
    // in span order — exercised on the same 32-token non-overlapping
    // span unit as dedup_paragraph.
    QueryDef("strip_boilerplate",
      (s, dir) => TextAnalysis.stripBoilerplate(Tables.documents(s, dir),
        "doc_id", "text", spanTokens = 32, maxDf = 1),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
             |starts AS (SELECT doc_id, l,
             |    unnest(range(0, GREATEST(len(l) - 1, 0) + 1, 32)) AS st FROM t),
             |numbered AS (SELECT doc_id, st,
             |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY st) - 1 AS chunk_id,
             |    array_to_string(l[st + 1 : st + 32], ' ') AS chunk_text
             |  FROM starts WHERE len(l) - st > 0),
             |df AS (SELECT chunk_text, COUNT(DISTINCT doc_id) AS df
             |       FROM numbered GROUP BY chunk_text),
             |kept AS (SELECT n.doc_id, n.chunk_id, n.chunk_text
             |         FROM numbered n JOIN df ON df.chunk_text = n.chunk_text
             |         WHERE df.df <= 1),
             |agg AS (SELECT doc_id, COUNT(*) AS kept_spans,
             |        string_agg(chunk_text, ' ' ORDER BY chunk_id) AS clean_text
             |        FROM kept GROUP BY doc_id),
             |tot AS (SELECT doc_id, COUNT(*) AS n_spans FROM numbered GROUP BY doc_id)
             |SELECT d.doc_id,
             |  CAST(COALESCE(tot.n_spans, 0) AS BIGINT) AS n_spans,
             |  CAST(COALESCE(agg.kept_spans, 0) AS BIGINT) AS kept_spans,
             |  COALESCE(agg.clean_text, '') AS clean_text
             |FROM documents d LEFT JOIN tot ON tot.doc_id = d.doc_id
             |LEFT JOIN agg ON agg.doc_id = d.doc_id""".stripMargin)),

    QueryDef("redact_pii",
      (s, dir) => TextAnalysis.redactPii(Tables.documents(s, dir), "doc_id", "text"),
      Some("""SELECT doc_id,
             |regexp_replace(
             |  regexp_replace(text,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |  '[0-9]{6,}', '<NUM>', 'g') AS redacted
             |FROM documents""".stripMargin)),

    QueryDef("vocabulary",
      (s, dir) => TextAnalysis.vocabulary(Tables.documents(s, dir),
        "doc_id", "text", topK = 20),
      Some("""SELECT tok, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS doc_freq
             |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             |      FROM documents)
             |GROUP BY tok ORDER BY cnt DESC, tok LIMIT 20""".stripMargin)),

    // CCNet-style fluency scoring: a bounded bigram LM (top-64 vocab,
    // OOV→<unk>, add-0.5 smoothing over the closed alphabet) trained
    // on the corpus, every document scored with mean negative
    // log-likelihood. The model is fully deterministic (count-desc/
    // token tie-break), so DuckDB retrains it in SQL and replays the
    // exact per-document ordered fold. Training = bounded-output hash
    // aggregations; scoring = one codegen map stage with literal maps
    // (no UDF, no shuffle, no join) — see operators/LanguageModel.
    QueryDef("lm_perplexity",
      (s, dir) => LanguageModel.perplexity(Tables.documents(s, dir),
        "doc_id", "text", stagedLm(s, dir)),
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |pos AS (SELECT doc_id, i, t[i] AS w
             |        FROM tok, unnest(range(1, len(t) + 1)) AS r(i)),
             |uni AS (SELECT w, COUNT(*) AS c FROM pos GROUP BY w),
             |vocab AS (SELECT w FROM uni ORDER BY c DESC, w LIMIT 64),
             |s AS (SELECT COUNT(*) + 1 AS s FROM vocab),
             |m AS (SELECT p.doc_id, p.i,
             |        CASE WHEN v.w IS NULL THEN '<unk>' ELSE p.w END AS w
             |      FROM pos p LEFT JOIN vocab v ON v.w = p.w),
             |u2 AS (SELECT w, COUNT(*) AS c FROM m GROUP BY w),
             |big AS (SELECT a.w AS wa, b.w AS wb, COUNT(*) AS c
             |        FROM m a JOIN m b ON b.doc_id = a.doc_id AND b.i = a.i + 1
             |        GROUP BY 1, 2),
             |terms AS (SELECT a.doc_id,
             |            LN((COALESCE(big.c, 0) + 0.5) / (u.c + 0.5 * s.s)) AS term
             |          FROM m a JOIN m b ON b.doc_id = a.doc_id AND b.i = a.i + 1
             |          JOIN u2 u ON u.w = a.w
             |          LEFT JOIN big ON big.wa = a.w AND big.wb = b.w
             |          CROSS JOIN s),
             |nb AS (SELECT doc_id, GREATEST(len(string_split(text, ' ')) - 1, 0) AS n1
             |       FROM documents)
             |SELECT nb.doc_id, CAST(nb.n1 AS BIGINT) AS n_bigrams,
             |       CASE WHEN nb.n1 = 0 THEN NULL
             |            ELSE ROUND(-SUM(t.term) / nb.n1, 6) END AS nll
             |FROM nb LEFT JOIN terms t USING (doc_id)
             |GROUP BY nb.doc_id, nb.n1""".stripMargin)),

    // Snapshot drift monitor: Jensen–Shannon divergence between two
    // corpus snapshots' token distributions over the shared bounded
    // vocab (top-64 + <unk> — the alphabet is closed, so output and
    // every join side are model-sized). Snapshots here = even/odd
    // doc_id halves; production swaps in last week's table.
    QueryDef("corpus_divergence",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        LanguageModel.divergence(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", vocabSize = 64)
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t,
             |        CASE WHEN doc_id % 2 = 0 THEN 'a' ELSE 'b' END AS side
             |      FROM documents),
             |pos AS (SELECT side, unnest(t) AS w FROM d),
             |uni AS (SELECT w, COUNT(*) AS c FROM pos GROUP BY w),
             |vocab AS (SELECT w FROM uni ORDER BY c DESC, w LIMIT 64),
             |mp AS (SELECT side, CASE WHEN v.w IS NULL THEN '<unk>' ELSE p.w END AS tok
             |       FROM pos p LEFT JOIN vocab v ON v.w = p.w),
             |counts AS (SELECT tok,
             |    SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS ca,
             |    SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS cb
             |  FROM mp GROUP BY tok),
             |tot AS (SELECT CAST(SUM(ca) AS DOUBLE) AS ta,
             |               CAST(SUM(cb) AS DOUBLE) AS tb FROM counts),
             |pr AS (SELECT tok, ca / ta AS p, cb / tb AS q
             |       FROM counts CROSS JOIN tot),
             |tm AS (SELECT tok, p, q,
             |    (CASE WHEN p > 0 THEN p * LN(p / ((p + q) / 2)) / 2 ELSE 0 END +
             |     CASE WHEN q > 0 THEN q * LN(q / ((p + q) / 2)) / 2 ELSE 0 END) AS t
             |  FROM pr)
             |SELECT tok, ROUND(p, 6) AS p_a, ROUND(q, 6) AS p_b,
             |  ROUND(t, 6) AS js_term,
             |  (SELECT ROUND(SUM(t), 6) FROM tm) AS js_total
             |FROM tm""".stripMargin)),

    QueryDef("idf",
      (s, dir) => TextAnalysis.idf(Tables.documents(s, dir), "doc_id", "text"),
      Some("""WITH n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
             |dt AS (SELECT DISTINCT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
             |       FROM documents)
             |SELECT tok, COUNT(*) AS doc_freq,
             |ROUND(LN(MAX(n.n) / COUNT(*)), 6) AS idf
             |FROM dt CROSS JOIN n GROUP BY tok""".stripMargin)),

    // FUZZY decontamination (Dedup.crossNgramJaccard): corpus docs
    // within Jaccard 0.8 of an eval-set item — the near-dup screen
    // exact probes and the Bloom pass can't provide. Eval here = the
    // doc_id % 17 slice (production passes the benchmark table);
    // self-pairs (the slice is drawn from the corpus) filtered out.
    // The oracle is the naive cross inverted-index join — the
    // prefix-filtered path must return exactly that set.
    QueryDef("decontaminate_fuzzy",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Dedup.crossNgramJaccard(docs, "doc_id",
            docs.filter(col("doc_id") % 17 === 0)
              .select(col("doc_id").as("eval_id"), col("text")),
            "eval_id", "text", shingleN = 3, threshold = 0.8)
          .filter(col("doc_id") =!= col("eval_id"))
          .select(col("doc_id"), col("eval_id"),
            round(col("jaccard"), 6).as("jaccard"))
      },
      Some("""WITH s AS (
             |  SELECT doc_id, list_distinct([l[i] || chr(1) || l[i+1] || chr(1) || l[i+2]
             |      FOR i IN range(1, len(l) - 1)]) AS sh
             |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
             |  WHERE len(l) >= 3),
             |e AS (SELECT doc_id, unnest(sh) AS sg FROM s),
             |cnt AS (SELECT doc_id, len(sh) AS nn FROM s),
             |inter AS (SELECT x.doc_id AS doc_c, y.doc_id AS doc_e, COUNT(*) AS i
             |  FROM e x JOIN e y ON x.sg = y.sg AND y.doc_id % 17 = 0
             |    AND x.doc_id != y.doc_id
             |  GROUP BY 1, 2)
             |SELECT doc_c AS doc_id, doc_e AS eval_id,
             |  ROUND(CAST(i AS DOUBLE) / (ca.nn + cb.nn - i), 6) AS jaccard
             |FROM inter
             |JOIN cnt ca ON ca.doc_id = doc_c
             |JOIN cnt cb ON cb.doc_id = doc_e
             |WHERE CAST(i AS DOUBLE) / (ca.nn + cb.nn - i) >= 0.8""".stripMargin)),

    QueryDef("contamination_check",
      (s, dir) => TextAnalysis.contamination(Tables.documents(s, dir),
        "doc_id", "text", Seq("spark group fast", "hash join", "window merge")),
      Some("""SELECT doc_id, 0 AS probe_id FROM documents
             |WHERE contains(text, 'spark group fast')
             |UNION ALL
             |SELECT doc_id, 1 FROM documents WHERE contains(text, 'hash join')
             |UNION ALL
             |SELECT doc_id, 2 FROM documents WHERE contains(text, 'window merge')""".stripMargin)),

    QueryDef("fingerprint_rolling",
      (s, dir) => TextAnalysis.fingerprint(Tables.documents(s, dir), "doc_id", "text"),
      // r18: full oracle — DuckDB re-derives the Karp-Rabin window
      // hashes + splitmix64 whitener with exact mod-2^64 arithmetic
      // (RollingHashOracles); fingerprint_cert stays as the
      // structural certificate
      Some(RollingHashOracles.fingerprintSql())),

    // ---------------- json scalar extraction ----------------

    QueryDef("json_props_sum",
      (s, dir) => Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(sum(get_json_object(col("props"), "$.k").cast("long")).as("k_sum"),
          count(lit(1)).as("cnt")),
      Some("""SELECT event_type,
             |CAST(SUM(CAST(props ->> 'k' AS BIGINT)) AS BIGINT) AS k_sum, COUNT(*) AS cnt
             |FROM events GROUP BY event_type""".stripMargin)),

    // ---------------- multimodal ----------------

    // REAL codec round trip, driver-checked: syntheticMedia ENCODES
    // genuine PNG / 16-bit-PCM WAV / animated-GIF payloads whose
    // content parameters are closed-form in doc_id; extractFeatures
    // DECODES the bytes (javax.imageio / javax.sound.sampled — never
    // reading the metadata columns); the oracle recomputes the same
    // closed forms in SQL. A hash match therefore certifies the full
    // encode → compress → decode → feature path: image dims + mean
    // luminance from pixels, WAV sample-rate/frame-count/RMS from
    // PCM, GIF frame count + mean over frames.
    QueryDef("media_features",
      // partitions = 0 (r21): syntheticMedia now spreads the encode
      // ids over the session's parallelism BEFORE the codec pass, so
      // the decode keeps that partitioning — re-shuffling here would
      // move the encoded BYTES a second time for no spread gain
      (s, dir) => Multimodal.extractFeatures(s,
          Multimodal.syntheticMedia(Tables.documents(s, dir)))
        .toDF().select(col("media_id"), col("kind"),
          col("width_px"), col("height_px"), col("n_frames"),
          col("sample_rate_hz"), col("n_samples"),
          round(col("mean_px"), 4).as("mean_px"),
          round(col("rms"), 4).as("rms")),
      Some("""SELECT doc_id AS media_id,
             |CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
             |  WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             |CAST(CASE doc_id % 3 WHEN 0 THEN 16 + doc_id % 17
             |  WHEN 2 THEN 8 ELSE 0 END AS INT) AS width_px,
             |CAST(CASE doc_id % 3 WHEN 0 THEN 16 + (doc_id * 7) % 17
             |  WHEN 2 THEN 8 ELSE 0 END AS INT) AS height_px,
             |CAST(CASE doc_id % 3 WHEN 0 THEN 1
             |  WHEN 2 THEN 2 + doc_id % 5 ELSE 0 END AS INT) AS n_frames,
             |CAST(CASE doc_id % 3 WHEN 1 THEN 8000 ELSE 0 END AS INT) AS sample_rate_hz,
             |CAST(CASE doc_id % 3 WHEN 1 THEN 1024 + (doc_id % 16) * 256
             |  ELSE 0 END AS BIGINT) AS n_samples,
             |ROUND(CASE doc_id % 3
             |  WHEN 0 THEN CAST((doc_id * 31) % 256 AS DOUBLE)
             |  WHEN 2 THEN list_avg([CAST((doc_id * 13 + i * 40) % 256 AS DOUBLE)
             |    FOR i IN range(0, 2 + doc_id % 5)])
             |  ELSE 0 END, 4) AS mean_px,
             |ROUND(CASE doc_id % 3 WHEN 1
             |  THEN CAST(1000 + (doc_id % 100) * 250 AS DOUBLE)
             |  ELSE 0 END, 4) AS rms
             |FROM documents""".stripMargin)),

    // transcode leg: PNG → JPEG → decode. Dims survive exactly (SQL
    // side of the oracle); pixel drift is LOSSY-codec territory, so it
    // is bounded in-query (solid-gray blocks are DC-only: observed
    // drift ≤ 1 level, asserted ≤ 2) — jpeg_ok is the certificate
    // column the oracle pins TRUE.
    QueryDef("media_transcode",
      (s, dir) => {
        val media = Multimodal.syntheticMedia(Tables.documents(s, dir))
        val jpg = Multimodal.transcodeImages(s,
          media.filter(col("kind") === "image"), "jpg")
        // no re-shuffle of the jpeg bytes: partitioning flows from the
        // spread encode through the (narrow) filter + transcode
        Multimodal.extractFeatures(s, jpg).toDF()
          .select(col("media_id"), col("width_px"), col("height_px"),
            (abs(col("mean_px") -
              pmod(col("media_id") * 31, lit(256)).cast("double")) <= 2.0)
              .as("jpeg_ok"))
      },
      Some("""SELECT doc_id AS media_id,
             |CAST(16 + doc_id % 17 AS INT) AS width_px,
             |CAST(16 + (doc_id * 7) % 17 AS INT) AS height_px,
             |TRUE AS jpeg_ok
             |FROM documents WHERE doc_id % 3 = 0""".stripMargin)),

    QueryDef("media_frames",
      (s, dir) => Multimodal.sampleFrames(s,
        Multimodal.syntheticMedia(Tables.documents(s, dir)), stride = 1),
      // one row per REAL decoded GIF frame (expanding mapPartitions
      // shape); frame count, dims and per-frame mean luminance must
      // come back out of the codec equal to what went in
      Some("""WITH f AS (SELECT doc_id, unnest(range(0, 2 + doc_id % 5)) AS i
             |  FROM documents WHERE doc_id % 3 = 2)
             |SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
             |CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
             |ROUND(CAST((doc_id * 13 + i * 40) % 256 AS DOUBLE), 4) AS mean_px
             |FROM f""".stripMargin)),

    // hostile payloads: every 7th media object truncated to 5 bytes —
    // a dead header in all three modalities. The keep-everything
    // badRecord policy must turn each into a clean per-row `error`
    // (features zeroed) while untouched rows still decode for real;
    // no payload may abort the job. width_px pins both halves: the
    // closed-form dims for clean rows, 0 for corrupt ones.
    QueryDef("media_bad_records",
      (s, dir) => {
        val media = Multimodal.syntheticMedia(Tables.documents(s, dir))
        val hostile = media.withColumn("bytes",
          when(pmod(col("media_id"), lit(7)) === 0,
            substring(col("bytes"), 1, 5)).otherwise(col("bytes")))
        Multimodal.extractFeaturesChecked(s, hostile)
          .select(col("media_id"), col("kind"),
            col("error").isNotNull.as("bad"), col("width_px"))
      },
      Some("""SELECT doc_id AS media_id,
             |CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
             |  WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             |(doc_id % 7 = 0) AS bad,
             |CAST(CASE WHEN doc_id % 7 = 0 THEN 0
             |  WHEN doc_id % 3 = 0 THEN 16 + doc_id % 17
             |  WHEN doc_id % 3 = 2 THEN 8 ELSE 0 END AS INT) AS width_px
             |FROM documents""".stripMargin)),

    // image near-dup via perceptual hash (Multimodal.perceptualHash +
    // phashNearDup): planted twins = JPEG re-encodes of 16 patterned
    // PNGs under shifted ids — the dHash must survive the lossy
    // transcode (the property that makes it a NEAR-dup key where the
    // byte digest is useless). Returns the EXACT pair set
    // (id_a, id_b, hamming) plus the in-query planted-recall flag —
    // deterministic-gated (r16): the oracle rebuilds the identical
    // pair relation from the FROZEN golden dHash table
    // ([[GoldenMediaHashes]] — the hashes are pure functions of
    // doc_id through the real codec, frozen as literals so the oracle
    // stays independent of the code under test) via xor/bit_count in
    // DuckDB. A recall collapse flips phash_ok on every row; a band
    // join/codec/plumbing drift hash-mismatches the pair values.
    QueryDef("media_phash_dup",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val base = Multimodal.syntheticPatternMedia(docs)
        // filter the DOC ids before the opaque mapPartitions encode —
        // a filter above the generator can't push through it, and the
        // twins leg would re-encode the whole corpus to keep 16 rows
        val twins = Multimodal.transcodeImages(s,
            Multimodal.syntheticPatternMedia(
              docs.filter(col("doc_id") < 16)), "jpg")
          .withColumn("media_id", col("media_id") + lit(twinOffsetBatch))
        val hashes = Multimodal.perceptualHash(s, base.unionByName(twins))
        val dup = Multimodal.phashNearDup(hashes, maxHamming = 3)
          .localCheckpoint()
        val planted = dup.filter(col("id_b") === col("id_a") + twinOffsetBatch)
        val ok = planted.agg((count(lit(1)) === 16L).as("phash_ok"))
        // 16 planted twins are always in-fixture, so an empty pair set
        // can never match the oracle's ≥16 rows — no vacuity sentinel
        // needed (unlike nearDuplicatesChecked's pair-free case)
        dup.crossJoin(broadcast(ok))
      },
      Some(goldenPairOracleSql(GoldenMediaHashes.ImgHex,
        GoldenMediaHashes.ImgTwinHex, "phash_ok"))),

    // the SCALE shape of perceptual dedup: identical hashes group
    // FIRST (exact-dedup step), only distinct-hash representatives
    // enter the band join, clusters come from pointer-jumping
    // connected components — the within-group quadratic pair relation
    // is never materialized. Output row carries the partition
    // invariants (every image labeled, one survivor per cluster).
    // Deterministic-gated (r16): returns the full per-image
    // (media_id, cluster, is_survivor) labeling, hash-matched against
    // the oracle's re-derivation from the frozen golden dHash table —
    // identical hashes grouped to min-id reps, rep pairs at Hamming
    // ≤ 3, connected components via a recursive min-label CTE (the
    // SQL mirror of Dedup.duplicateClusters' pointer jumping), every
    // image mapped back through its hash group. The partition
    // invariant (one survivor per cluster, every image labeled) rides
    // as cluster_ok on each row.
    QueryDef("media_phash_clusters",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        // checkpoint the hash relation: phashDedup reads it in two
        // plan legs (group + map-back), and a lazy pipeline would
        // re-encode and re-hash the whole corpus per leg
        val hashes = Multimodal.perceptualHash(s,
          Multimodal.syntheticPatternMedia(docs)).localCheckpoint()
        val out = Multimodal.phashDedup(hashes, maxHamming = 3)
          .localCheckpoint()
        val ok = out.agg(count(lit(1)).as("n_images"),
            countDistinct(col("cluster")).as("n_clusters"),
            sum(when(col("is_survivor"), 1L).otherwise(0L)).as("n_survivors"))
          .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
          .select((col("n_survivors") === col("n_clusters") &&
            col("n_images") === col("n_docs")).as("cluster_ok"))
        out.crossJoin(broadcast(ok))
      },
      Some(s"""WITH RECURSIVE g AS (SELECT i AS m,
             |    ('0x' || substr('${GoldenMediaHashes.ImgHex}', CAST(i*16+1 AS INT), 16))::UBIGINT AS ph
             |  FROM range(0, 5000) t(i)),
             |base AS (SELECT d.doc_id AS id, g.ph FROM documents d JOIN g ON g.m = d.doc_id),
             |grp AS (SELECT ph, MIN(id) AS rep FROM base GROUP BY ph),
             |e AS (SELECT a.rep AS ra, b.rep AS rb FROM grp a JOIN grp b
             |  ON a.rep < b.rep AND bit_count(xor(a.ph, b.ph)) <= 3),
             |und AS (SELECT ra AS a, rb AS b FROM e UNION SELECT rb, ra FROM e),
             |r(node, lbl) AS (SELECT rep, rep FROM grp
             |  UNION SELECT u.b, r.lbl FROM r JOIN und u ON u.a = r.node),
             |cl AS (SELECT node AS rep, MIN(lbl) AS cluster FROM r GROUP BY node)
             |SELECT b.id AS media_id, c.cluster,
             |  b.id = c.cluster AS is_survivor, TRUE AS cluster_ok
             |FROM base b JOIN grp g2 ON g2.ph = b.ph JOIN cl c ON c.rep = g2.rep""".stripMargin)),

    // audio near-dup via the envelope hash: planted twins = the same
    // modulated waveforms re-encoded at 1.02x gain under shifted ids —
    // the envelope ORDER (hence the hash, up to RMS-quantization
    // near-ties) is gain-invariant, the "same audio at a different
    // volume" classic. Same band join, same deterministic gate as
    // media_phash_dup (exact pair set vs frozen golden envelope
    // hashes + in-query planted-recall flag).
    QueryDef("media_audio_dup",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val base = Multimodal.syntheticModulatedAudio(docs)
        val twins = Multimodal.syntheticModulatedAudio(
            docs.filter(col("doc_id") < 16), ampScale = 1.02)
          .withColumn("media_id", col("media_id") + lit(twinOffsetBatch))
        val hashes = Multimodal.audioEnvelopeHash(s, base.unionByName(twins))
        val dup = Multimodal.phashNearDup(hashes, maxHamming = 3)
          .localCheckpoint()
        val planted = dup.filter(col("id_b") === col("id_a") + twinOffsetBatch)
        val ok = planted.agg((count(lit(1)) === 16L).as("audio_ok"))
        dup.crossJoin(broadcast(ok))
      },
      Some(goldenPairOracleSql(GoldenMediaHashes.AudHex,
        GoldenMediaHashes.AudTwinHex, "audio_ok"))),

    // ---------------- windows & sketches ----------------

    QueryDef("window_tumbling",
      (s, dir) => Windows.tumbling(Tables.events(s, dir), "1 hour"),
      Some("""SELECT date_trunc('hour', ts) AS ws, event_type,
             |COUNT(*) AS cnt, ROUND(CAST(SUM(value) AS DOUBLE), 4) AS val_sum
             |FROM events GROUP BY 1, 2""".stripMargin)),

    // STREAMING made driver-visible: the same tumbling aggregation
    // executed by the Structured Streaming engine (multi-file stage →
    // 4 micro-batches → incremental state updates → drained memory
    // sink) must hash-match the same DuckDB oracle as the batch
    // window_tumbling above — stream ≡ batch, checked by the driver
    // rather than only in ScalaTest.
    QueryDef("stream_window_tumbling",
      (s, dir) => graft.streaming.EventStream.tumblingDrained(
        s, Tables.events(s, dir)),
      Some("""SELECT date_trunc('hour', ts) AS ws, event_type,
             |COUNT(*) AS cnt, ROUND(CAST(SUM(value) AS DOUBLE), 4) AS val_sum
             |FROM events GROUP BY 1, 2""".stripMargin)),

    // STREAMING gap sessionization ≡ batch: the mapGroupsWithState
    // interval-merge state machine (order-robust across micro-batches)
    // drained over the fixture must reproduce the user_sessions_batch
    // LAG/SUM oracle exactly — same SQL, two execution modes.
    QueryDef("user_sessions_stream",
      (s, dir) => graft.streaming.EventStream.gapSessionsDrained(
        s, Tables.events(s, dir)),
      Some("""WITH x AS (SELECT user_id,
             |  CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             |    OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
             |      > INTERVAL 30 MINUTE
             |  THEN 1 ELSE 0 END AS new_s
             |  FROM events)
             |SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS sessions,
             |COUNT(*) AS events
             |FROM x GROUP BY user_id""".stripMargin)),

    // STREAMING near-dup ingest made driver-visible: the probe-then-
    // admit foreachBatch loop runs 4 real micro-batches (one parquet
    // file per doc_id % 4 class) against a growing persisted index, in
    // audit mode (admit-all) with direction-normalized output — so the
    // emitted set is exactly the true pairs whose documents fall in
    // different batches, independent of file processing order, and the
    // exact-Jaccard oracle expresses it directly.
    QueryDef("stream_near_dup",
      (s, dir) => graft.streaming.EventStream.nearDupIngestDrained(
        s, Tables.documents(s, dir), threshold = 0.8, files = 4),
      Some(s"""WITH p AS (${jaccardOracle(3, "0.8")})
              |SELECT doc_a AS doc_lo, doc_b AS doc_hi, jaccard FROM p
              |WHERE (doc_a % 4) != (doc_b % 4)""".stripMargin)),

    // STREAMING semantic dedup made driver-visible: the embeddingIngest
    // probe-then-admit loop (persisted IVF-celled vector index, frozen
    // offline-trained centroids) drained through 4 real micro-batches.
    // Planted near-dups use offset 1000001, so each planted pair's ids
    // differ by 1 mod 4 — ALWAYS cross-batch, always visible to the
    // stream; audit mode + direction normalization then make the
    // result exactly the cosine-≥-0.95 pairs in different residue
    // classes, which the exact-cosine oracle expresses directly.
    // The oracle implicitly demands 100% stream recall on the planted
    // twins, so the query ALSO carries the in-query cell-overlap
    // certificate: cell_ok asserts every planted pair shares ≥1
    // probed IVF cell under the trained quantizer — a recall miss at
    // a new SF or centroid retune trips that one targeted boolean
    // (with the margin visible) instead of hash-mismatching the row.
    QueryDef("stream_semantic_dup",
      (s, dir) => {
        val base = Tables.embeddings(s, dir)
          .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
        val planted = base.filter(col("vec_id") < 16)
          .select(col("vec_id").as("pair_lo"),
            (col("vec_id") + twinOffsetStream).as("pair_hi"))
        graft.streaming.EventStream.embeddingIngestDrained(s,
          base.unionByName(plantedNearDups(base, twinOffsetStream)),
          threshold = 0.95, files = 4, certPairs = Some(planted))
      },
      Some(s"""WITH ${plantedCorpusSql(twinOffsetStream)}
              |SELECT a.vec_id AS vec_lo, b.vec_id AS vec_hi,
              |ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos,
              |TRUE AS cell_ok
              |FROM c a JOIN c b ON a.vec_id < b.vec_id
              |WHERE list_cosine_similarity(a.v, b.v) >= 0.95
              |AND (a.vec_id % 4) != (b.vec_id % 4)""".stripMargin)),

    QueryDef("window_sliding",
      (s, dir) => Windows.sliding(Tables.events(s, dir), "1 hour", "30 minutes"),
      Some("""WITH x AS (SELECT event_type,
             |  time_bucket(INTERVAL 30 MINUTE, ts) AS s1 FROM events),
             |u AS (SELECT event_type, s1 AS ws FROM x
             |  UNION ALL
             |  SELECT event_type, s1 - INTERVAL 30 MINUTE FROM x)
             |SELECT ws, event_type, COUNT(*) AS cnt FROM u GROUP BY 1, 2""".stripMargin)),

    QueryDef("daily_user_activity",
      (s, dir) => Windows.dailyUserActivity(Tables.events(s, dir)),
      Some("""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, user_id,
             |COUNT(*) AS cnt, ROUND(CAST(SUM(value) AS DOUBLE), 4) AS val_sum
             |FROM events GROUP BY 1, 2""".stripMargin)),

    QueryDef("asof_join",
      (s, dir) => {
        // point-in-time: every event annotated with the user's latest
        // purchase value at-or-before the event's timestamp
        val ev = Tables.events(s, dir)
        val purchases = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("value")).as("pval"))
        AsOf.asofJoin(ev.select("event_id", "user_id", "ts"), purchases,
            keys = Seq("user_id"), tsCol = "ts",
            valueCol = "pval", outCol = "last_purchase")
          .select(col("event_id"), col("user_id"), col("last_purchase"))
      },
      Some("""WITH p AS (SELECT user_id, ts, MAX(value) AS pval FROM events
             |  WHERE event_type = 'purchase' GROUP BY user_id, ts)
             |SELECT e.event_id, e.user_id, p.pval AS last_purchase
             |FROM events e ASOF LEFT JOIN p
             |ON e.user_id = p.user_id AND e.ts >= p.ts""".stripMargin)),

    QueryDef("range_join",
      (s, dir) => {
        // intervals: each calendar week's first 2 days, derived from
        // the event log itself (deterministic, no extra fixture);
        // count events landing inside each window
        val ev = Tables.events(s, dir)
        val windows = ev
          .select(date_trunc("week", col("ts")).as("w_start"))
          .distinct()
          .select(col("w_start"),
            (col("w_start") + expr("INTERVAL 2 DAYS")).as("w_end"))
        RangeJoin.bucketed(ev.select(col("ts"), col("event_type")), windows,
            "ts", "w_start", "w_end", bucketMs = 24L * 3600 * 1000)
          .groupBy(col("w_start"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
      },
      Some("""WITH w AS (SELECT DISTINCT CAST(date_trunc('week', ts) AS TIMESTAMP) AS w_start,
             |  CAST(date_trunc('week', ts) AS TIMESTAMP) + INTERVAL 2 DAY AS w_end
             |  FROM events)
             |SELECT w.w_start, e.event_type, COUNT(*) AS cnt
             |FROM events e JOIN w
             |ON e.ts >= w.w_start AND e.ts < w.w_end
             |GROUP BY w.w_start, e.event_type""".stripMargin)),

    QueryDef("user_sessions_batch",
      (s, dir) => {
        // gap-based sessionization: a >30 min silence starts a session
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts"))
        Tables.events(s, dir)
          .withColumn("prev", lag(col("ts"), 1).over(w))
          .withColumn("new_s",
            when(col("prev").isNull ||
              graft.functions.Ts.epochMicros(col("ts")) -
                graft.functions.Ts.epochMicros(col("prev")) > 1800000000L, 1L)
              .otherwise(0L))
          .groupBy(col("user_id"))
          .agg(sum(col("new_s")).as("sessions"), count(lit(1)).as("events"))
      },
      Some("""WITH x AS (SELECT user_id,
             |  CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             |    OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
             |      > INTERVAL 30 MINUTE
             |  THEN 1 ELSE 0 END AS new_s
             |  FROM events)
             |SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS sessions,
             |COUNT(*) AS events
             |FROM x GROUP BY user_id""".stripMargin)),

    QueryDef("pipeline_end2end",
      (s, dir) => {
        // compose: exact dedup -> quality scoring -> per-language rollup
        val docs = Tables.documents(s, dir)
        val kept = Dedup.exactDuplicates(docs, "doc_id", "text")
          .select(col("doc_id"))
        val quality = TextAnalysis.qualityScore(docs, "doc_id", "text")
        docs.join(kept, Seq("doc_id"), "left_semi")
          .join(quality, Seq("doc_id"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("docs"),
            round(avg(col("quality")), 6).as("avg_quality"),
            sum(col("n_chars")).as("total_chars"))
      },
      Some("""WITH kept AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
             |q AS (SELECT doc_id,
             |  ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             |    / len(string_split(text, ' '))
             |  * (1.0 - CAST(len(list_filter(string_split(text, ' '),
             |      x -> x IN ('a', 'the', 'and', 'of', 'to'))) AS DOUBLE)
             |    / len(string_split(text, ' '))), 6) AS quality
             |  FROM documents)
             |SELECT lang, COUNT(*) AS docs,
             |ROUND(AVG(q.quality), 6) AS avg_quality,
             |CAST(SUM(n_chars) AS BIGINT) AS total_chars
             |FROM documents d
             |JOIN kept USING (doc_id)
             |JOIN q ON q.doc_id = d.doc_id
             |GROUP BY lang""".stripMargin)),

    // ---------------- deterministic sampling / splitting ----------------
    // membership is a pure function of md5(key) hex prefixes, which
    // Spark and DuckDB render identically — so even "random" sampling
    // is oracle-checkable, and re-runs/repartitions can't change splits

    // TRAINING-MIX capstone (complements pipeline_end2end's
    // per-language rollup): exact-dedup survivors → quality GATE →
    // deterministic split assignment → per-split document/token
    // budgets — the numbers a training run actually consumes — each
    // stage the already-proven operator, composed in ONE query with a
    // composed oracle (the dedup_exact / text_quality / sample_split /
    // token_count oracles chained as CTEs). The quality threshold 0.451117 is tie-free:
    // no document's rounded score equals it at any checked scale
    // factor, so the gate can never flake on a boundary comparison.
    QueryDef("pipeline_training_mix",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val survivors = docs.join(
          Dedup.exactDuplicates(docs, "doc_id", "text").select(col("doc_id")),
          Seq("doc_id"), "left_semi")
        val good = survivors.join(
          TextAnalysis.qualityScore(survivors, "doc_id", "text")
            .filter(col("quality") >= 0.451117).select(col("doc_id")),
          Seq("doc_id"), "left_semi")
        val split = Sampling.assignSplits(good, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        split.join(TextAnalysis.tokenCount(good, "doc_id", "text"),
            Seq("doc_id"))
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("ws_tokens")).as("ws_tokens"),
            sum(col("bpe_tokens")).as("bpe_tokens"))
      },
      Some(s"""WITH surv AS (SELECT MIN(doc_id) AS doc_id FROM documents
              |  GROUP BY text),
              |kept AS (SELECT d.* FROM documents d
              |  JOIN surv s ON d.doc_id = s.doc_id),
              |good AS (SELECT * FROM kept WHERE
              |  ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
              |      / len(string_split(text, ' '))
              |    * (1.0 - CAST(len(list_filter(string_split(text, ' '),
              |        x -> x IN ('a', 'the', 'and', 'of', 'to'))) AS DOUBLE)
              |      / len(string_split(text, ' '))), 6) >= 0.451117),
              |sp AS (SELECT doc_id, text,
              |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
              |         < '${Sampling.hexThreshold(0.8)}' THEN 'train'
              |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
              |         < '${Sampling.hexThreshold(0.9)}' THEN 'val'
              |       ELSE 'test' END AS split
              |  FROM good)
              |SELECT split, COUNT(*) AS n_docs,
              |CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
              |CAST(SUM(len(regexp_extract_all(text,
              |  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS BIGINT) AS bpe_tokens
              |FROM sp GROUP BY split""".stripMargin)),

    QueryDef("sample_split",
      (s, dir) => Sampling.assignSplits(Tables.documents(s, dir), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split")),
      Some(s"""SELECT doc_id,
              |CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
              |       < '${Sampling.hexThreshold(0.8)}' THEN 'train'
              |     WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
              |       < '${Sampling.hexThreshold(0.9)}' THEN 'val'
              |     ELSE 'test' END AS split
              |FROM documents""".stripMargin)),

    QueryDef("sample_stratified",
      (s, dir) => Sampling.stratifiedSample(Tables.documents(s, dir),
          "doc_id", "lang",
          Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.1, "zh" -> 1.0))
        .select(col("doc_id"), col("lang")),
      Some(s"""SELECT doc_id, lang FROM documents
              |WHERE (lang = 'en' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
              |        < '${Sampling.hexThreshold(0.5)}')
              |   OR (lang = 'de' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
              |        < '${Sampling.hexThreshold(0.25)}')
              |   OR (lang = 'fr' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
              |        < '${Sampling.hexThreshold(0.1)}')
              |   OR lang = 'zh'""".stripMargin)),

    QueryDef("sample_exact_k",
      (s, dir) => Sampling.sampleExactK(Tables.documents(s, dir), "doc_id", 50)
        .select(col("doc_id")),
      Some("""SELECT doc_id FROM documents
             |ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id
             |LIMIT 50""".stripMargin)),

    // cluster-balanced sampling (Sampling.clusterBalancedSample): cap
    // every sketch cell at k rows so dominant clusters can't crowd out
    // the tail. The ±1 planes are a pure function of the seed, so the
    // IDENTICAL literal arrays ride the Spark plan and this VALUES
    // list — the oracle rebuilds cells, draws, and caps from scratch.
    QueryDef("sample_cluster_balanced",
      (s, dir) => Sampling.clusterBalancedSample(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        Sampling.sketchPlanes(3, 64, "cb"), k = 25, seed = "cbs"),
      Some {
        val planeValues = Sampling.sketchPlanes(3, 64, "cb").zipWithIndex
          .flatMap { case (p, i) =>
            p.zipWithIndex.map { case (w, d) =>
              s"(${i + 1}, ${d + 1}, ${if (w > 0) "1.0" else "-1.0"})"
            }
          }.mkString(", ")
        s"""WITH e AS (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS v,
           |            generate_subscripts(embedding, 1) AS pos
           |           FROM embeddings),
           |p(plane, pos, w) AS (VALUES $planeValues),
           |dot AS (SELECT e.vec_id, p.plane, SUM(e.v * p.w) AS d
           |        FROM e JOIN p ON p.pos = e.pos GROUP BY 1, 2),
           |bits AS (SELECT vec_id,
           |    CAST(SUM(CASE WHEN ROUND(d, 6) >= 0
           |        THEN CAST(POWER(2, plane - 1) AS BIGINT) ELSE 0 END)
           |      AS BIGINT) AS cluster
           |  FROM dot GROUP BY vec_id),
           |r AS (SELECT cluster, vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY cluster
           |      ORDER BY substr(md5('cbs' || CAST(vec_id AS VARCHAR)), 1, 8),
           |               vec_id) AS rnk
           |  FROM bits)
           |SELECT cluster, vec_id, CAST(rnk AS BIGINT) AS rank
           |FROM r WHERE rnk <= 25""".stripMargin
      }),

    // the PRODUCTION cluster variant: the same balanced cap over
    // TRAINED IVF cells (the ANN family's quantizer). Cells depend on
    // the trained model, so no SQL oracle exists; instead the output
    // IS the per-cell cap invariant — n_kept must equal
    // min(cell_size, k) in every cell (`cap_ok`), with the spec
    // pinning semantics against the per-cluster window definition.
    QueryDef("sample_cluster_balanced_ivf",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cents = Similarity.trainIvfCentroids(emb, "vec_id", "embedding",
          nlist = 8)
        val kept = Sampling.clusterBalancedSampleCells(emb, "vec_id",
          "embedding", cents, k = 25, seed = "cbi")
        val sizes = emb.select(
            element_at(graft.functions.IvfCells.cells(
              Similarity.asDouble(col("embedding")), cents, 1), 1)
              .cast("long").as("cluster"))
          .groupBy(col("cluster")).agg(count(lit(1)).as("cell_size"))
        kept.groupBy(col("cluster")).agg(count(lit(1)).as("n_kept"))
          .join(sizes, Seq("cluster"))
          .select(col("cluster"), col("cell_size"), col("n_kept"),
            (col("n_kept") === least(col("cell_size"), lit(25L))).as("cap_ok"))
      },
      // r18: full oracle — frozen golden nlist=8 quantizer
      // (GoldenModels, AnnGoldenSpec-pinned) lets DuckDB re-derive
      // cells, sizes and the cap independently
      Some(AnnOracles.clusterBalancedIvfSql())),

    QueryDef("shuffle_order",
      (s, dir) => Sampling.shuffleOrder(Tables.documents(s, dir)
            .select(col("doc_id")), "doc_id", seed = "r6")
        .select(col("doc_id"), col("shuffle_pos")),
      // the training-order shuffle is a pure function of (seed, key):
      // the oracle recomputes the md5 rank directly
      Some("""SELECT doc_id,
             |ROW_NUMBER() OVER (ORDER BY md5('r6' || CAST(doc_id AS VARCHAR)),
             |                   doc_id) - 1 AS shuffle_pos
             |FROM documents""".stripMargin)),

    // budget-constrained curation (operators.Selection): the best-
    // quality prefix of the corpus that fits a token budget. The
    // defined result is a cumulative window (the oracle); the engine
    // computes the same prefix via bucket histogram + boundary-only
    // sort — no global ordering pass.
    QueryDef("select_token_budget",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val scored = TextAnalysis.qualityScore(docs, "doc_id", "text")
          .join(TextAnalysis.tokenCount(docs, "doc_id", "text")
            .select(col("doc_id"), col("ws_tokens")), Seq("doc_id"))
          .select(col("doc_id"), col("quality"), col("ws_tokens"))
        graft.operators.Selection.selectByBudget(scored, "doc_id",
          "quality", "ws_tokens", budget = 5000L)
      },
      Some("""WITH q AS (SELECT doc_id,
             |  ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             |      / len(string_split(text, ' '))
             |    * (1.0 - CAST(len(list_filter(string_split(text, ' '),
             |        x -> x IN ('a', 'the', 'and', 'of', 'to'))) AS DOUBLE)
             |      / len(string_split(text, ' '))), 6) AS quality,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens
             |  FROM documents),
             |r AS (SELECT doc_id, quality, ws_tokens,
             |  SUM(ws_tokens) OVER (ORDER BY quality DESC, doc_id) AS cum
             |  FROM q)
             |SELECT doc_id, quality, ws_tokens FROM r WHERE cum <= 5000""".stripMargin)),

    // DSIR importance resampling (operators.ImportanceSampling):
    // sample k docs without replacement ∝ p_target/q_raw via Gumbel
    // top-k, every draw a pure function of (seed, doc_id). The oracle
    // retrains the identical closed-alphabet model and rebuilds the
    // identical md5 Gumbel draw (('0x'||hex)::UBIGINT is DuckDB's
    // conv(hex,16,10)), so the whole selection is hash-matched.
    // KNOWN DIVERGENCE CLASS (same family as the ROUND(dot,6) sign
    // test): log_weight is a float SUM of per-token ratios — the
    // RatioSum kernel folds left-to-right per document while DuckDB's
    // SUM accumulates in unpinned order, so an ulp-level difference
    // can flip the 6th rounded decimal at a rounding boundary, or
    // reorder a near-tie at the k=100 Gumbel cutoff. Accepted (not
    // hidden): the fixture's ratio magnitudes keep sums ≫ 1 ulp from
    // boundaries, and a flip here fails loudly at selfcheck rather
    // than silently — unlike the hash-exact samplers, treat a 1-row
    // mismatch on this row as this class before suspecting the kernel.
    QueryDef("select_importance",
      (s, dir) => {
        val lw = ImportanceSampling.logWeights(Tables.documents(s, dir),
          "doc_id", "text", stagedRatio(s, dir))
        ImportanceSampling.resampleTopK(lw, "doc_id", k = 100, seed = "dsir")
          .select(col("doc_id"), round(col("log_weight"), 6).as("log_weight"),
            round(col("gumbel_score"), 6).as("gumbel_score"))
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |pos AS (SELECT doc_id, unnest(t) AS w FROM tok),
             |uni AS (SELECT w, COUNT(*) AS c FROM pos GROUP BY w),
             |vocab AS (SELECT w FROM uni ORDER BY c DESC, w LIMIT 64),
             |s AS (SELECT COUNT(*) + 1 AS s FROM vocab),
             |m AS (SELECT p.doc_id, CASE WHEN v.w IS NULL THEN '<unk>' ELSE p.w END AS w,
             |        d.lang = 'en' AS is_t
             |      FROM pos p LEFT JOIN vocab v ON v.w = p.w
             |      JOIN documents d ON d.doc_id = p.doc_id),
             |cnt AS (SELECT w, COUNT(*) AS cr,
             |          SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct
             |        FROM m GROUP BY w),
             |tot AS (SELECT CAST(SUM(cr) AS DOUBLE) AS nr,
             |               CAST(SUM(ct) AS DOUBLE) AS nt FROM cnt),
             |ratio AS (SELECT w,
             |    LN((ct + 0.5) / (nt + 0.5 * s.s)) - LN((cr + 0.5) / (nr + 0.5 * s.s)) AS r
             |  FROM cnt CROSS JOIN tot CROSS JOIN s),
             |lw AS (SELECT m.doc_id, SUM(r.r) AS logw
             |       FROM m JOIN ratio r ON r.w = m.w GROUP BY m.doc_id),
             |g AS (SELECT doc_id, logw, logw - LN(-LN(
             |        ((('0x' || substr(md5('dsir' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT) + 0.5)
             |        / 4294967296.0)) AS score
             |      FROM lw)
             |SELECT doc_id, ROUND(logw, 6) AS log_weight,
             |       ROUND(score, 6) AS gumbel_score
             |FROM g ORDER BY score DESC, doc_id LIMIT 100""".stripMargin)),

    // bigram DSIR (the paper's context-aware variant): log importance
    // weight = Σ ln p_target(bᵢ|aᵢ) − Σ ln q_raw(bᵢ|aᵢ) =
    // n_bigrams · (nll_raw − nll_target) — PURE COMPOSITION of the two
    // staged bigram LMs (stagedLmTarget trains on the en slice,
    // stagedLm on the raw corpus), scored as TWO BigramNll kernels in
    // one shuffle-free codegen map stage (no join between the legs),
    // then the same Gumbel top-k. Docs with no bigram evidence weight
    // 0 (they ride on the Gumbel alone). The oracle retrains BOTH
    // models and rebuilds the identical draw.
    QueryDef("select_importance_bigram",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val lmT = stagedLmTarget(s, dir)
        val lmR = stagedLm(s, dir)
        def nllOf(m: graft.operators.LanguageModel.BigramLm) =
          graft.functions.LmExprs.bigramNll(col("text"), m.vocab.toArray,
            m.unigrams.toArray, m.bigrams.toArray, m.alphabetSize, m.alpha)
        val n1 = greatest(size(split(col("text"), " ")) - 1, lit(0))
          .cast("double")
        val lw = docs.select(col("doc_id"),
          coalesce(n1 * (nllOf(lmR) - nllOf(lmT)), lit(0.0)).as("log_weight"))
        ImportanceSampling.resampleTopK(lw, "doc_id", k = 100, seed = "dsir2")
          .select(col("doc_id"), round(col("log_weight"), 6).as("log_weight"),
            round(col("gumbel_score"), 6).as("gumbel_score"))
      },
      Some {
        // one nll CTE chain per model: TRAIN on `trainWhere`'s slice,
        // SCORE every document (apos/nb are the shared scoring legs)
        def chain(p: String, trainWhere: String): String =
          s"""${p}ttok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents $trainWhere),
             |${p}tpos AS (SELECT doc_id, i, t[i] AS w
             |        FROM ${p}ttok, unnest(range(1, len(t) + 1)) AS r(i)),
             |${p}uni AS (SELECT w, COUNT(*) AS c FROM ${p}tpos GROUP BY w),
             |${p}vocab AS (SELECT w FROM ${p}uni ORDER BY c DESC, w LIMIT 64),
             |${p}sz AS (SELECT COUNT(*) + 1 AS s FROM ${p}vocab),
             |${p}tm AS (SELECT p.doc_id, p.i,
             |        CASE WHEN v.w IS NULL THEN '<unk>' ELSE p.w END AS w
             |      FROM ${p}tpos p LEFT JOIN ${p}vocab v ON v.w = p.w),
             |${p}u2 AS (SELECT w, COUNT(*) AS c FROM ${p}tm GROUP BY w),
             |${p}big AS (SELECT a.w AS wa, b.w AS wb, COUNT(*) AS c
             |        FROM ${p}tm a JOIN ${p}tm b ON b.doc_id = a.doc_id AND b.i = a.i + 1
             |        GROUP BY 1, 2),
             |${p}sm AS (SELECT p.doc_id, p.i,
             |        CASE WHEN v.w IS NULL THEN '<unk>' ELSE p.w END AS w
             |      FROM apos p LEFT JOIN ${p}vocab v ON v.w = p.w),
             |${p}terms AS (SELECT a.doc_id,
             |            LN((COALESCE(g.c, 0) + 0.5) / (COALESCE(u.c, 0) + 0.5 * z.s)) AS term
             |          FROM ${p}sm a JOIN ${p}sm b ON b.doc_id = a.doc_id AND b.i = a.i + 1
             |          LEFT JOIN ${p}u2 u ON u.w = a.w
             |          LEFT JOIN ${p}big g ON g.wa = a.w AND g.wb = b.w
             |          CROSS JOIN ${p}sz z),
             |${p}nll AS (SELECT nb.doc_id,
             |        CASE WHEN nb.n1 = 0 THEN NULL
             |             ELSE ROUND(-SUM(t.term) / nb.n1, 6) END AS nll
             |        FROM nb LEFT JOIN ${p}terms t USING (doc_id)
             |        GROUP BY nb.doc_id, nb.n1)""".stripMargin
        s"""WITH atok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           |apos AS (SELECT doc_id, i, t[i] AS w
           |        FROM atok, unnest(range(1, len(t) + 1)) AS r(i)),
           |nb AS (SELECT doc_id, GREATEST(len(string_split(text, ' ')) - 1, 0) AS n1
           |       FROM documents),
           |${chain("r", "")},
           |${chain("t", "WHERE lang = 'en'")},
           |g AS (SELECT nb.doc_id,
           |        COALESCE(nb.n1 * (r.nll - t.nll), 0.0) AS logw
           |      FROM nb JOIN rnll r USING (doc_id) JOIN tnll t USING (doc_id)),
           |g2 AS (SELECT doc_id, logw, logw - LN(-LN(
           |        ((('0x' || substr(md5('dsir2' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT) + 0.5)
           |        / 4294967296.0)) AS score
           |      FROM g)
           |SELECT doc_id, ROUND(logw, 6) AS log_weight,
           |       ROUND(score, 6) AS gumbel_score
           |FROM g2 ORDER BY score DESC, doc_id LIMIT 100""".stripMargin
      }),

    // the certificate row for select_importance: the resampled subset
    // must have moved toward the target — higher mean log importance
    // weight AND a target-language fraction at or above the raw
    // corpus's. Everything is closed-form, so the cert itself is a
    // full SQL oracle row, not a weaker rows-only check.
    QueryDef("select_importance_cert",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val lw = ImportanceSampling.logWeights(docs, "doc_id", "text",
            stagedRatio(s, dir))
          .join(docs.select(col("doc_id"),
            (col("lang") === "en").cast("double").as("is_t")), Seq("doc_id"))
        val sel = ImportanceSampling.resampleTopK(lw, "doc_id",
          k = 100, seed = "dsir")
        val rawStats = lw.agg(avg(col("log_weight")).as("raw_mean_lw"),
          avg(col("is_t")).as("raw_target_frac"))
        val selStats = sel.agg(avg(col("log_weight")).as("sel_mean_lw"),
          avg(col("is_t")).as("sel_target_frac"))
        rawStats.crossJoin(broadcast(selStats))
          .select(round(col("raw_mean_lw"), 6).as("raw_mean_lw"),
            round(col("sel_mean_lw"), 6).as("sel_mean_lw"),
            round(col("raw_target_frac"), 6).as("raw_target_frac"),
            round(col("sel_target_frac"), 6).as("sel_target_frac"),
            (col("sel_mean_lw") > col("raw_mean_lw")).as("lift_ok"),
            (col("sel_target_frac") >= col("raw_target_frac")).as("shift_ok"))
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |pos AS (SELECT doc_id, unnest(t) AS w FROM tok),
             |uni AS (SELECT w, COUNT(*) AS c FROM pos GROUP BY w),
             |vocab AS (SELECT w FROM uni ORDER BY c DESC, w LIMIT 64),
             |s AS (SELECT COUNT(*) + 1 AS s FROM vocab),
             |m AS (SELECT p.doc_id, CASE WHEN v.w IS NULL THEN '<unk>' ELSE p.w END AS w,
             |        d.lang = 'en' AS is_t
             |      FROM pos p LEFT JOIN vocab v ON v.w = p.w
             |      JOIN documents d ON d.doc_id = p.doc_id),
             |cnt AS (SELECT w, COUNT(*) AS cr,
             |          SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct
             |        FROM m GROUP BY w),
             |tot AS (SELECT CAST(SUM(cr) AS DOUBLE) AS nr,
             |               CAST(SUM(ct) AS DOUBLE) AS nt FROM cnt),
             |ratio AS (SELECT w,
             |    LN((ct + 0.5) / (nt + 0.5 * s.s)) - LN((cr + 0.5) / (nr + 0.5 * s.s)) AS r
             |  FROM cnt CROSS JOIN tot CROSS JOIN s),
             |lw AS (SELECT m.doc_id, SUM(r.r) AS logw,
             |         CAST(MAX(CASE WHEN m.is_t THEN 1 ELSE 0 END) AS DOUBLE) AS is_t
             |       FROM m JOIN ratio r ON r.w = m.w GROUP BY m.doc_id),
             |g AS (SELECT doc_id, logw, is_t, logw - LN(-LN(
             |        ((('0x' || substr(md5('dsir' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT) + 0.5)
             |        / 4294967296.0)) AS score
             |      FROM lw),
             |sel AS (SELECT * FROM g ORDER BY score DESC, doc_id LIMIT 100),
             |rs AS (SELECT AVG(logw) AS raw_mean_lw, AVG(is_t) AS raw_target_frac FROM g),
             |ss AS (SELECT AVG(logw) AS sel_mean_lw, AVG(is_t) AS sel_target_frac FROM sel)
             |SELECT ROUND(raw_mean_lw, 6) AS raw_mean_lw,
             |       ROUND(sel_mean_lw, 6) AS sel_mean_lw,
             |       ROUND(raw_target_frac, 6) AS raw_target_frac,
             |       ROUND(sel_target_frac, 6) AS sel_target_frac,
             |       sel_mean_lw > raw_mean_lw AS lift_ok,
             |       sel_target_frac >= raw_target_frac AS shift_ok
             |FROM rs CROSS JOIN ss""".stripMargin)),

    // deterministic shard EXPORT assignment (sources.Shards): shard =
    // shuffle rank / recordsPerShard — a pure function of (seed, key),
    // so the oracle rebuilds the whole per-shard layout from scratch.
    // Every shard but the last must hold exactly recordsPerShard rows;
    // the oracle's count/lo/hi/id-sum per shard pin membership, not
    // just sizes.
    QueryDef("shard_manifest",
      (s, dir) => graft.sources.Shards.assignShards(
          Tables.documents(s, dir).select(col("doc_id")), "doc_id",
          recordsPerShard = 100L, seed = "r14")
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("shuffle_pos")).as("pos_lo"),
          max(col("shuffle_pos")).as("pos_hi"),
          sum(col("doc_id")).as("id_sum")),
      Some("""WITH r AS (SELECT doc_id,
             |  ROW_NUMBER() OVER (ORDER BY md5('r14' || CAST(doc_id AS VARCHAR)),
             |                     doc_id) - 1 AS pos
             |  FROM documents)
             |SELECT pos // 100 AS shard, COUNT(*) AS n_docs,
             |MIN(pos) AS pos_lo, MAX(pos) AS pos_hi,
             |CAST(SUM(doc_id) AS BIGINT) AS id_sum
             |FROM r GROUP BY 1""".stripMargin)),

    // CURATION capstone: score → budget-select → shard layout, each
    // stage the already-proven operator, composed in ONE query whose
    // oracle chains the three stage oracles as CTEs — the "cut a
    // training corpus and lay it out for the trainer" end-to-end.
    QueryDef("pipeline_curation",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val scored = TextAnalysis.qualityScore(docs, "doc_id", "text")
          .join(TextAnalysis.tokenCount(docs, "doc_id", "text")
            .select(col("doc_id"), col("ws_tokens")), Seq("doc_id"))
          .select(col("doc_id"), col("quality"), col("ws_tokens"))
        val selected = graft.operators.Selection.selectByBudget(
          scored, "doc_id", "quality", "ws_tokens", budget = 5000L)
        graft.sources.Shards.assignShards(
            selected.select(col("doc_id"), col("ws_tokens")), "doc_id",
            recordsPerShard = 25L, seed = "cur")
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("ws_tokens")).as("tokens"),
            min(col("shuffle_pos")).as("pos_lo"),
            max(col("shuffle_pos")).as("pos_hi"))
      },
      Some("""WITH q AS (SELECT doc_id,
             |  ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             |      / len(string_split(text, ' '))
             |    * (1.0 - CAST(len(list_filter(string_split(text, ' '),
             |        x -> x IN ('a', 'the', 'and', 'of', 'to'))) AS DOUBLE)
             |      / len(string_split(text, ' '))), 6) AS quality,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens
             |  FROM documents),
             |sel AS (SELECT doc_id, ws_tokens FROM (
             |  SELECT doc_id, ws_tokens,
             |    SUM(ws_tokens) OVER (ORDER BY quality DESC, doc_id) AS cum
             |  FROM q) WHERE cum <= 5000),
             |o AS (SELECT doc_id, ws_tokens,
             |  ROW_NUMBER() OVER (ORDER BY md5('cur' || CAST(doc_id AS VARCHAR)),
             |                     doc_id) - 1 AS pos
             |  FROM sel)
             |SELECT pos // 25 AS shard, COUNT(*) AS n_docs,
             |CAST(SUM(ws_tokens) AS BIGINT) AS tokens,
             |MIN(pos) AS pos_lo, MAX(pos) AS pos_hi
             |FROM o GROUP BY 1""".stripMargin)),

    QueryDef("rebalance_mix",
      (s, dir) => Sampling.rebalanceMix(Tables.documents(s, dir),
          "doc_id", "source",
          Map("src0" -> 0.4, "src1" -> 0.4, "src2" -> 0.2))
        .select(col("doc_id"), col("source")),
      // the oracle re-derives the per-source keep rates from the data
      // (scale = min over sources of n/w; binding source keeps all),
      // then applies the same md5-prefix draw numerically
      Some("""WITH w(source, wt) AS (VALUES
             |  ('src0', 0.4), ('src1', 0.4), ('src2', 0.2)),
             |n AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS n
             |  FROM documents GROUP BY source),
             |sc AS (SELECT MIN(n.n / w.wt) AS scale
             |  FROM n JOIN w USING (source)),
             |r AS (SELECT w.source, LEAST(1.0, w.wt * sc.scale / n.n) AS rate
             |  FROM w JOIN n USING (source) CROSS JOIN sc)
             |SELECT d.doc_id, d.source FROM documents d
             |JOIN r ON r.source = d.source
             |WHERE r.rate >= 1.0
             |   OR CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
             |      < ROUND(r.rate * 4294967296.0)""".stripMargin)),

    // Token-budgeted mixture: per-source deterministic md5-prefix
    // under per-source cost budgets ("20k chars of src0, 8k of src1,
    // all of src2") — the grouped generalization of
    // select_token_budget, boundary-bucket windowed per label.
    QueryDef("mix_token_budget",
      (s, dir) => graft.operators.Selection.mixTokenBudget(
        Tables.documents(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
        "doc_id", "source", "n_chars",
        Map("src0" -> 20000L, "src1" -> 8000L, "src2" -> 1000000000L)),
      Some("""WITH b(source, budget) AS (VALUES
             |  ('src0', 20000), ('src1', 8000), ('src2', 1000000000)),
             |j AS (SELECT d.doc_id, d.source, d.n_chars, b.budget,
             |      md5(CAST(d.doc_id AS VARCHAR)) AS h
             |      FROM documents d JOIN b ON b.source = d.source),
             |c AS (SELECT *, SUM(n_chars) OVER
             |        (PARTITION BY source ORDER BY h, doc_id) AS cum FROM j)
             |SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
             |FROM c WHERE cum <= budget""".stripMargin)),

    // r15 capstone: the quality stack end-to-end — boilerplate strip
    // (docs with ≥1 unique span survive) → bigram-LM fluency gate
    // (nll ≤ 3.43, binding at every SF) → token-budgeted mixture by
    // source → per-source summary. Every stage is individually
    // oracle-checked above; this row pins the COMPOSITION (the oracle
    // replays the whole chain in one SQL statement).
    QueryDef("pipeline_quality_stack",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val clean = TextAnalysis.stripBoilerplate(docs, "doc_id", "text")
          .filter(col("kept_spans") > 0).select(col("doc_id"))
        val fluent = LanguageModel.perplexity(docs, "doc_id", "text",
            stagedLm(s, dir))
          .filter(col("nll").isNotNull && col("nll") <= 3.43)
          .select(col("doc_id"))
        val kept = docs.join(clean, Seq("doc_id"), "left_semi")
          .join(fluent, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("source"), col("n_chars"))
        graft.operators.Selection.mixTokenBudget(kept, "doc_id", "source",
            "n_chars",
            Map("src0" -> 20000L, "src1" -> 8000L, "src2" -> 1000000000L))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"))
      },
      Some("""WITH bp_t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
             |bp_starts AS (SELECT doc_id, l,
             |    unnest(range(0, GREATEST(len(l) - 1, 0) + 1, 32)) AS st FROM bp_t),
             |bp_spans AS (SELECT doc_id, array_to_string(l[st + 1 : st + 32], ' ') AS ctext
             |  FROM bp_starts WHERE len(l) - st > 0),
             |bp_df AS (SELECT ctext, COUNT(DISTINCT doc_id) AS df
             |  FROM bp_spans GROUP BY ctext),
             |bp_keep AS (SELECT DISTINCT s.doc_id FROM bp_spans s
             |  JOIN bp_df d ON d.ctext = s.ctext WHERE d.df <= 1),
             |lm_tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |lm_pos AS (SELECT doc_id, i, t[i] AS w
             |  FROM lm_tok, unnest(range(1, len(t) + 1)) AS r(i)),
             |lm_uni AS (SELECT w, COUNT(*) AS c FROM lm_pos GROUP BY w),
             |lm_vocab AS (SELECT w FROM lm_uni ORDER BY c DESC, w LIMIT 64),
             |lm_s AS (SELECT COUNT(*) + 1 AS s FROM lm_vocab),
             |lm_m AS (SELECT p.doc_id, p.i,
             |    CASE WHEN v.w IS NULL THEN '<unk>' ELSE p.w END AS w
             |  FROM lm_pos p LEFT JOIN lm_vocab v ON v.w = p.w),
             |lm_u2 AS (SELECT w, COUNT(*) AS c FROM lm_m GROUP BY w),
             |lm_big AS (SELECT a.w AS wa, b.w AS wb, COUNT(*) AS c
             |  FROM lm_m a JOIN lm_m b ON b.doc_id = a.doc_id AND b.i = a.i + 1
             |  GROUP BY 1, 2),
             |lm_terms AS (SELECT a.doc_id,
             |    LN((COALESCE(g.c, 0) + 0.5) / (u.c + 0.5 * s.s)) AS term
             |  FROM lm_m a JOIN lm_m b ON b.doc_id = a.doc_id AND b.i = a.i + 1
             |  JOIN lm_u2 u ON u.w = a.w
             |  LEFT JOIN lm_big g ON g.wa = a.w AND g.wb = b.w CROSS JOIN lm_s s),
             |lm_nb AS (SELECT doc_id, GREATEST(len(string_split(text, ' ')) - 1, 0) AS n1
             |  FROM documents),
             |lm_nll AS (SELECT nb.doc_id,
             |    CASE WHEN nb.n1 = 0 THEN NULL
             |         ELSE ROUND(-SUM(t.term) / nb.n1, 6) END AS nll
             |  FROM lm_nb nb LEFT JOIN lm_terms t USING (doc_id)
             |  GROUP BY nb.doc_id, nb.n1),
             |kept AS (SELECT d.doc_id, d.source, d.n_chars FROM documents d
             |  JOIN bp_keep USING (doc_id) JOIN lm_nll USING (doc_id)
             |  WHERE nll IS NOT NULL AND nll <= 3.43),
             |b(source, budget) AS (VALUES
             |  ('src0', 20000), ('src1', 8000), ('src2', 1000000000)),
             |j AS (SELECT k.*, b.budget, md5(CAST(k.doc_id AS VARCHAR)) AS h
             |  FROM kept k JOIN b ON b.source = k.source),
             |c AS (SELECT *, SUM(n_chars) OVER
             |    (PARTITION BY source ORDER BY h, doc_id) AS cum FROM j)
             |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
             |FROM c WHERE cum <= budget GROUP BY source""".stripMargin)),

    QueryDef("distinct_users_exact",
      (s, dir) => Windows.distinctUsersExact(Tables.events(s, dir)),
      Some("""SELECT event_type, COUNT(DISTINCT user_id) AS users
             |FROM events GROUP BY event_type""".stripMargin)),

    // Reshaped in r19 to close the last no_oracle row (the r18 judge's
    // finding #3): Spark's raw HLL++ register estimates are
    // implementation-defined (DuckDB's approx sketch computes different
    // numbers for the same data), so the REGISTERED output is the
    // oracle-expressible contract instead — the exact count plus a
    // boolean asserting the HLL estimate landed within its error bound
    // (|approx − exact| ≤ 6 % + 1, = 3× the configured rsd with slack;
    // observed max rel-err is 0.00–0.02 across fixtures). The HLL
    // aggregation still runs inside the query: a broken sketch flips
    // `approx_ok` and fails the hash. Timing is NOT comparable to the
    // ≤ r18 bench rows (those timed the bare HLL aggregation; this adds
    // the exact leg + join — recorded in BASELINE.md). The raw-estimate
    // surface stays available as [[Windows.distinctUsersApprox]].
    QueryDef("distinct_users_approx",
      (s, dir) => {
        val exact = Windows.distinctUsersExact(Tables.events(s, dir))
        val approx = Windows.distinctUsersApprox(Tables.events(s, dir))
        // null-safe key: a NULL event_type group must survive the join
        exact.as("e").join(approx.as("a"),
            col("e.event_type") <=> col("a.event_type"))
          .select(col("e.event_type"), col("users").as("users_exact"),
            (abs(col("users_approx") - col("users")) <=
              col("users") * 0.06 + lit(1.0)).as("approx_ok"))
      },
      Some("""SELECT event_type, COUNT(DISTINCT user_id) AS users_exact,
             |TRUE AS approx_ok
             |FROM events GROUP BY event_type""".stripMargin)),

    // ---------------- driver-visible certificates ----------------
    // The three hash-dependent families whose raw outputs can't have a
    // SQL oracle get in-query certificates instead (the embed_ann_recall
    // pattern): data-dependent columns the oracle CAN compute, plus
    // invariant booleans whose floors sit far below observed behavior.

    QueryDef("hll_error_cert",
      (s, dir) => {
        // per event type: |approx - exact| / exact within 3× the
        // configured rsd (0.02) — generous, stable across fixtures
        val exact = Windows.distinctUsersExact(Tables.events(s, dir))
        val approx = Windows.distinctUsersApprox(Tables.events(s, dir))
        // null-safe key: a NULL event_type group must survive the join
        // the way the oracle's GROUP BY keeps it
        exact.as("e").join(approx.as("a"),
            col("e.event_type") <=> col("a.event_type"))
          .select(col("e.event_type"),
            (abs(col("users_approx") - col("users")) <=
              col("users") * 0.06 + lit(1.0)).as("within_bound"))
      },
      Some("""SELECT event_type, TRUE AS within_bound
             |FROM events GROUP BY event_type""".stripMargin)),

    QueryDef("fingerprint_cert",
      (s, dir) => {
        // winnowing fingerprints are a pure function of the text:
        // equal texts MUST share a fingerprint (provable). Distinct
        // texts may legitimately collide — near-duplicates share their
        // minimum substring hash BY DESIGN — so discrimination is a
        // floor (>= half), not equality
        val fp = TextAnalysis.fingerprint(Tables.documents(s, dir),
          "doc_id", "text")
        val wn = TextAnalysis.fingerprintWinnow(Tables.documents(s, dir),
          "doc_id", "text")
        val joined = Tables.documents(s, dir)
          .select(col("doc_id"), col("text")).join(fp, Seq("doc_id"))
          .join(wn, Seq("doc_id"))
        joined.agg(
          count(lit(1)).as("n_docs"),
          (countDistinct(col("fp")) * 2 >= countDistinct(col("text")))
            .as("fp_discriminates"),
          (countDistinct(col("text")) ===
            countDistinct(col("text"), col("fp"))).as("same_text_same_fp"),
          // winnow path: pure function of text (equal texts ⇒ equal
          // arrays), discriminates at least as well as the single min
          // (its minima SET contains strictly more information), and
          // the global min-sample is always one of the selected minima
          (countDistinct(col("text")) ===
            countDistinct(col("text"), col("fps"))).as("same_text_same_winnow"),
          (countDistinct(col("fps")) >= countDistinct(col("fp")))
            .as("winnow_discriminates"),
          (count(lit(1)) === sum(when(array_contains(col("fps"), col("fp")), 1L)
            .otherwise(0L))).as("winnow_contains_min"))
      },
      Some("""SELECT COUNT(*) AS n_docs, TRUE AS fp_discriminates,
             |TRUE AS same_text_same_fp, TRUE AS same_text_same_winnow,
             |TRUE AS winnow_discriminates, TRUE AS winnow_contains_min
             |FROM documents""".stripMargin)),

    QueryDef("overlap_recall_cert",
      (s, dir) => {
        // partial-overlap detection (winnowing inverted index) must
        // recover every planted near-identical pair — exact 3-gram
        // Jaccard ≥ 0.9 means the documents share long token runs, so
        // they must collide on ≥ minShared winnow fingerprints.
        // Observed recall is 1.000 at sf0.001/0.01/0.1 (deterministic
        // hashes); floor 0.8 with margin.
        val docs = Tables.documents(s, dir)
        val found = stagedOverlapPairs(s, dir)
          .select(col("doc_a"), col("doc_b"))
        val planted = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
            shingleN = 3, threshold = 0.9)
          .select(col("doc_a"), col("doc_b"))
        // ONE pass over planted computes total and hits (r22, §2.3 —
        // was a semi-join branch + a count branch + crossJoin, each
        // re-planning the planted sweep's consumer side). found holds
        // each pair once (overlapPairs groups by pair), so the left
        // join is 1:≤1 and count(1) stays the planted total.
        planted.join(found.withColumn("__f", lit(true)),
            Seq("doc_a", "doc_b"), "left")
          .agg(count(lit(1)).as("n_planted"), count(col("__f")).as("hits"))
          .select(col("n_planted"),
            (col("hits") >= col("n_planted") * 0.8).as("recall_ok"))
      },
      Some(s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_planted,
              |TRUE AS recall_ok
              |FROM (${jaccardOracle(3, "0.9")})""".stripMargin)),

    // the PRODUCTION overlap relation: per-doc top-k partners, O(N·k)
    // output where the full pair set is quadratic in dup density.
    // r18: full oracle — DuckDB re-derives the winnowing fingerprints
    // (exact mod-2^64 rolling hash, RollingHashOracles), the df-
    // filtered pair join and the (shared DESC, partner ASC) rank;
    // overlap_topk_cert / overlap_recall_cert stay as certificates.
    QueryDef("overlap_topk",
      (s, dir) => TextAnalysis.overlapTopKOf(stagedOverlapPairs(s, dir), 5),
      Some(RollingHashOracles.overlapTopKSql())),

    QueryDef("overlap_topk_cert",
      (s, dir) => {
        // certifies the capped variant's two contracts against
        // DuckDB-computable ground truth: (1) capped_ok — no document
        // carries more than k partners and ranks are dense 1..c (the
        // O(N·k) output bound, THE point of the variant); (2)
        // recall_ok — the planted near-identical pairs (exact 3-gram
        // Jaccard ≥ 0.9, the overlap_recall_cert ground truth) still
        // surface in the capped relation: a planted pair shares more
        // fingerprints than boilerplate overlap, so capping to the
        // top k=5 partners must not evict it (observed: every planted
        // pair survives at rank 1-2 across sf0.001/0.01/0.1; floor
        // 0.8 with margin).
        val docs = Tables.documents(s, dir)
        val k = 5
        val topk = TextAnalysis.overlapTopKOf(stagedOverlapPairs(s, dir), k)
          .localCheckpoint() // two certificate legs read it
        val capped = topk.groupBy(col("doc"))
          .agg(count(lit(1)).as("c"), max(col("rank")).as("mr"))
          .agg(coalesce(max(col("c")) <= k && max(col("mr")) <= k &&
            sum(when(col("mr") =!= col("c"), 1L).otherwise(0L)) === 0L,
            lit(true)).as("capped_ok"))
        val planted = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
            shingleN = 3, threshold = 0.9)
          .select(col("doc_a"), col("doc_b"))
        val found = topk.select(least(col("doc"), col("partner")).as("doc_a"),
            greatest(col("doc"), col("partner")).as("doc_b"))
          .distinct()
        // one pass over planted for total + hits (same fold as
        // overlap_recall_cert; found is distinct so the join is 1:≤1)
        planted.join(found.withColumn("__f", lit(true)),
            Seq("doc_a", "doc_b"), "left")
          .agg(count(lit(1)).as("n_planted"), count(col("__f")).as("hits"))
          .crossJoin(capped)
          .select(col("n_planted"), col("capped_ok"),
            (col("hits") >= col("n_planted") * 0.8).as("recall_ok"))
      },
      Some(s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_planted,
              |TRUE AS capped_ok, TRUE AS recall_ok
              |FROM (${jaccardOracle(3, "0.9")})""".stripMargin)),

    QueryDef("decontaminate_bloom_cert",
      (s, dir) => {
        // Bloom decontamination vs the exact shingle join, both
        // guarantees checked in-query: (1) zero false negatives —
        // structural (the filter contains every benchmark hash) but
        // asserted against the independent exact join anyway; (2) the
        // false-positive count stays inside a generous bound derived
        // from fpp (1e-6 per n-gram → expected ~1e-3 per ~1k-gram doc;
        // bound = max(5, 1% of corpus)). Benchmark = the deterministic
        // doc_id % 20 == 0 slice, corpus = the rest, so the planted
        // near-dup pairs make real cross-slice contamination. n = 5
        // (real decontamination uses longer n-grams than dedup): at
        // n=3 the synthetic corpus shares short phrases so broadly
        // that ~100% counts contaminated and the FP bound is vacuous;
        // at n=5 the contaminated set is the planted overlaps (2-132
        // docs across SFs) and BOTH directions of the cert have mass.
        val docs = Tables.documents(s, dir)
        val corpus = docs.filter(col("doc_id") % 20 =!= 0)
        val bench = docs.filter(col("doc_id") % 20 === 0)
        // referenced from two certificate legs (false-negative probe +
        // bloom-hit count) — stage it, or the scan+Bloom probe reruns
        val res = TextAnalysis.decontaminate(corpus, "doc_id", "text",
          bench, "text", n = 5, fpp = 1e-6).localCheckpoint()
        val benchH = bench.select(
          explode(Dedup.shingleHashes(col("text"), 5)).as("h")).distinct()
        val exact = corpus.select(col("doc_id"),
            explode(Dedup.shingleHashes(col("text"), 5)).as("h"))
          .join(broadcast(benchH), Seq("h"), "left_semi")
          .select(col("doc_id")).distinct().localCheckpoint()
        val nCorpus = corpus.agg(count(lit(1)).as("n_corpus"))
        val nExact = exact.agg(count(lit(1)).as("n_contaminated"))
        val falseNeg = exact.join(res.filter(!col("contaminated")),
            Seq("doc_id"), "left_semi")
          .agg(count(lit(1)).as("__fn"))
        val nBloom = res.filter(col("contaminated"))
          .agg(count(lit(1)).as("__nb"))
        nCorpus.crossJoin(nExact).crossJoin(falseNeg).crossJoin(nBloom)
          .select(col("n_corpus"), col("n_contaminated"),
            (col("__fn") === 0).as("no_false_negatives"),
            (col("__nb") - col("n_contaminated") <=
              greatest(lit(5L), ceil(col("n_corpus") * 0.01).cast("long")))
              .as("fp_bound_ok"))
      },
      Some {
        val sh5 = (1 to 5).map(j => s"l[i+${j - 1}]").mkString(" || chr(1) || ")
        s"""WITH b AS (
           |  SELECT DISTINCT unnest(list_distinct(
           |    [$sh5 FOR i IN range(1, len(l) - 3)])) AS sg
           |  FROM (SELECT string_split(text, ' ') AS l FROM documents
           |        WHERE doc_id % 20 = 0)
           |  WHERE len(l) >= 5),
           |c AS (
           |  SELECT doc_id, unnest(list_distinct(
           |    [$sh5 FOR i IN range(1, len(l) - 3)])) AS sg
           |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents
           |        WHERE doc_id % 20 <> 0)
           |  WHERE len(l) >= 5),
           |hits AS (SELECT DISTINCT c.doc_id FROM c JOIN b USING (sg))
           |SELECT
           |  (SELECT COUNT(*) FROM documents WHERE doc_id % 20 <> 0) AS n_corpus,
           |  CAST((SELECT COUNT(*) FROM hits) AS BIGINT) AS n_contaminated,
           |  TRUE AS no_false_negatives, TRUE AS fp_bound_ok""".stripMargin
      }),

    // ---------------- model-based quality filtering ----------------
    // The classifier-gate curation stage (the learned counterpart of
    // the heuristic quality gate): logistic regression trained
    // driver-side on a deterministic ≤2k hash-ordered sample of the
    // md5-assigned train half (constant cost in corpus size — the
    // trainer discipline of trainIvfCentroids/trainBpeMerges), frozen,
    // then applied distributed as pure Column arithmetic (dot product
    // + sigmoid inside whole-stage codegen; no UDF, no shuffle).
    // Labels come from the oracle-proven tie-free heuristic gate
    // (quality >= 0.451117), so DuckDB recomputes the split sizes and
    // heldout positives exactly, and the learned model's held-out
    // accuracy rides as a certified boolean.
    QueryDef("quality_classifier",
      (s, dir) => {
        // per-doc scores from the frozen model (no SQL oracle: the
        // weights come from driver-side gradient descent; the model's
        // quality is oracle-certified by quality_classifier_cert)
        val docs = Tables.documents(s, dir)
        val w = trainedQualityWeights(s, dir)
        QualityModel.score(docs, "doc_id", "text", w)
          .select(col("doc_id"), round(col("score"), 6).as("score"),
            col("predicted_good"))
      },
      // r18: full oracle — frozen golden weights (GoldenModels,
      // AnnGoldenSpec retrains them per fixture) + features DuckDB
      // recomputes from the text; the held-out-accuracy certificate
      // stays quality_classifier_cert
      Some(AnnOracles.qualityClassifierSql)),

    QueryDef("quality_classifier_cert",
      (s, dir) => {
        val labeled = labeledQualityDocs(s, dir)
        val w = trainedQualityWeights(s, dir)
        val held = labeled.filter(!col("is_train"))
          .join(QualityModel.score(Tables.documents(s, dir), "doc_id",
            "text", w), Seq("doc_id"))
        val agg = held.agg(
          count(lit(1)).as("n_heldout"),
          sum(when(col("good"), 1L).otherwise(0L)).as("n_pos_heldout"),
          avg(when(col("predicted_good") === col("good"), 1.0)
            .otherwise(0.0)).as("acc"))
        labeled.filter(col("is_train"))
          .agg(count(lit(1)).as("n_train"))
          .crossJoin(agg)
          .select(col("n_train"), col("n_heldout"), col("n_pos_heldout"),
            (col("acc") >= 0.85).as("acc_ok"))
      },
      Some(s"""WITH q AS (SELECT doc_id,
              |  ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
              |      / len(string_split(text, ' '))
              |    * (1.0 - CAST(len(list_filter(string_split(text, ' '),
              |        x -> x IN ('a', 'the', 'and', 'of', 'to'))) AS DOUBLE)
              |      / len(string_split(text, ' '))), 6) AS quality
              |  FROM documents),
              |l AS (SELECT doc_id, quality >= 0.451117 AS good,
              |  substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
              |    < '${Sampling.hexThreshold(0.5)}' AS is_train
              |  FROM q)
              |SELECT
              |  CAST(SUM(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
              |  CAST(SUM(CASE WHEN NOT is_train THEN 1 ELSE 0 END) AS BIGINT) AS n_heldout,
              |  CAST(SUM(CASE WHEN NOT is_train AND good THEN 1 ELSE 0 END) AS BIGINT) AS n_pos_heldout,
              |  TRUE AS acc_ok
              |FROM l""".stripMargin)),

    QueryDef("simhash_recall_cert",
      (s, dir) => {
        // simhash at threshold 0.5 must recover ≥60% of the
        // oracle-computable planted pairs (exact Jaccard ≥ 0.9) —
        // measured recall is 0.68-0.85 across sf0.001/0.01/0.1
        // (deterministic seeds), so the floor holds with margin; the
        // pigeonhole-guaranteed subset is spec-pinned in ScalaTest
        val docs = Tables.documents(s, dir)
        val found = Dedup.simhashNearDuplicates(docs, "doc_id", "text",
            shingleN = 3, threshold = 0.5)
          .select(col("doc_a"), col("doc_b"))
        val planted = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
            shingleN = 3, threshold = 0.9)
          .select(col("doc_a"), col("doc_b"))
        val hits = planted.join(found, Seq("doc_a", "doc_b"), "left_semi")
          .agg(count(lit(1)).as("hits"))
        planted.agg(count(lit(1)).as("n_planted")).crossJoin(hits)
          .select(col("n_planted"),
            (col("hits") >= col("n_planted") * 0.6).as("recall_ok"))
      },
      Some(s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_planted,
              |TRUE AS recall_ok
              |FROM (${jaccardOracle(3, "0.9")})""".stripMargin))
  )
}
