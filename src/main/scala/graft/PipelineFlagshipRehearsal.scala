package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.queries.Tables

/** The ON-DISK pipeline-flagship rehearsal (r19 ask #4): the
  * [[FlagshipRehearsal]] treatment — cold parquet input, closed-form
  * row checks, plan-ASSERTED pruning — for the heavy text/embedding
  * flagships that previously rehearsed only via in-memory replication
  * ([[ScaleRehearsal]]): `dedup_minhash_lsh`, `overlap_topk`,
  * `dedup_substring`, and the persisted IVF-PQ probe.
  *
  * Replication schemes are chosen so each operator's output has a
  * CLOSED FORM against the base fixture:
  *
  *  - minhash (`docs_bij`): each replica prefixes every whitespace
  *    token with `r<R>x` — a bijection on tokens, hence on word-n-gram
  *    shingles, so within-replica Jaccard is EXACTLY preserved while
  *    cross-replica shingle sets are disjoint (no prefix `r<digits>x`
  *    is a prefix of another: the digit run ends at a non-digit `x`).
  *    [[Dedup.nearDuplicatesChecked]] returns the exact
  *    prefix-filtered pair set, so rows(reps×) = reps × rows(base)
  *    exactly, and `lsh_ok` must hold on both.
  *  - substring (`docs_exact`): exact copies under shifted ids —
  *    every k-window of every long doc is cross-replica duplicated,
  *    so [[Dedup.removeDuplicateSubstrings]] keeps exactly the short
  *    (< k tokens) docs' tokens and zero long-doc tokens, and
  *    [[Dedup.substringDuplication]] covers exactly the long docs'
  *    bodies — both computable from the 1× corpus before the operator
  *    runs.
  *  - overlap_topk (`docs_exact`, at its own smaller `repsOverlap`):
  *    winnowing fingerprints are sorted-DISTINCT per doc, so under
  *    exact copies a doc with f surviving fingerprints (corpus df ≤
  *    maxDocFreq) shares exactly f with each of its reps−1 copies:
  *    f ≥ minShared(2) ⇒ the per-doc top-k is saturated (reps−1 ≥ k),
  *    f ≤ 1 ⇒ no partner can reach minShared. Hence
  *    rows = k × #docs(f ≥ 2), where #docs(f ≥ 2) comes from one
  *    cheap fingerprint aggregate, not the join under test. The full
  *    pair INTERMEDIATE is quadratic in copy density by design
  *    (11.2M pairs at 10×, 93.7M at 30× — recorded in SURVEY §8.2),
  *    which is why this stage runs at `repsOverlap`=10, not 100: the
  *    quadratic-intermediate stress is ScaleRehearsal's record; this
  *    stage pins the cold-scan shape and the exact output cap. The
  *    100× run rides `docs_bij` (disjoint replicas ⇒ intermediate
  *    scales ×reps, not ×reps²) at a production-tight
  *    stop-fingerprint cutoff (maxDocFreq=20) with the N·k cap
  *    asserted — see the stage comment for why the registered
  *    cutoff (1000) is the wrong knob setting at this density.
  *  - IVF-PQ (`emb`): identical-DIRECTION vector replicas (cosine is
  *    scale-free) — every copy shares its base vector's cell, so the
  *    probe output stays exactly queries × k rows, recall vs the
  *    brute-force sweep on the same corpus holds the 0.75 certificate
  *    floor, and the from-index probe plan must contain the
  *    dynamic-partition-pruned cell scan (the IvfPqSpec pin, asserted
  *    here on the at-scale index with the FAISS √N nlist).
  *
  * Plan assertions on the cold corpora: the winnow/shingle scans must
  * prune to (id, text) — never reading lang/source/n_chars — and the
  * brute-force embedding scan must not read `label`.
  *
  * Usage: `runMain graft.PipelineFlagshipRehearsal [sfDir] [reps] [outDir]`
  * (defaults /root/testdata/sf0.1, 100, target/flagship_pipe —
  * 100 × sf0.1 = the sf10-equivalent corpus: 500k docs, 200k vectors).
  * Run with `SPARK_DRIVER_MEM=48g`: the single-JVM stand-in hosts 32
  * executor threads' sort/join pages plus each stage's checkpointed
  * signature relations — the build default 8g OOMs in the 100×
  * overlap stage. Stage-local checkpoint blocks are dropped between
  * stages (nothing is reused across them), so peak memory is one
  * stage's, not the run's. */
object PipelineFlagshipRehearsal {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 100
    val outDir = if (args.length > 2) args(2) else "target/flagship_pipe"
    val repsOverlap = reps.min(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_SHUFFLE exists for the recorded 300× partition A/B
    // (SURVEY §8.5): the hypothesis that the 300× super-linear rows
    // were per-partition sort size was TESTED and REJECTED — 128
    // partitions made every heavy stage equal-or-slower than 32 on
    // this box (overlap 330→495 s), because the binding constraint is
    // the single shared disk all shuffle/checkpoint/parquet IO funnels
    // through, which more partitions only fragment. That ceiling is
    // exactly what a multi-node cluster removes; the plans' exchange
    // counts stay constant with scale (the property we can pin here).
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val out = f
      println(f"[rehearsal] $name%-46s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      out
    }
    // Free every stage's localCheckpoint blocks once its closed-form
    // counts are collected — nothing is shared across stages, and
    // retaining them stacks each stage's signature relations on top
    // of the next one's execution memory (the 8g OOM above).
    def dropStageCaches(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val OFFSET = 10000001L

    val docs0 = Tables.documents(spark, sfDir)
    val emb0 = Tables.embeddings(spark, sfDir)
    locally {
      val maxDoc = docs0.agg(max("doc_id")).head.getLong(0)
      val maxVec = emb0.agg(max("vec_id")).head.getLong(0)
      require(maxDoc < OFFSET && maxVec < OFFSET,
        s"replica offset $OFFSET would collide: doc=$maxDoc vec=$maxVec")
    }

    // ---- 1. one-time writes (amortized in a real sf10 fixture) ----
    // all five document columns are kept so the pruning assertions
    // below measure something real
    timed(s"write docs_bij ${reps}x (token-bijection replicas)") {
      (0 until reps).map(r =>
          docs0.select((col("doc_id") + lit(r * OFFSET)).as("doc_id"),
            regexp_replace(col("text"), "(\\S+)", s"r${r}x" + "$1").as("text"),
            col("lang"), col("source"), col("n_chars")))
        .reduce(_ unionByName _)
        .repartition(cpus.toInt * 2)
        .write.mode("overwrite").parquet(s"$outDir/docs_bij")
    }
    timed(s"write docs_exact ${reps}x (exact-copy replicas)") {
      (0 until reps).map(r =>
          docs0.select((col("doc_id") + lit(r * OFFSET)).as("doc_id"),
            col("text"), col("lang"), col("source"), col("n_chars")))
        .reduce(_ unionByName _)
        .repartition(cpus.toInt * 2)
        .write.mode("overwrite").parquet(s"$outDir/docs_exact")
    }
    timed(s"write emb ${reps}x (identical-direction replicas)") {
      (0 until reps).map(r =>
          emb0.select((col("vec_id") + lit(r * OFFSET)).as("vec_id"),
            col("embedding"), col("label")))
        .reduce(_ unionByName _)
        .repartition(cpus.toInt)
        .write.mode("overwrite").parquet(s"$outDir/emb")
    }
    val docsBij = spark.read.parquet(s"$outDir/docs_bij")
    val docsExact = spark.read.parquet(s"$outDir/docs_exact")
    val emb = spark.read.parquet(s"$outDir/emb")

    // ---- 2. column pruning on the cold text scan: the winnow
    // fingerprint pass must read (doc_id, text) only ----
    locally {
      val plan = TextAnalysis.fingerprintWinnow(docsExact, "doc_id", "text")
        .queryExecution.executedPlan.toString
      val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
      require(readSchema.contains("doc_id") && readSchema.contains("text") &&
          !readSchema.contains("lang") && !readSchema.contains("source") &&
          !readSchema.contains("n_chars"),
        s"winnow scan does not prune columns: $readSchema")
      println(s"[rehearsal] winnow scan pruned: $readSchema")
    }

    // ---- 3. dedup_minhash_lsh: exact pair set scales ×reps ----
    locally {
      val baseRows = Dedup.nearDuplicatesChecked(docs0, "doc_id", "text")
        .localCheckpoint()
      val baseN = Force.count(baseRows.filter(col("doc_a") >= 0))
      val baseOk = baseRows.agg(
        count(when(!col("lsh_ok"), lit(1))).as("bad")).head.getLong(0)
      val big = timed(s"dedup_minhash_lsh checked (${reps}x bij)") {
        Dedup.nearDuplicatesChecked(docsBij, "doc_id", "text").localCheckpoint()
      }
      val bigN = Force.count(big.filter(col("doc_a") >= 0))
      val bigOk = big.agg(
        count(when(!col("lsh_ok"), lit(1))).as("bad")).head.getLong(0)
      require(baseOk == 0 && bigOk == 0, "lsh_ok certificate violated")
      require(bigN == baseN * reps,
        s"minhash exact pairs $bigN != $reps x $baseN (bijection " +
          "replicas preserve within-replica Jaccard exactly)")
      println(s"[rehearsal] dedup_minhash_lsh: $bigN pairs = " +
        s"$reps x $baseN, lsh_ok everywhere")
    }
    dropStageCaches()

    // ---- 4. overlap_topk ----
    // (a) closed form at repsOverlap× exact copies
    locally {
      val docs = if (repsOverlap == reps) docsExact
        else docsExact.filter(col("doc_id") < repsOverlap * OFFSET)
      val k = 5
      val topk = timed(s"overlap_topk (${repsOverlap}x exact)") {
        TextAnalysis.overlapTopK(docs, "doc_id", "text", k = k)
          .localCheckpoint()
      }
      val rows = Force.count(topk)
      // independent expected-row pipeline: one fingerprint aggregate
      // (df guard at the operator's own maxDocFreq=1000), no pair join
      val inv = TextAnalysis.fingerprintWinnow(docs, "doc_id", "text")
        .select(col("doc_id"), explode(col("fps")).as("fp"))
      val surviving = inv.join(
        inv.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= 1000).select(col("fp")),
        Seq("fp"))
      val docsWith2 = surviving.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("f")).filter(col("f") >= 2).count()
      require(repsOverlap - 1 >= k,
        s"closed form needs reps-1 >= k: $repsOverlap vs $k")
      require(rows == k * docsWith2,
        s"overlap_topk rows $rows != $k x $docsWith2 docs with >=2 " +
          "surviving fingerprints (exact copies saturate each top-k)")
      println(s"[rehearsal] overlap_topk: $rows rows = $k x $docsWith2 " +
        s"saturated docs (cap exact)")
    }
    dropStageCaches()
    // (b) full reps× on the disjoint bijection corpus, at a
    // production-TIGHT stop-fingerprint cutoff. Disjoint replicas make
    // the intermediate scale ×reps rather than ×reps² — but within
    // each replica the synthetic corpus's own duplication density
    // stands (the 10× stage measured every doc saturated), and at the
    // registered maxDocFreq=1000 the per-fingerprint df² intermediate
    // exceeds this box's disk at 100× (measured: shuffle filled 60+GB
    // before the first rerun died). That is the real 100 TB lesson,
    // not an artifact: on a duplication-dense corpus the cutoff IS the
    // knob — df ≤ maxDocFreq bounds the join to Σ df·maxDocFreq =
    // O(rows × cutoff), so a warehouse tightens it with density. Run
    // the 100× leg the way a warehouse would (cutoff 20) and assert
    // the N·k output cap.
    locally {
      val k = 5
      val rows = timed(s"overlap_topk (${reps}x bij, maxDocFreq=20)") {
        Force.count(TextAnalysis.overlapTopK(docsBij, "doc_id", "text",
          maxDocFreq = 20, k = k))
      }
      val nDocs = reps * Force.count(docs0)
      require(rows <= nDocs * k, s"overlap_topk rows $rows over the " +
        s"N*k cap ${nDocs * k}")
      println(s"[rehearsal] overlap_topk ${reps}x bij: $rows rows " +
        s"<= cap ${nDocs * k}")
    }
    dropStageCaches()

    // ---- 5. dedup_substring at reps× exact copies ----
    locally {
      val k = 25
      val shortTok = docs0
        .select(size(split(col("text"), " ")).cast("long").as("n"))
        .filter(col("n") < k).agg(coalesce(sum(col("n")), lit(0L)))
        .head.getLong(0)
      val longTok = docs0
        .select(size(split(col("text"), " ")).cast("long").as("n"))
        .filter(col("n") >= k).agg(coalesce(sum(col("n")), lit(0L)))
        .head.getLong(0)
      val dup = timed(s"dedup_substring duplication (${reps}x exact)") {
        Dedup.substringDuplication(docsExact, "doc_id", "text")
          .localCheckpoint()
      }
      val covered = dup.agg(sum(col("covered_tokens"))).head.getLong(0)
      require(covered == longTok * reps,
        s"substring coverage $covered != $reps x $longTok long-doc " +
          "tokens (every window of every copy is cross-replica dup)")
      val clean = timed(s"dedup_substring clean (${reps}x exact)") {
        Dedup.removeDuplicateSubstrings(docsExact, "doc_id", "text", k = k)
          .localCheckpoint()
      }
      val st = clean.agg(sum(col("kept_tokens")).as("kept"),
        sum(when(col("n_tokens") >= k && col("kept_tokens") =!= 0L, 1L)
          .otherwise(0L)).as("bad")).head()
      require(st.getLong(0) == shortTok * reps && st.getLong(1) == 0L,
        s"substring clean kept ${st.getLong(0)} != $reps x $shortTok " +
          s"or ${st.getLong(1)} long docs kept tokens")
      println(s"[rehearsal] dedup_substring: covered=$covered " +
        s"(= $reps x $longTok), clean kept=${st.getLong(0)} " +
        s"(= $reps x $shortTok), long-doc survivors 0")
    }
    dropStageCaches()

    // ---- 6. persisted IVF-PQ probe at the FAISS sqrt(N) nlist ----
    locally {
      val k = 10
      val nVec = Force.count(emb)
      val nlist = math.max(32,
        Integer.highestOneBit(math.sqrt(nVec.toDouble).toInt))
      val queries = emb0.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"),
          Similarity.asDouble(col("embedding")).as("qv"))
      val nQ = queries.count()
      // embedding scan pruning: brute force must not read `label`
      val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, k)
      locally {
        val plan = bf.queryExecution.executedPlan.toString
        val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
        require(readSchema.contains("embedding") &&
            !readSchema.contains("label"),
          s"brute-force scan does not prune label: $readSchema")
        println(s"[rehearsal] embedding scan pruned: $readSchema")
      }
      val bfSet = bf.select(col("qid"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val idxPath = s"$outDir/ivfpq_$nlist"
      timed(s"ivf_pq index write (${reps}x, nlist=$nlist)") {
        Similarity.AnnIndex.fit(emb, "vec_id", "embedding", "IVF,PQ",
          nlist = nlist).write(emb, "vec_id", "embedding", idxPath)
      }
      val (idx, codes) = Similarity.AnnIndex.read(spark, idxPath)
      val probe = idx.search(emb, "vec_id", "embedding", queries, k = k,
        codes = codes)
      locally {
        val plan = probe.queryExecution.executedPlan.toString
        require(plan.contains("dynamicpruning"),
          s"persisted IVF-PQ probe is not partition-pruned:\n${plan.take(4000)}")
      }
      val probed = timed(s"ivf_pq from-index probe (nlist=$nlist)") {
        val p = probe.localCheckpoint()
        p.count()
        p
      }
      val rows = probed.count()
      require(rows == nQ * k, s"probe rows $rows != $nQ x $k")
      val got = probed.select(col("qid"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (bfSet & got).size.toDouble / bfSet.size
      require(recall >= 0.75,
        f"ivf_pq recall $recall%.3f under the 0.75 certificate floor")
      println(f"[rehearsal] ivf_pq persisted probe: rows=$rows " +
        f"(= $nQ x $k), recall=$recall%.3f, DPP asserted, nlist=$nlist")
    }

    println(s"[rehearsal] pipeline flagship sf-equivalent " +
      f"${0.1 * reps}%.0f: ALL closed-form checks passed")
    spark.stop()
  }
}
