package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, Sampling, Similarity, TextAnalysis}
import graft.queries.Tables

/** Scale rehearsal for the heavy self-join paths: replicate the input
  * corpus `reps`× with shifted ids and run them at that scale,
  * printing timings, output sizes, and DIRECT evidence of whether
  * `nearestDupLsh`'s skew-guard salting branch engaged (the hot-bucket
  * histogram, computed with the operator's own key derivation).
  *
  * NOT part of the bench: the replicated corpus is duplicate-dense by
  * construction (every document/vector gains `reps − 1` near-copies),
  * which concentrates LSH buckets and fingerprint postings far beyond
  * a natural corpus — exactly the stress the skew guards exist for.
  * Usage: `runMain graft.ScaleRehearsal [sfDir] [reps] [stages]` —
  * `stages` is an optional comma-separated prefix filter over stage
  * names (e.g. `overlap,stream_semantic`) so a deep (30×) run can
  * target the output-bound and index-bound stages without paying for
  * the whole suite; `skew` selects the skew-histogram block. */
object ScaleRehearsal {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 10
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet
      else Set.empty
    def selected(name: String): Boolean =
      only.isEmpty || only.exists(name.startsWith)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Force = the plan as written ([[Force.count]]) — see that object
    // for why .count() must NOT be used here.
    def forceCount(df: org.apache.spark.sql.DataFrame): Long = Force.count(df)

    def timed(name: String)(f: => Long): Unit = if (selected(name)) {
      val t0 = System.nanoTime()
      val rows = f
      println(f"[rehearsal] $name%-44s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$rows")
    }

    // Replica offset 10000001 (≢ 0 mod 4): the drained-stream rows
    // batch by id % 4, and a multiple-of-4 offset would put every
    // replica clone in the SAME residue class — all planted pairs
    // same-batch, invisible to the stream by contract (observed: the
    // semantic drain returned 0 rows under a 10M offset).
    // Replicas keep near-dup structure without exact-text degeneracy:
    // a per-replica suffix token shifts 3-gram Jaccard of cross-replica
    // copies to ~0.9 (still ≥ the 0.8 threshold), so every document
    // sits in a reps-sized near-dup cluster. Vectors replicate with an
    // identical DIRECTION (cosine is scale-free), so all copies share
    // every LSH bucket — the maximum-concentration stress case.
    val docs0 = Tables.documents(spark, sfDir)
    val emb0 = Tables.embeddings(spark, sfDir)
    // The offset arithmetic silently MERGES replicas (same shifted id
    // in two replicas → one logical row, wrecking every closed-form
    // count below) if any fixture id ever reaches the offset. Guard
    // it hard: fixture ids at every shipped SF top out ~1e5.
    locally {
      import org.apache.spark.sql.functions.max
      val maxDoc = docs0.agg(max("doc_id")).head.getLong(0)
      val maxVec = emb0.agg(max("vec_id")).head.getLong(0)
      require(maxDoc < 10000001L && maxVec < 10000001L,
        s"replica offset 10000001 would collide: max doc_id=$maxDoc max vec_id=$maxVec")
    }
    val docs = (0 until reps).map(r =>
        docs0.select((col("doc_id") + lit(r * 10000001L)).as("doc_id"),
          concat(col("text"), lit(s" rep$r")).as("text")))
      .reduce(_ unionByName _).repartition(cpus.toInt).localCheckpoint()
    val emb = (0 until reps).map(r =>
        emb0.select((col("vec_id") + lit(r * 10000001L)).as("vec_id"),
          Similarity.asDouble(col("embedding")).as("embedding")))
      .reduce(_ unionByName _).repartition(cpus.toInt).localCheckpoint()
    println(s"[rehearsal] sfDir=$sfDir reps=$reps docs=${docs.count()} vecs=${emb.count()}")

    timed("dedup_minhash_lsh (LSH path)") {
      forceCount(Dedup.nearDuplicates(docs, "doc_id", "text",
        shingleN = 3, k = 128, bands = 32, threshold = 0.8))
    }
    timed("overlap_pairs (winnow inverted index)") {
      forceCount(TextAnalysis.overlapPairs(docs, "doc_id", "text"))
    }
    // the production variant: same inverted-index join, output capped
    // at N·k rows — at reps× replication the FULL pair set grows
    // quadratically with reps while this row must stay ~N·k
    timed("overlap_topk (capped per-doc partners)") {
      forceCount(TextAnalysis.overlapTopK(docs, "doc_id", "text"))
    }
    timed("nearest_dup_lsh (default maxBucket=4096)") {
      forceCount(Similarity.nearestDupLsh(emb, "vec_id", "embedding"))
    }
    timed("semantic_duplicates (within-cell sweep)") {
      // identical-direction replicas: every vector has reps−1 twins at
      // cos 1.0, so the output is ~N·(reps−1)/2 planted pairs — the
      // within-cell candidate volume, not the pair math, is the load
      forceCount(Similarity.semanticDuplicates(emb, "vec_id", "embedding",
        threshold = 0.95))
    }
    timed("nearest_dup_lsh (maxBucket=256, forced salt)") {
      forceCount(Similarity.nearestDupLsh(emb, "vec_id", "embedding",
        maxBucket = 256))
    }
    // the streaming drains at 10×: per-batch index probe + append must
    // scale with batch size, not corpus size — each of the 4 batches
    // probes an index holding ≤ the previously-admitted corpus
    timed("stream_near_dup drain (4 batches)") {
      forceCount(graft.streaming.EventStream
        .nearDupIngestDrained(spark, docs, threshold = 0.8, files = 4))
    }
    timed("stream_semantic_dup drain (4 batches)") {
      forceCount(graft.streaming.EventStream.embeddingIngestDrained(spark,
          emb.select(col("vec_id"), col("embedding").as("v")),
          threshold = 0.95, files = 4))
    }
    // PQ at 10×: codebook training is a fixed driver-side constant
    // (≤10k sample regardless of corpus size); the ADC scan streams
    // m=8 bytes/vector against broadcast per-query tables, so scan
    // cost tracks corpus size × queries with no shuffle of the codes
    timed("embed_ann_pq (train + ADC scan + rerank)") {
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      forceCount(Similarity.AnnIndex.fit(emb, "vec_id", "embedding", "PQ")
        .search(emb, "vec_id", "embedding", queries, k = 10))
    }
    // IVF-PQ through the PERSISTED index at reps× — the registered
    // embed_ann_ivf_pq path's warehouse shape (same defaults:
    // nlist=32, nprobe=16, m=8, refine=8). Three properties rehearsed:
    // (a) the index write is one linear encode pass (training constant:
    // ≤10k sample); (b) the from-index probe reads ONLY the probed
    // cells' partitions (DPP, IvfPqSpec-pinned) and scores m bytes per
    // vector, so probe cost tracks the PROBED fraction of the index,
    // printed as scanned/total code rows; (c) recall vs the exact
    // brute-force top-k ON the replicated corpus stays ≥ the 0.75
    // certificate floor — identical-direction replicas concentrate
    // every query's true neighbours into its own cell, the stress
    // case for cell pruning. Printed FAIL marker instead of a silent
    // number so a rehearsal log can't record a miss as a pass.
    if (selected("embed_ann_ivf_pq")) {
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      lazy val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queries, 10)
        .select(col("qid"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // two configurations: the registered defaults (nlist=32 — at
      // this corpus the probe "prunes" only nprobe/nlist = 1/2), and
      // nlist scaled by the FAISS √N rule, the knob a warehouse
      // actually turns — the per-query scanned fraction must drop to
      // ~nprobe/nlist while recall holds the certificate floor.
      Seq(("defaults nlist=32", 32), ("sqrtN nlist=128", 128)).foreach {
        case (tag, nlist) =>
          val idxPath = new java.io.File(System.getProperty("java.io.tmpdir"),
            s"graft_rehearsal_ivfpq_${nlist}_${ProcessHandle.current().pid()}")
            .getAbsolutePath
          try {
            timed(s"embed_ann_ivf_pq index write ($tag)") {
              Similarity.AnnIndex.fit(emb, "vec_id", "embedding", "IVF,PQ",
                nlist = nlist).write(emb, "vec_id", "embedding", idxPath)
              spark.read.parquet(s"$idxPath/codes").count()
            }
            timed(s"embed_ann_ivf_pq from-index probe ($tag)") {
              val (idx, codes) = Similarity.AnnIndex.read(spark, idxPath)
              forceCount(idx.search(emb, "vec_id", "embedding", queries,
                k = 10, codes = codes))
            }
            val (idx, idxCodes) = Similarity.AnnIndex.read(spark, idxPath)
            val cents = idx.coarse.get
            val codes = idxCodes.select(col("vec_id"), col("cell"))
            val total = codes.count()
            // per-QUERY scanned rows (the cost a single probe pays) —
            // the union over 8 queries would cover most cells and
            // misread as "no pruning"
            val perQuery = queries.select(col("qid"),
                explode(graft.functions.IvfCells.cells(
                  col("qv"), cents, 16)).as("cell"))
              .join(codes.groupBy(col("cell")).agg(count(lit(1)).as("n")),
                Seq("cell"))
              .groupBy(col("qid")).agg(sum(col("n")).as("scanned"))
              .agg(avg(col("scanned"))).head().getDouble(0)
            val ivf = idx.search(emb, "vec_id", "embedding", queries, k = 10,
                codes = idxCodes)
              .select(col("qid"), col("vec_id")).collect()
              .map(r => (r.getLong(0), r.getLong(1))).toSet
            val recall = (bf & ivf).size.toDouble / bf.size
            println(f"[rehearsal] embed_ann_ivf_pq ($tag) recall=$recall%.3f " +
              f"per-query scan=${perQuery / total}%.3f of $total code rows " +
              s"(floor 0.75: ${if (recall >= 0.75) "OK" else "FAIL"})")
          } finally {
            val p = new org.apache.hadoop.fs.Path(idxPath)
            p.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .delete(p, true)
          }
      }
    }
    // BPE at 10×: training reads a fixed ≤2000-doc sample (constant
    // in corpus size); the apply side is one narrow map stage, so
    // cost tracks the corpus linearly with no shuffle at all
    timed("token_count_bpe (train + tokenize corpus; rows=total tokens)") {
      val merges = TextAnalysis.trainBpeMerges(docs, "doc_id", "text")
      // head() on the referenced sum FORCES the tokenize pass —
      // .count() here would let Catalyst prune the sum and its whole
      // child projection, timing only the driver-side training
      TextAnalysis.bpeTokens(docs, "doc_id", "text", merges)
        .agg(sum(col("n_tokens")).as("t")).head().getLong(0)
    }
    // the four-stage capstone composition (exact dedup → quality gate →
    // split → token budgets) — every stage is linear-or-one-shuffle, so
    // 10× input should cost ~10× the sf-scale row, not worse: the
    // rehearsal pins the composition's shape, not just each operator's
    timed("pipeline_training_mix (4-stage capstone)") {
      val survivors = docs.join(
        Dedup.exactDuplicates(docs, "doc_id", "text").select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      val good = survivors.join(
        TextAnalysis.qualityScore(survivors, "doc_id", "text")
          .filter(col("quality") >= 0.451117).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      val split = Sampling.assignSplits(good, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      forceCount(split.join(TextAnalysis.tokenCount(good, "doc_id", "text"),
          Seq("doc_id"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws_tokens")).as("ws_tokens"),
          sum(col("bpe_tokens")).as("bpe_tokens")))
    }

    if (selected("sessions") || selected("sessions_wm")) {
      // gapSessions state-bound evidence: per-user state is the MERGED
      // interval list — bounded by the user's true session count, not
      // their event count. Replicating the fixture's USER SPACE reps×
      // (ids shifted; event structure per user identical) multiplies
      // rows and state-store keys while leaving per-key state size
      // constant — so the drain must scale with row volume and the
      // reported max state must equal the fixture's own, proving the
      // state never absorbs events.
      val ev0 = Tables.events(spark, sfDir)
      // offset derived from the fixture's own id range: a fixed
      // constant would silently collide (and merge distinct users'
      // state) the day user_ids outgrow it — which would invalidate
      // the "max state equals the fixture's own" evidence below
      val userOffset = ev0.agg(max(col("user_id"))).head().getLong(0) + 1L
      val ev = (0 until reps).map(r =>
          ev0.select(col("event_id"), col("ts"),
            (col("user_id") + lit(r * userOffset)).as("user_id"),
            col("event_type"), col("value")))
        .reduce(_ unionByName _).repartition(cpus.toInt).localCheckpoint()
      if (selected("sessions")) timed(s"sessions_stream drain (${reps}x users)") {
        val out = graft.streaming.EventStream.gapSessionsDrained(spark, ev)
          .localCheckpoint()
        val st = out.agg(max(col("sessions")).as("mx"),
          avg(col("sessions")).as("av"), max(col("events")).as("me")).head()
        println(f"[rehearsal] sessions state: max_intervals=${st.getLong(0)} " +
          f"avg=${st.getDouble(1)}%.1f max_events_per_user=${st.getLong(2)} " +
          "(state rows = intervals, not events)")
        forceCount(out)
      }
      // the PRODUCTION watermarked shape: peak state-store rows across
      // the drain's micro-batches must track users × open-intervals
      // (a small per-user constant), never the event volume — drained
      // at 1× and reps×, the per-user peak must be ~equal while events
      // grow reps×.
      if (selected("sessions_wm")) timed(s"sessions_wm drain (${reps}x users, append)") {
        val users1 = ev0.select(col("user_id")).distinct().count()
        val (c1, s1) = graft.streaming.EventStream
          .gapSessionsWatermarkedDrained(spark, ev0)
        val closed1 = c1.count()
        val (cN, sN) = graft.streaming.EventStream
          .gapSessionsWatermarkedDrained(spark, ev)
        val closedN = cN.count()
        println(f"[rehearsal] sessions_wm state: 1x maxStateRows=$s1 " +
          f"(users=$users1, closed=$closed1, state/user=${s1.toDouble / users1}%.2f); " +
          f"${reps}x maxStateRows=$sN (users=${users1 * reps}, closed=$closedN, " +
          f"state/user=${sN.toDouble / (users1 * reps)}%.2f; events=${ev.count()})")
        closedN
      }
    }

    // selectByBudget at reps×: the histogram pass is sort-free and the
    // exact cumulative window touches ONLY the boundary bucket — the
    // windowed-row diagnostic must stay a small fraction of the corpus
    // as it grows (the whole point of refusing the global sort).
    timed(s"select_budget (${reps}x docs, budget x$reps)") {
      val scored = TextAnalysis.qualityScore(docs, "doc_id", "text")
        .join(TextAnalysis.tokenCount(docs, "doc_id", "text")
          .select(col("doc_id"), col("ws_tokens")), Seq("doc_id"))
        .select(col("doc_id"), col("quality"), col("ws_tokens"))
      val n = forceCount(graft.operators.Selection.selectByBudget(
        scored, "doc_id", "quality", "ws_tokens", budget = 5000L * reps))
      val (bk, bRows, tRows) = graft.operators.Selection.lastDiag.get()
      println(f"[rehearsal] select_budget boundary: buckets=$bk " +
        f"windowed=$bRows of $tRows rows (${bRows.toDouble / math.max(tRows, 1L)}%.4f " +
        f"of corpus; uniform share would be ${1.0 / math.max(bk, 1)}%.4f)")
      n
    }

    // shard export at reps×: one parquet file per shard directory,
    // every shard but the last exactly full, manifest ≡ disk — the
    // manifest is computed from the files as written, so equality of
    // its row total with the input count certifies the layout.
    if (selected("shards")) {
      val shardPath = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_rehearsal_shards_${ProcessHandle.current().pid()}").getAbsolutePath
      try {
        timed(s"shards write+manifest (${reps}x docs, 5000/shard)") {
          val manifest = graft.sources.Shards.writeTrainingShards(
            docs.select(col("doc_id"), col("text")), "doc_id", shardPath,
            recordsPerShard = 5000L, seed = "rehearsal")
          val m = manifest.orderBy(col("shard")).collect()
          val fullExceptLast = m.dropRight(1).forall(_.getAs[Long]("n_rows") == 5000L)
          val totalRows = m.map(_.getAs[Long]("n_rows")).sum
          val fs = new org.apache.hadoop.fs.Path(shardPath)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          val shardDirs = fs.listStatus(new org.apache.hadoop.fs.Path(shardPath))
            .filter(s => s.isDirectory && s.getPath.getName.startsWith("shard="))
          val maxFiles = shardDirs.map(d => fs.listStatus(d.getPath)
            .count(f => f.getPath.getName.endsWith(".parquet"))).max
          val inRows = docs.count()
          println(s"[rehearsal] shards: nShards=${m.length} dirs=${shardDirs.length} " +
            s"totalRows=$totalRows inputRows=$inRows fullExceptLast=$fullExceptLast " +
            s"maxFilesPerShard=$maxFiles (manifest==disk: ${totalRows == inRows}, " +
            "one file per shard expected)")
          m.length.toLong
        }
      } finally {
        val p = new org.apache.hadoop.fs.Path(shardPath)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }

    // quality classifier at reps×: the trainer reads a bounded
    // deterministic sample (top-k by hash order — the corpus scan
    // grows, the sample and the GD cost do not), scoring is one
    // codegen map stage that tracks the corpus linearly.
    if (selected("quality")) {
      import graft.operators.QualityModel
      def weightsOf(d: DataFrame): (QualityModel.Weights, Double) = {
        val t0 = System.nanoTime()
        val labeled = TextAnalysis.qualityScore(d, "doc_id", "text")
          .withColumn("good", col("quality") >= 0.451117)
          .select(col("doc_id"), col("good"))
          .join(QualityModel.features(d, "doc_id", "text"), Seq("doc_id"))
        val w = QualityModel.train(labeled, "doc_id",
          QualityModel.featureColumns(col("text")).map(_._1), "good")
        (w, (System.nanoTime() - t0) / 1e9)
      }
      val (w1, t1) = weightsOf(docs0)
      val (wN, tN) = weightsOf(docs)
      println(f"[rehearsal] quality train: 1x=$t1%.2f s, ${reps}x=$tN%.2f s " +
        f"(bounded-sample trainer; ratio=${tN / t1}%.2f — must stay far " +
        f"under $reps; weights dim=${wN.w.length})")
      timed(s"quality score (${reps}x corpus, frozen 1x weights)") {
        forceCount(QualityModel.score(docs, "doc_id", "text", w1))
      }
    }

    // LM family at reps×: training is two linear corpus scans whose
    // aggregation OUTPUT is closed-alphabet-bounded (unlike the
    // sampled trainers it is not constant-cost, but the shuffle
    // carries ≤(V+1)² keys with map-side partials — the collect can
    // never grow); scoring with a frozen 1× model is one shuffle-free
    // codegen map stage, so it must track the corpus linearly.
    // Divergence is one union scan + one bounded aggregation.
    if (selected("lm")) {
      import graft.operators.LanguageModel
      def lmTrain(d: DataFrame): (LanguageModel.BigramLm, Double) = {
        val t0 = System.nanoTime()
        val lm = LanguageModel.train(d, "doc_id", "text")
        (lm, (System.nanoTime() - t0) / 1e9)
      }
      val (lm1, t1) = lmTrain(docs0)
      val (lmN, tN) = lmTrain(docs)
      println(f"[rehearsal] lm train: 1x=$t1%.2f s, ${reps}x=$tN%.2f s " +
        f"(ratio=${tN / t1}%.2f vs corpus ratio $reps; model sizes " +
        s"uni=${lm1.unigrams.size}/${lmN.unigrams.size} " +
        s"big=${lm1.bigrams.size}/${lmN.bigrams.size} — bounded by the " +
        "closed alphabet, not the corpus)")
      timed(s"lm score (${reps}x corpus, frozen 1x model)") {
        forceCount(LanguageModel.perplexity(docs, "doc_id", "text", lm1))
      }
      timed(s"lm divergence (${reps}x even/odd halves)") {
        forceCount(LanguageModel.divergence(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text"))
      }
    }

    // r15 curation operators at reps×: boilerplate strip (df
    // aggregate + one corpus reshuffle by doc — must scale like the
    // dedup family; on the replicated corpus EVERY span is cross-doc
    // duplicated, the maximum-drop stress case) and the token-budget
    // mixture (per-label boundary-bucket windows — the windowed
    // fraction must stay ~1/256 of each label as the corpus grows).
    if (selected("curate")) {
      timed(s"curate strip_boilerplate (${reps}x, max-drop stress)") {
        val out = TextAnalysis.stripBoilerplate(docs, "doc_id", "text")
          .localCheckpoint()
        val st = out.agg(sum(col("n_spans")).as("n"),
          sum(col("kept_spans")).as("k")).head()
        println(s"[rehearsal] strip_boilerplate: spans=${st.getLong(0)} " +
          s"kept=${st.getLong(1)} (every 32-aligned span is shared across " +
          "replicas and must drop; only each doc's final span — carrying " +
          "the unique rep suffix — survives, so kept ≈ docs)")
        forceCount(out)
      }
      // stride-1 substring duplication under maximum duplication
      // density: every window of every replica collides cross-replica,
      // so the dup-start set is the ENTIRE window set — the interval-
      // merge fold and the digest shuffle carry their worst case
      timed(s"curate dedup_substring (${reps}x, max dup density)") {
        val out = Dedup.substringDuplication(docs, "doc_id", "text")
          .localCheckpoint()
        val st = out.agg(sum(col("dup_windows")).as("w"),
          sum(col("covered_tokens")).as("c"), sum(col("n_tokens")).as("n")).head()
        println(s"[rehearsal] dedup_substring: dup_windows=${st.getLong(0)} " +
          s"covered=${st.getLong(1)} of ${st.getLong(2)} tokens " +
          "(replica bodies fully covered expected)")
        forceCount(out)
      }
      // r16: the REMOVAL side at exact-copy duplication density. A
      // dedicated exact-replica relation (same text, shifted ids — no
      // per-replica suffix) makes the outcome fully closed-form:
      // every window of every long doc is cross-replica duplicated,
      // so clean keeps EXACTLY 0 tokens for docs with >= k tokens and
      // all n for window-less short docs (n < k) — computable from
      // the 1x corpus alone, before the operator runs. The closed
      // form needs >= 2 replicas (at reps=1 the base corpus's own
      // natural dup structure decides coverage — not closed-form), so
      // the stage skips below that rather than spuriously aborting.
      if (reps >= 2) timed(s"curate dedup_substring_clean (${reps}x exact copies)") {
        val exact = (0 until reps).map(r =>
            docs0.select((col("doc_id") + lit(r * 10000001L)).as("doc_id"),
              col("text")))
          .reduce(_ unionByName _).repartition(cpus.toInt).localCheckpoint()
        val shortTok = docs0
          .select(size(split(col("text"), " ")).cast("long").as("n"))
          .filter(col("n") < 25).agg(coalesce(sum(col("n")), lit(0L)))
          .head.getLong(0)
        val out = Dedup.removeDuplicateSubstrings(exact, "doc_id", "text",
          k = 25).localCheckpoint()
        val st = out.agg(sum(col("kept_tokens")).as("k"),
          sum(when(col("n_tokens") >= 25 && col("kept_tokens") =!= 0L, 1L)
            .otherwise(0L)).as("bad")).head()
        val expected = shortTok * reps
        println(s"[rehearsal] substring_clean: kept=${st.getLong(0)} " +
          s"(closed form: $reps x $shortTok short-doc tokens = $expected; " +
          s"long docs keeping anything: ${st.getLong(1)})")
        require(st.getLong(0) == expected && st.getLong(1) == 0L,
          s"expected kept=$expected with zero long-doc survivors, " +
            s"got ${st.getLong(0)} / ${st.getLong(1)}")
        forceCount(out)
      }
      timed(s"curate mix_token_budget (${reps}x, 3 labels)") {
        val labeled = docs.select(col("doc_id"),
          concat(lit("src"), pmod(col("doc_id"), lit(3))).as("label"),
          length(col("text")).cast("long").as("cost"))
        val n = forceCount(graft.operators.Selection.mixTokenBudget(
          labeled, "doc_id", "label", "cost",
          Map("src0" -> 50000L * reps, "src1" -> 20000L * reps,
            "src2" -> Long.MaxValue / 4)))
        n
      }
    }

    // r15b: fuzzy decontamination at reps× — the corpus side grows,
    // the eval side stays benchmark-sized (the production asymmetry).
    // On the replicated corpus every replica of an eval-slice doc is a
    // planted near-dup of its original (suffix-shifted J ≈ 0.9), so
    // hits must track reps × |slice| — output linear in corpus, join
    // legs bounded by the eval prefix index.
    if (selected("decon")) {
      val eval0 = docs0.filter(col("doc_id") % 17 === 0)
        .select(col("doc_id").as("eval_id"), col("text"))
      timed(s"decon fuzzy (${reps}x corpus vs fixed eval slice)") {
        val out = Dedup.crossNgramJaccard(docs, "doc_id", eval0, "eval_id",
            "text")
          .filter(col("doc_id") =!= col("eval_id")).localCheckpoint()
        val n = out.count()
        val evN = eval0.count()
        println(s"[rehearsal] decon_fuzzy: hits=$n eval=$evN " +
          s"(every replica of an eval doc is a planted leak: expect " +
          s"≥ ${(reps - 1)} per eval doc)")
        // closed-form FLOOR, enforced (r16): each eval doc's reps-1
        // non-identical replicas sit at J ≈ 0.9 ≥ the threshold, so
        // hits must reach (reps-1)·|eval| — a prefix-index or
        // cross-join drift that silently drops candidates fails here
        // rather than surviving as a smaller-but-plausible count
        require(n >= (reps - 1).toLong * evN,
          s"expected >= ${(reps - 1).toLong * evN} planted cross hits, got $n")
        n
      }
    }

    // r15b: perceptual-hash image dedup at reps× — the generator's
    // parameter space caps at a few thousand distinct patterns, so
    // hash groups GROW with reps and the d<=3 pair output goes
    // quadratic within groups (the dup-dense stress, documented in
    // SURVEY §8.2: production groups identical hashes first and
    // clusters, never materializing within-group pairs). What this
    // stage pins: encode+hash stays linear, and the emitted pair
    // count matches the hash-group structure.
    if (selected("phash")) {
      timed(s"phash encode+hash+dedup (${reps}x synthetic images, d<=3)") {
        val media = Multimodal.syntheticPatternMedia(docs.select(col("doc_id")))
        val hashes = Multimodal.perceptualHash(spark, media).localCheckpoint()
        val distinctH = hashes.select(col("phash")).distinct().count()
        // deliberate quadratic measurement: maxPairsPerDoc = 0 opts
        // out of the dup-density guard this stage exists to motivate;
        // the guard-fires assertion below pins the default behavior
        val n = forceCount(Multimodal.phashNearDup(hashes, maxHamming = 3,
          maxPairsPerDoc = 0))
        println(s"[rehearsal] phash: images=${hashes.count()} " +
          s"distinct_hashes=$distinctH pairs(d<=3)=$n")
        // the guard's trigger is IDENTICAL-hash pairs (its documented
        // lower bound), not total Hamming<=3 pairs — assert on exactly
        // the quantity it measures, or a near-but-unequal-hash-heavy
        // corpus would spuriously flunk this require
        val idPairs = hashes.groupBy(col("phash"))
          .agg(count(lit(1)).as("g"))
          .agg(sum(col("g") * (col("g") - 1))).head.getLong(0) / 2
        if (idPairs > 16L * hashes.count()) {
          val e = try {
            Multimodal.phashNearDup(hashes, maxHamming = 3); null
          } catch { case ex: IllegalArgumentException => ex }
          require(e != null && e.getMessage.contains("dup-dense"),
            "dup-density guard did NOT fire on a corpus with " +
              s"$idPairs identical-hash pairs — the mechanical trap " +
              "protection is broken")
          println("[rehearsal] phash: default guard fires on this " +
            "dup-dense corpus (as designed): " + e.getMessage.take(120))
        }
        n
      }
      timed(s"phash CLUSTER path (${reps}x images, no pair materialization)") {
        val media = Multimodal.syntheticPatternMedia(docs.select(col("doc_id")))
        val hashes = Multimodal.perceptualHash(spark, media).localCheckpoint()
        val out = Multimodal.phashDedup(hashes, maxHamming = 3)
          .localCheckpoint()
        val st = out.agg(count(lit(1)).as("n"),
          countDistinct(col("cluster")).as("c"),
          sum(when(col("is_survivor"), 1L).otherwise(0L)).as("s")).head()
        println(s"[rehearsal] phash clusters: images=${st.getLong(0)} " +
          s"clusters=${st.getLong(1)} survivors=${st.getLong(2)} " +
          "(partition invariant: survivors == clusters; the pair-path " +
          "row above materializes the quadratic relation this path avoids)")
        require(st.getLong(1) == st.getLong(2),
          s"survivors ${st.getLong(2)} != clusters ${st.getLong(1)}")
        // r16: ITERATION-COUNT evidence for the label propagation —
        // re-run the component step alone over the same rep-level pair
        // relation phashDedup band-joins internally (distinct hashes →
        // min-id reps → Hamming <= 3 pairs) and record the observed
        // pointer-jumping round count at replicated cluster density:
        // the O(log d) claim, measured. The cluster count must agree
        // with the full operator's.
        val reps_ = hashes.groupBy(col("phash"))
          .agg(min(col("media_id")).as("media_id")).localCheckpoint()
        val repPairs = Multimodal.phashNearDup(reps_, maxHamming = 3)
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
        val (lbl, iters) = Dedup.duplicateClustersWithIters(repPairs)
        val comp = lbl.select(col("cluster")).distinct().count() +
          reps_.join(lbl, reps_.col("media_id") === lbl.col("doc"), "left_anti")
            .count()
        println(s"[rehearsal] phash clusters: label propagation " +
          s"converged in $iters rounds at ${reps}x density " +
          s"(components incl. singletons=$comp vs operator ${st.getLong(1)})")
        require(iters <= 10,
          s"pointer jumping took $iters rounds — O(log d) claim broken?")
        require(comp == st.getLong(1),
          s"component recount $comp != operator clusters ${st.getLong(1)}")
        st.getLong(0)
      }
      timed(s"phash audio encode+hash+dedup (${reps}x modulated WAVs, d<=3)") {
        val audio = Multimodal.syntheticModulatedAudio(docs.select(col("doc_id")))
        val hashes = Multimodal.audioEnvelopeHash(spark, audio).localCheckpoint()
        val distinctH = hashes.select(col("phash")).distinct().count()
        val n = forceCount(Multimodal.phashNearDup(hashes, maxHamming = 3,
          maxPairsPerDoc = 0))
        println(s"[rehearsal] phash audio: wavs=${hashes.count()} " +
          s"distinct_hashes=$distinctH pairs(d<=3)=$n")
        n
      }
    }

    // r15b: DSIR importance resampling at reps× — the trainer's
    // aggregation output (and collect) is closed-alphabet-bounded
    // like the LM trainer's, scoring with a frozen 1× model is one
    // shuffle-free codegen map stage, and the selection is
    // TakeOrdered top-k, so the output is EXACTLY k at any scale.
    // The replicated corpus has no lang column; doc_id parity is the
    // synthetic target (replica offsets keep ~half of each replica in
    // the target, so the distributions stay non-degenerate).
    if (selected("importance")) {
      import graft.operators.ImportanceSampling
      def isrTrain(d: DataFrame): (ImportanceSampling.RatioModel, Double) = {
        val t0 = System.nanoTime()
        val m = ImportanceSampling.train(d, pmod(col("doc_id"), lit(2)) === 0,
          "text")
        (m, (System.nanoTime() - t0) / 1e9)
      }
      val (m1, t1) = isrTrain(docs0)
      val (mN, tN) = isrTrain(docs)
      println(f"[rehearsal] importance train: 1x=$t1%.2f s, ${reps}x=$tN%.2f s " +
        f"(ratio=${tN / t1}%.2f vs corpus ratio $reps; model sizes " +
        s"${m1.ratio.size}/${mN.ratio.size} — bounded by the closed " +
        "alphabet, not the corpus)")
      timed(s"importance score+resample (${reps}x corpus, k=100)") {
        val sel = ImportanceSampling.resampleTopK(
          ImportanceSampling.logWeights(docs, "doc_id", "text", m1),
          "doc_id", k = 100, seed = "dsir")
        val n = forceCount(sel)
        require(n == 100L, s"top-k must stay k rows, got $n")
        n
      }
      // r16: the bigram (context-aware) DSIR variant at reps× — two
      // bounded-alphabet LM trainers (model sizes must stay closed-
      // alphabet-bounded as the corpus grows) feeding TWO BigramNll
      // kernels in one shuffle-free codegen map stage, then the same
      // Gumbel top-k whose output is EXACTLY k rows at any scale.
      if (selected("importance")) {
        import graft.operators.LanguageModel
        def lmTrain(d: DataFrame): (LanguageModel.BigramLm, Double) = {
          val t0 = System.nanoTime()
          val m = LanguageModel.train(d, "doc_id", "text",
            vocabSize = 64, alpha = 0.5)
          (m, (System.nanoTime() - t0) / 1e9)
        }
        val (lmR, tR) = lmTrain(docs)
        val (lmT, tT) = lmTrain(docs.filter(pmod(col("doc_id"), lit(2)) === 0))
        println(f"[rehearsal] importance bigram train: raw=$tR%.2f s " +
          f"target=$tT%.2f s at ${reps}x (vocab ${lmR.vocab.size}/" +
          s"${lmT.vocab.size}, bigram tables ${lmR.bigrams.size}/" +
          s"${lmT.bigrams.size} — bounded by the closed alphabet, " +
          "not the corpus)")
        timed(s"importance bigram score+resample (${reps}x corpus, k=100)") {
          def nllOf(m: LanguageModel.BigramLm) =
            graft.functions.LmExprs.bigramNll(col("text"), m.vocab.toArray,
              m.unigrams.toArray, m.bigrams.toArray, m.alphabetSize, m.alpha)
          val n1 = greatest(size(split(col("text"), " ")) - 1, lit(0))
            .cast("double")
          val lw = docs.select(col("doc_id"),
            coalesce(n1 * (nllOf(lmR) - nllOf(lmT)), lit(0.0)).as("log_weight"))
          val n = forceCount(ImportanceSampling.resampleTopK(
            lw, "doc_id", k = 100, seed = "dsir2"))
          require(n == 100L, s"bigram top-k must stay k rows, got $n")
          n
        }
      }
    }

    // r15b: cluster-balanced sampling at reps× — replicas share every
    // vector DIRECTION, so each replica lands in its original's sketch
    // cell: cell sizes scale ×reps while the capped output stays
    // EXACTLY cells×k — the closed-form row count, with the bounded
    // TopKAgg carrying reps× input through the same O(cells·k)
    // shuffle.
    if (selected("cluster_sample")) {
      // the 1× cell-set reference runs OUTSIDE the timed region — the
      // timed number must be the reps× workload alone
      val planes = Sampling.sketchPlanes(3, 64, "cb")
      // 1× per-cell sizes (uncapped pass): the closed form at reps× is
      // Σ_cells min(25, size1(c)·reps) — a cell whose replicated
      // population stays under the cap keeps all its rows, so assuming
      // every cell saturates (cells×25) would abort spuriously on any
      // small cell (r15 ADVICE).
      val sizes1 = Sampling.clusterBalancedSample(emb0
          .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("embedding")),
        "vec_id", "embedding", planes, k = 65536, seed = "cbs")
        .groupBy(col("cluster")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // the "uncapped" reference pass is only uncapped below the
      // sampler's own k cap: a 1x cell at/over 65536 rows would be
      // silently truncated and shrink the closed form — fail loud
      // instead of aborting spuriously later (r16 ADVICE)
      require(sizes1.values.max < 65536,
        s"1x reference cell of ${sizes1.values.max} rows reaches the " +
          "k=65536 sampler cap — compute sizes1 via a plain " +
          "groupBy-count on the sketch cells for this fixture")
      val cells1 = sizes1.size.toLong
      val expected = sizes1.values.map(s => math.min(25L, s * reps)).sum
      timed(s"cluster_sample balanced (${reps}x vectors, k=25)") {
        val out = Sampling.clusterBalancedSample(emb, "vec_id", "embedding",
          planes, k = 25, seed = "cbs").localCheckpoint()
        val n = out.count()
        val cellsN = out.select(col("cluster")).distinct().count()
        println(s"[rehearsal] cluster_balanced: cells 1x=$cells1 ${reps}x=$cellsN " +
          s"rows=$n (closed form: sum over cells of min(25, size1 x $reps) " +
          s"= $expected — replicas keep direction, so the cell set cannot grow)")
        require(cellsN == cells1 && n == expected,
          s"expected $expected rows in $cells1 cells, got $n in $cellsN")
        n
      }
    }

    // Flagship COO-algebra rehearsal — the core §2 path
    // (scan→one_hot→groupby_sum, add_outer, join_axis1), the one
    // family that had no scale evidence beyond sf0.1. Unlike the
    // in-memory replication above, this stage writes a real ON-DISK
    // parquet fixture per scale (user AND event id spaces shifted per
    // replica, so row count and key cardinality both grow — the
    // realistic scale-up), because the claim under test includes the
    // scan itself: column pruning reaches parquet and the chain stays
    // one shuffle as the fixture grows. At reps=30 over sf0.1 this is
    // the ~sf3 smoke (3M events). Prints per-scale wall time, output
    // rows (closed-form: users×types for groupby legs), and the
    // SHUFFLE COUNT of each executed plan — linearity plus a constant
    // exchange count is the 100 TB argument for the core algebra.
    if (selected("coo")) {
      import graft.core.{AlignHow, ColUniverse, SparseRel}
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      // counts shuffle exchanges in the EXECUTED plan (post-AQE):
      // AQE materializes exchanges as QueryStageExec LEAF nodes (their
      // children list is empty), so the walk must descend into each
      // stage's wrapped plan; a ReusedExchange or AQEShuffleRead
      // wrapper is not a second shuffle — only ShuffleExchangeLike
      // nodes count
      def shuffles(df: DataFrame): Int = {
        def walk(p: SparkPlan): Int = p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case s: QueryStageExec => walk(s.plan)
          case q =>
            (if (q.isInstanceOf[ShuffleExchangeLike]) 1 else 0) +
              q.children.map(walk).sum
        }
        walk(df.queryExecution.executedPlan)
      }
      def timedPlan(name: String)(df: => DataFrame): Unit = {
        val t0 = System.nanoTime()
        val frame = df
        val rows = forceCount(frame)
        println(f"[rehearsal] $name%-44s ${(System.nanoTime() - t0) / 1e9}%8.2f s  " +
          f"rows=$rows shuffles=${shuffles(frame)}")
      }
      val evSrc = Tables.events(spark, sfDir)
      val offs = evSrc.agg(max(col("event_id")).as("e"), max(col("user_id")).as("u")).head()
      val (eventOffset, userOffset) = (offs.getLong(0) + 1L, offs.getLong(1) + 1L)
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_rehearsal_coo_${ProcessHandle.current().pid()}").getAbsolutePath
      try {
        // 1× / ~sf1 / ~sf3 (reps=30 over sf0.1) — a three-point
        // series so linearity is a measured slope, not a two-point line
        Seq(1, math.max(reps / 3, 2), reps).distinct.foreach { scale =>
          val path = s"$base/x$scale"
          val tW0 = System.nanoTime()
          (0 until scale).map(r => evSrc
              .withColumn("event_id", col("event_id") + lit(r * eventOffset))
              .withColumn("user_id", col("user_id") + lit(r * userOffset)))
            .reduce(_ unionByName _)
            .repartition(cpus.toInt)
            .write.mode("overwrite").parquet(path)
          val ev = spark.read.parquet(path)
          println(f"[rehearsal] coo fixture x$scale written in " +
            f"${(System.nanoTime() - tW0) / 1e9}%.2f s (${ev.count()} events)")
          def half(even: Boolean, prefix: String): SparseRel = {
            val parity = if (even) 0 else 1
            SparseRel(ev.filter(col("event_id") % 2 === parity)
                .select(col("user_id"),
                  concat(lit(prefix), col("event_type")).as(SparseRel.COL),
                  lit(1.0).as(SparseRel.VALUE)),
              Seq("user_id"),
              ColUniverse.Explicit(Tables.EventTypes.map(prefix + _)))
              .groupbySum()
          }
          timedPlan(s"coo x$scale flagship scan->coo->groupby_sum") {
            SparseRel.scanEvents(ev, "event_type", Seq("user_id"),
              Some(Tables.EventTypes)).groupbySum().df
          }
          timedPlan(s"coo x$scale one_hot") {
            SparseRel.oneHot(ev, "event_type", Tables.EventTypesPlusZero,
              Seq("event_id")).df
          }
          timedPlan(s"coo x$scale add_outer (aligned halves)") {
            half(even = true, "").add(half(even = false, ""), AlignHow.Outer).df
          }
          timedPlan(s"coo x$scale join_axis1_outer") {
            half(even = true, "a_")
              .joinAxis1(half(even = false, "b_"), AlignHow.Outer).df
          }
        }
      } finally {
        val p = new org.apache.hadoop.fs.Path(base)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }

    if (selected("skew")) {
    // Skew-guard evidence: rebuild the probe-leg bucket histogram with
    // the operator's ACTUAL derivation (`Similarity.derivedPlanes` /
    // `tableSeed` — the same definitions nearestDupLsh calls, so a
    // retune of the operator can never silently diverge from what
    // this histogram measures) and report how many buckets exceed
    // each salting threshold.
    val n = emb.count()
    val d = emb.select(size(col("embedding")).as("d")).filter(col("d") > 0)
      .limit(1).collect().head.getInt(0)
    val planes = Similarity.derivedPlanes(n)
    val allPlanes = (0 until 8).map(t =>
      Similarity.hyperplanes(planes, d, seed = Similarity.tableSeed(t)))
    val hist = emb.select(col("vec_id"),
        explode(Similarity.tableProbeKeys(col("embedding"), allPlanes, 2))
          .as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("bc"))
      .agg(max(col("bc")).as("max_bc"),
        sum(when(col("bc") > 4096, 1).otherwise(0)).as("hot_4096"),
        sum(when(col("bc") > 256, 1).otherwise(0)).as("hot_256"),
        count(lit(1)).as("n_buckets"))
      .head()
    println(s"[rehearsal] skew: n=$n planes=$planes tables=8 " +
      s"buckets=${hist.getLong(3)} maxBucket=${hist.getLong(0)} " +
      s"hot>4096=${hist.getLong(1)} hot>256=${hist.getLong(2)} " +
      s"(noSalt would need n<=maxBucket: ${n <= 4096})")
    }
    spark.stop()
  }
}
