package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (builder brief):
  * per-document statistics, quality scoring, token counting, n-gram
  * language scoring, and rolling-hash fingerprinting. All pure
  * Catalyst expressions — one narrow map stage over the corpus, no
  * shuffle at all until a caller aggregates.
  */
object TextAnalysis {

  /** Stopword markers per language for the n-gram/marker language-ID
    * heuristic. Public stopword lists, truncated to a handful each —
    * the op structure (score per language, argmax) is what matters. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "es" -> Seq("el", "la", "de", "que", "es"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "zh" -> Seq("的", "是", "了", "在", "和"))

  private def toks(text: Column): Column = split(text, " ")

  /** Per-document statistics: char count, token count, distinct-token
    * count, mean token length, stopword ratio. */
  def textStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = toks(col(textCol))
    val nTok = size(t).cast("double")
    val stops = Seq("a", "the", "and", "of", "to")
    docs.select(
      col(idCol),
      length(col(textCol)).cast("long").as("n_chars_calc"),
      size(t).cast("long").as("n_tokens"),
      size(array_distinct(t)).cast("long").as("n_distinct"),
      round((length(col(textCol)) - (size(t) - lit(1))).cast("double") / nTok, 6)
        .as("mean_tok_len"),
      round(size(filter(t, x => x.isin(stops: _*))).cast("double") / nTok, 6)
        .as("stop_ratio"))
  }

  /** Quality score in [0,1]: lexical diversity damped by stopword
    * density — the shape of the usual heuristic document-quality
    * filters (length/punct/stopword ratios), kept to components the
    * synthetic corpus actually exercises. */
  def qualityScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = toks(col(textCol))
    val nTok = size(t).cast("double")
    val stops = Seq("a", "the", "and", "of", "to")
    val diversity = size(array_distinct(t)).cast("double") / nTok
    val stopRatio = size(filter(t, x => x.isin(stops: _*))).cast("double") / nTok
    docs.select(col(idCol),
      round(diversity * (lit(1.0) - stopRatio), 6).as("quality"))
  }

  /** BPE-ish token counting: words, numbers, and punctuation runs
    * counted by one regex pass (the usual cheap proxy for tokenizer
    * cost before the real tokenizer runs). */
  def tokenCount(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      size(split(col(textCol), " ")).cast("long").as("ws_tokens"),
      regexp_count(col(textCol), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"))
        .cast("long").as("bpe_tokens"))

  /** Train a BPE merge list (Sennrich et al. 2016) on a bounded,
    * deterministic sample of the corpus — the quantizer-trainer
    * discipline ([[Similarity.trainIvfCentroids]]): train small on
    * the driver, FREEZE the model, apply distributed via the native
    * [[graft.functions.BpeTokens]] expression. Word frequencies come
    * from ≤`sampleSize` docs in xxhash64(id) order (partitioning- and
    * layout-independent); each round merges the most frequent
    * adjacent symbol pair (ties broken lexicographically, so training
    * is fully deterministic) and stops early when no pair repeats.
    * At 100 TB the sample stays the same size — training cost is a
    * constant, and a production run would persist the merges next to
    * the corpus the way [[Similarity.AnnIndex.write]] persists codes. */
  def trainBpeMerges(docs: DataFrame, idCol: String, textCol: String,
      numMerges: Int = 200, sampleSize: Int = 2000): Array[(String, String)] = {
    require(numMerges >= 0, "numMerges must be >= 0")
    val sample = docs
      .select(col(idCol).as("id"), col(textCol).as("t"))
      .filter(col("t").isNotNull)
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(sampleSize)
      .collect()
      .map(_.getString(1))
    // word -> frequency, word as symbol sequence (code points + </w>)
    val freq = new java.util.HashMap[String, Long]()
    sample.foreach { t =>
      // the SAME ASCII whitespace class as the apply kernel and the
      // oracle — Java \s and RE2 \s disagree on U+000B etc.
      t.split(graft.functions.Bpe.WsClass).foreach { w =>
        if (w.nonEmpty) freq.merge(w, 1L, (a, b) => a + b)
      }
    }
    var vocab: Map[Vector[String], Long] = {
      import scala.jdk.CollectionConverters._
      freq.asScala.map { case (w, n) =>
        (w.codePoints().toArray.map(cp =>
          new String(Character.toChars(cp))).toVector :+ "</w>") -> n
      }.toMap
    }
    val merges = Vector.newBuilder[(String, String)]
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      val counts = new java.util.HashMap[(String, String), Long]()
      vocab.foreach { case (syms, n) =>
        var i = 0
        while (i < syms.length - 1) {
          counts.merge((syms(i), syms(i + 1)), n, (a, b) => a + b)
          i += 1
        }
      }
      import scala.jdk.CollectionConverters._
      val candidates = counts.asScala.filter(_._2 >= 2)
      if (candidates.isEmpty) exhausted = true
      else {
        // max count; ties broken by the lexicographically smallest
        // pair — training is fully deterministic
        val top = candidates.values.max
        val best = candidates.collect { case (p, n) if n == top => p }.min
        merges += best
        vocab = vocab.map { case (syms, n) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == best._1 && syms(i + 1) == best._2) {
              out += (best._1 + best._2); i += 2
            } else { out += syms(i); i += 1 }
          }
          out.result() -> n
        }.groupMapReduce(_._1)(_._2)(_ + _)
        round += 1
      }
    }
    merges.result().toArray
  }

  /** BPE token relation under frozen merges: (id, n_words, n_tokens,
    * tokens). The real-token-budget upgrade of [[tokenCount]]'s regex
    * proxy; one narrow map stage, no shuffle. */
  def bpeTokens(docs: DataFrame, idCol: String, textCol: String,
      merges: Array[(String, String)]): DataFrame = {
    val toks = graft.functions.Bpe.tokens(col(textCol), merges)
    docs.select(col(idCol),
      size(filter(split(col(textCol), graft.functions.Bpe.WsClass), x => x =!= ""))
        .cast("long").as("n_words"),
      size(toks).cast("long").as("n_tokens"),
      toks.as("tokens"))
  }

  /** Marker-based language scores: for every language, the count of
    * marker-stopword hits; prediction = argmax (ties broken by
    * language order, 'und' when nothing matches). The distributed
    * shape of n-gram language-ID: per-row expression only. */
  def langId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = toks(col(textCol))
    val scored = LangMarkers.map { case (lang, markers) =>
      lang -> size(filter(t, x => x.isin(markers: _*)))
    }
    val best = scored.tail.foldLeft(
      struct(scored.head._2.as("s"), lit(scored.head._1).as("l"))) {
      case (acc, (lang, sc)) =>
        when(sc > acc.getField("s"), struct(sc.as("s"), lit(lang).as("l")))
          .otherwise(acc)
    }
    docs.select(
      (col(idCol) +:
        scored.map { case (lang, sc) => sc.cast("long").as(s"score_$lang") } :+
        when(best.getField("s") > 0, best.getField("l")).otherwise(lit("und"))
          .as("lang_pred")): _*)
  }

  /** Split documents into overlapping token-window chunks — the
    * context-window preprocessing step of a training pipeline. Emits
    * (id, chunk_id, chunk_text, chunk_tokens); chunks start every
    * `chunkSize - overlap` tokens, the last chunk may be short, and
    * chunks that would start past the end are not emitted. Pure
    * expressions: one generator per document, no shuffle. */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, overlap: Int): DataFrame = {
    require(chunkSize > overlap && overlap >= 0, "need chunkSize > overlap >= 0")
    val step = chunkSize - overlap
    val t = toks(col(textCol))
    docs
      .select(col(idCol), t.as("__t"))
      .select(col(idCol),
        posexplode(transform(
          sequence(lit(0), greatest(size(col("__t")) - 1, lit(0)), lit(step)),
          start => slice(col("__t"), start + 1, lit(chunkSize))))
          .as(Seq("chunk_id", "__chunk")))
      .filter(size(col("__chunk")) > 0)
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        concat_ws(" ", col("__chunk")).as("chunk_text"),
        size(col("__chunk")).cast("long").as("chunk_tokens"))
  }

  /** C4-style boilerplate removal: drop every non-overlapping
    * `spanTokens`-token span that occurs in more than `maxDf` distinct
    * documents (navigation chrome, license footers, templated headers
    * — the spans cross-document duplication identifies), then
    * reassemble each document from its surviving spans in order.
    * Returns (id, n_spans, kept_spans, clean_text); a fully-
    * boilerplate document keeps an empty string, not NULL, so
    * downstream filters can treat the column uniformly.
    *
    * Scale shape: the span relation is a narrow map (recomputed per
    * plan leg — cheaper at scale than materializing a corpus-sized
    * intermediate), the document-frequency aggregate and anti-join key
    * on the span text, and the per-document reassembly is ONE shuffle
    * of the corpus by document key (`collect_list` + `array_sort` —
    * the same cost class as any repartition-by-doc; there is no
    * global order anywhere). */
  def stripBoilerplate(docs: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 32, maxDf: Long = 1): DataFrame = {
    val spans = chunkDocuments(docs, idCol, textCol, spanTokens, 0)
      .select(col(idCol), col("chunk_id"), col("chunk_text"),
        sha2(col("chunk_text"), 256).as("__dg"))
    // document frequency aggregates over the 64-hex DIGEST, so raw
    // span text never enters the df shuffle (the paragraphDuplicates
    // discipline); the anti-join keys on the digest too
    val bad = spans.groupBy(col("__dg"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") > maxDf)
      .select(col("__dg"))
    val kept = spans.join(bad, Seq("__dg"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("kept_spans"),
        array_join(transform(
          array_sort(collect_list(struct(col("chunk_id"), col("chunk_text")))),
          s => s.getField("chunk_text")), " ").as("clean_text"))
    val totals = spans.groupBy(col(idCol)).agg(count(lit(1)).as("n_spans"))
    docs.select(col(idCol))
      .join(totals, Seq(idCol), "left")
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("kept_spans"), lit(0L)).as("kept_spans"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Repetition score: frequency of the most common word n-gram over
    * the total n-gram count (1.0 = the document is one repeated
    * phrase) — a standard low-quality/generated-text signal. */
  def repetitionScore(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    // stage the token array: HOF lambdas evaluate interpreted and would
    // re-split the text once per n-gram otherwise
    val grams = docs
      .filter(size(toks(col(textCol))) >= n)
      .select(col(idCol), toks(col(textCol)).as("__t"))
      .select(col(idCol),
        explode(transform(
          sequence(lit(0), size(col("__t")) - lit(n)),
          i => concat_ws(" ", slice(col("__t"), i + 1, lit(n))))).as("g"))
    grams.groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(round(max(col("c")).cast("double") / sum(col("c")), 6)
        .as("repetition"))
  }

  /** PII redaction: masks email addresses and long digit runs — the
    * regex-scrub pass pipelines run before training. Patterns are
    * plain enough to behave identically across regex engines. */
  def redactPii(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      regexp_replace(
        regexp_replace(col(textCol),
          lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"), lit("<EMAIL>")),
        lit("[0-9]{6,}"), lit("<NUM>")).as("redacted"))

  /** Corpus vocabulary: the `topK` most frequent tokens with counts
    * and document frequency — the vocab-building pass before
    * tokenizer training. One explode + two hash aggregates. */
  def vocabulary(docs: DataFrame, idCol: String, textCol: String,
      topK: Int): DataFrame =
    docs
      .select(col(idCol), explode(toks(col(textCol))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("cnt"),
        countDistinct(col(idCol)).as("doc_freq"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(topK)

  /** Per-token inverse document frequency over the corpus:
    * idf = ln(N / df). Smooth variants are a caller-side tweak; this
    * pins the distributed shape (distinct doc-term pairs → one
    * aggregate vs the corpus size). */
  def idf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val n = docs.select(col(idCol)).distinct()
      .agg(count(lit(1)).cast("double").as("__n"))
    docs
      .select(col(idCol), explode(array_distinct(toks(col(textCol)))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).cast("double").as("__df"))
      .crossJoin(broadcast(n))
      .select(col("tok"), col("__df").cast("long").as("doc_freq"),
        round(log(col("__n") / col("__df")), 6).as("idf"))
  }

  /** Benchmark-contamination check: which documents contain any of the
    * probe strings (exact substring match)? The probe set is tiny and
    * rides as literals — one codegen'd scan, no join. The standard
    * eval-decontamination pass before training. */
  def contamination(docs: DataFrame, idCol: String, textCol: String,
      probes: Seq[String]): DataFrame = {
    require(probes.nonEmpty, "need at least one probe string")
    val hits = probes.zipWithIndex.map { case (p, i) =>
      when(col(textCol).contains(p), lit(i))
    }
    docs
      .select(col(idCol),
        explode(array_compact(array(hits: _*))).as("probe_id"))
  }

  /** Rolling-hash document fingerprint: minimum Karp–Rabin hash over
    * all `w`-byte windows (min-sampling; deterministic). A native
    * codegen'd expression — ONE O(len) pass per document, where the
    * previous interpreted `transform(sequence, xxhash64(substr))`
    * chain re-hashed w bytes per window (O(len·w)). Documents shorter
    * than `w` hash whole. */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 16): DataFrame =
    docs.select(col(idCol),
      graft.functions.HashExprs.rollingMinHash(col(textCol), w).as("fp"))

  /** TRUE winnowing fingerprint (the MOSS scheme): the sorted distinct
    * minima of every window of `g` consecutive `w`-byte rolling
    * hashes. Guarantee: two documents sharing any substring of at
    * least `w + g - 1` bytes share a fingerprint value, so
    * intersecting fingerprint arrays (or exploding to an inverted
    * (fp → doc) index and equi-joining, the 100 TB shape) detects
    * PARTIAL overlap — plagiarism/quotation/boilerplate — not just
    * whole-document similarity. Density is ~2/(g+1) selected hashes
    * per position, so the fingerprint is ~len/4 longs at the default
    * g=7 instead of one hash per byte position. */
  def fingerprintWinnow(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 16, g: Int = 7): DataFrame =
    docs.select(col(idCol),
      graft.functions.HashExprs.winnowHashes(col(textCol), w, g).as("fps"))

  /** Bloom-filter decontamination: score every corpus document against
    * the n-gram set of a benchmark/eval relation WITHOUT joining the
    * corpus — the 100 TB shape for eval-set decontamination. The
    * benchmark side (small by nature: eval sets are fixed and tiny
    * relative to training corpora) is aggregated once into a Bloom
    * filter over its shingle hashes, which rides to every executor
    * inside a native expression ([[graft.functions.BloomLongHits]]);
    * each corpus document is then scored in place during the scan —
    * its n-grams never shuffle, and no corpus-sized join exists in the
    * plan. Contrast [[contamination]], which is exact but carries the
    * probe strings as literals and only scales to a handful of probes.
    *
    * Guarantees: ZERO false negatives (every document truly sharing an
    * n-gram with the benchmark reports `contaminated`), false
    * positives bounded by `fpp` per n-gram (default 1e-6: a 1000-gram
    * document is falsely flagged with p ≈ 1e-3; tighten fpp for
    * aggressive-drop pipelines). Output: (id, bloom_hits,
    * contaminated). Deterministic given (benchmark n-gram set, fpp) —
    * Spark's Bloom build is order-independent bit-OR aggregation.
    * Driver-visible via `decontaminate_bloom_cert`, which checks both
    * guarantees against the exact shingle join. */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String,
      n: Int = 3, fpp: Double = 1e-6): DataFrame = {
    val benchHashes = benchmark.select(
      explode(Dedup.shingleHashes(col(benchTextCol), n)).as("h"))
    // expectedNumItems sizes the bitset; one count over the (small)
    // benchmark side keeps the build deterministic and honestly sized.
    // An EMPTY n-gram set (empty benchmark, or every doc shorter than
    // n tokens) short-circuits to all-clean: nothing can be a member,
    // and Spark's stat.bloomFilter NPEs on an empty input relation.
    val nItems = benchHashes.distinct().count()
    if (nItems == 0L)
      corpus.select(col(idCol), lit(0).as("bloom_hits"),
        lit(false).as("contaminated"))
    else {
      val bloom = benchHashes.stat.bloomFilter("h", nItems, fpp)
      // a NULL text has no n-grams → clean (bloom_hits 0), matching
      // the exact-join semantics and the empty-benchmark branch — the
      // kernel's NULL would otherwise make null-text rows vanish from
      // BOTH keep-clean and keep-contaminated filters
      corpus.select(col(idCol),
          coalesce(graft.functions.BloomLongHits.hits(
            Dedup.shingleHashes(col(textCol), n), bloom), lit(0))
            .as("bloom_hits"))
        .withColumn("contaminated", col("bloom_hits") > 0)
    }
  }

  /** Document pairs sharing at least `minShared` winnowing fingerprint
    * values — PARTIAL-overlap detection (boilerplate, quotation,
    * licence headers, copy-paste) that whole-document similarity ops
    * miss when the rest of the documents differ. The 100 TB shape is
    * an inverted (fp → doc) index: explode each document's fingerprint
    * array, self-equi-join on the hash value — candidate pairs meet
    * only inside one fingerprint bucket, never all-pairs — then count
    * shared values per pair with one hash aggregate. A single
    * boilerplate hash shared by k documents contributes k²/2 pairs, so
    * ubiquitous fingerprints (present in more than `maxDocFreq` docs)
    * are dropped first — the standard stop-fingerprint guard, which
    * also removes exactly the values that carry no overlap signal. */
  def overlapPairs(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 16, g: Int = 7, minShared: Int = 2,
      maxDocFreq: Int = 1000): DataFrame = {
    // Pair generation via ONE per-bucket aggregation instead of the
    // former two-leg self-join (r21, guide §2.4), and — for the
    // integral-id case every declared query hits — that aggregation is
    // a BOUNDED capped collect fused with the stop-fingerprint guard
    // (r22, §2.3/§2.4): collect up to maxDocFreq+1 docs per
    // fingerprint (the cap is what makes the collect spill-safe — a
    // ubiquitous fingerprint costs O(cap) buffer, never O(bucket)),
    // drop buckets that hit the cap (exactly the df > maxDocFreq
    // stop-fingerprints — their member lists may be truncated, but
    // they are discarded, and kept buckets are provably complete), and
    // generate each bucket's value-ordered pairs with the native
    // OrderedPairs kernel (one n²/2 walk; the former double explode
    // materialized all n² ordered position pairs — the first explode
    // copying the bucket array into each row — then filtered half
    // away). vs r21 this removes one full pass over the posting
    // relation (the separate df histogram + its broadcast semi-join)
    // and the posting checkpoint: the corpus is winnow-hashed and the
    // postings cross the network exactly once. Pair multiset
    // unchanged (oracle-green): per bucket each unordered doc pair
    // with distinct ids yields exactly one (min, max) pair, equal ids
    // yield none — identical to explode×explode + a<b.
    val docType = docs.schema(idCol).dataType
    // The winnow-hash kernel input is SPREAD to session parallelism
    // when the scan provides fewer partitions (r22, §2.5): a
    // single-split fixture serialized the whole rolling-hash pass onto
    // one core (profiled 0.72 s single-task job). The text payload
    // crosses that conditional exchange ONCE and is consumed once —
    // the fused aggregation below is the postings' only reader — so
    // the r21 trainer-spread trap (payload re-shuffled per consuming
    // pass) does not apply; at warehouse scale the condition no-ops.
    val inv0 = fingerprintWinnow(Scale.spreadForKernel(docs, col(idCol)),
        idCol, textCol, w, g)
      .select(col(idCol).as("doc"), explode(col("fps")).as("fp"))
    if (docType == org.apache.spark.sql.types.LongType) {
      val cap = if (maxDocFreq == Int.MaxValue) maxDocFreq else maxDocFreq + 1
      inv0
        .groupBy(col("fp"))
        .agg(graft.functions.CappedListAgg.capped_list(cap)(col("doc")).as("ds"))
        .filter(size(col("ds")) <= maxDocFreq)
        .select(explode(graft.functions.PairExprs.orderedPairs(col("ds"))).as("p"))
        .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= minShared)
    } else {
      // generic-id fallback: the r21 shape (histogram + semi-join +
      // collect_list + double explode). The checkpoint stages the one
      // hash pass that both the histogram and the bucket collect read.
      val inv = inv0.localCheckpoint()
      inv.join(
          inv.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
            .filter(col("__df") <= maxDocFreq)
            .select(col("fp")),
          Seq("fp"))
        .groupBy(col("fp")).agg(collect_list(col("doc")).as("ds"))
        .select(explode(col("ds")).as("a"), col("ds"))
        .select(col("a"), explode(col("ds")).as("b"))
        .filter(col("a") < col("b"))
        .groupBy(col("a").as("doc_a"), col("b").as("doc_b"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= minShared)
    }
  }

  /** Per-document top-`k` overlap partners — the PRODUCTION variant of
    * [[overlapPairs]] for corpora where duplication is dense. The full
    * pair relation is quadratic in duplicate density (a boilerplate
    * cluster of c documents emits c²/2 pairs: measured 11.2M pairs at
    * the 10× rehearsal, 93.7M at 30×), which at 100 TB explodes the
    * SINK even though the bucketed join itself is bounded; downstream
    * consumers (dedup routing, provenance reports) almost always want
    * "who does this document overlap MOST", which is O(N·k) output by
    * construction. Each undirected pair is exploded into both
    * directions ONCE (no second pass over the join), then reduced per
    * document by a BOUNDED top-k aggregate
    * ([[graft.functions.TopKAgg]], shared desc / partner asc —
    * deterministic tie-break): partial aggregation caps each task's
    * contribution at k rows per doc BEFORE the exchange, so the
    * shuffle is O(N·k) like the output — a `row_number` window here
    * would shuffle the full directed pair set (~200× more rows than
    * emitted at the 30× rehearsal) into a per-doc sort first.
    * Output (doc, partner, shared, rank), rank 1..k.
    * The full pair set remains the certificate path
    * (`overlap_recall_cert`); this is the relation a pipeline sinks.
    * `overlapTopKOf` exposes the rank step on an existing pair
    * relation so a session computing both the certificate and the
    * sink stages the winnow self-join once. */
  def overlapTopK(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 16, g: Int = 7, minShared: Int = 2,
      maxDocFreq: Int = 1000, k: Int = 5): DataFrame =
    overlapTopKOf(
      overlapPairs(docs, idCol, textCol, w, g, minShared, maxDocFreq), k)

  /** The bounded per-doc rank step of [[overlapTopK]] over an
    * already-computed [[overlapPairs]] relation (doc_a, doc_b, shared).
    * Ids must be integral (they ride the aggregate's primitive-long
    * buffer) — fail loud on the driver, not with a silent cast. */
  def overlapTopKOf(pairs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // the weight rides the same primitive-long buffer as the ids, so
    // it gets the SAME integral-type gate: a fractional `shared`
    // (e.g. a similarity score) would otherwise be cast("long")
    // truncated, silently reordering ranks
    Seq("doc_a", "doc_b", "shared").foreach { c =>
      val dt = pairs.schema(c).dataType
      require(dt == org.apache.spark.sql.types.LongType ||
          dt == org.apache.spark.sql.types.IntegerType,
        s"overlapTopK needs integral $c (ids and the shared weight " +
          s"ride a primitive-long aggregate buffer), got $dt")
    }
    val directed = pairs.select(explode(array(
        struct(col("doc_a").as("doc"), col("doc_b").as("partner"), col("shared")),
        struct(col("doc_b").as("doc"), col("doc_a").as("partner"), col("shared"))))
        .as("e"))
      .select(col("e.doc").as("doc"), col("e.partner").as("partner"),
        col("e.shared").as("shared"))
    directed.groupBy(col("doc"))
      .agg(graft.functions.TopKAgg.top_partners(k)(
        col("partner").cast("long"), col("shared").cast("long")).as("top"))
      .select(col("doc"), posexplode(col("top")).as(Seq("r0", "p")))
      .select(col("doc"), col("p._1").as("partner"), col("p._2").as("shared"),
        (col("r0") + 1).as("rank"))
  }
}
