package graft.operators

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{CentroidDots, IvfCells, Quantize}

/** Embedding similarity search over an `array<float>` column —
  * training-data-pipeline layer. Top-k search has three shapes:
  *
  *  - [[bruteForceTopK]]: exact cosine top-k of every query against the
  *    full corpus. The corpus side streams (one pass, codegen'd dot
  *    products); the query side is broadcast. Correct baseline, O(Q·N).
  *  - [[lshTopK]]: random-hyperplane LSH — corpus and queries are
  *    bucketed by sign-pattern, candidates meet only inside a bucket
  *    (with optional multi-probe on 1-bit flips). At 100 TB this is the
  *    shape that scales: the bucket id is a shuffle key, no all-pairs.
  *  - [[AnnIndex]]: one quantized index, optional IVF coarse cells ×
  *    a code (flat, SQ8 or PQ) × exact rerank, searched inline or
  *    written once and read back.
  *
  * All-vs-all near-duplicate shapes are [[nearestDupLsh]] (1-NN over
  * LSH buckets) and [[semanticDuplicates]] (threshold pairs inside IVF
  * cells).
  *
  * All vector math runs as native codegen'd expressions over doubles
  * (`DotProduct`, `LshKeys`, `IvfCells` — `graft.functions`): no UDFs
  * and no interpreted higher-order functions on corpus-sized paths.
  */
object Similarity {

  /** Dedicated bounded pool for the driver-side quantizer trainers
    * (k-means restarts, PQ subspace Lloyd loops) — r22. These ran on
    * the ForkJoinPool commonPool (width = cores − 1): on a loaded host
    * the cores-wide burst contends with everything else on the box and
    * the quiet-box ~2× training win evaporated (the r21 driver read
    * ann_stage_cents flat under load). A pool of max(2, cores/4)
    * daemon threads still covers the real task counts (4 restarts /
    * 8 subspaces) while leaving headroom under contention. Reductions
    * stay in submission order, so results remain bit-for-bit the
    * serial trainer's. */
  private lazy val trainPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(
      math.max(2, Runtime.getRuntime.availableProcessors() / 4),
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-train-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })

  /** Cast an array<float> to array<double> for stable math — a plain
    * array `Cast` (whole-stage-codegen'd), not a `transform` lambda
    * (higher-order functions evaluate interpreted and break the
    * codegen span on every corpus row). */
  def asDouble(v: Column): Column = v.cast("array<double>")

  def dot(a: Column, b: Column): Column =
    graft.functions.HashExprs.dotProduct(a, b)

  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine similarity of two double arrays. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k cosine neighbours for each query vector. With
    * `broadcastQueries` (the default) the query relation must be small
    * — it is broadcast and the corpus streams once. Pass false for
    * all-vs-all shapes (every vector as a query): Spark then plans a
    * partitioned cartesian join instead of materializing the whole
    * query side on every executor. Ranking is by rounded cosine with
    * id tie-break for determinism. */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, k: Int,
      broadcastQueries: Boolean = true): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"),
      asDouble(col(vecCol)).as("v"))
    val q = if (broadcastQueries) broadcast(queries) else queries
    val scored = c.crossJoin(q)
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(cosine(col("v"), col("qv")), 6).as("cos"))
    topKByCos(scored, k)
  }

  /** Top `k` rows per query by (cos desc, id tie-break) with a rank
    * column — the ONE definition of the ranking tail every top-k path
    * shares, so the rounding/tie-break contract cannot silently
    * diverge between the exact and approximate paths.
    *
    * CALLER CONTRACT: `scored` must be shortlist-bounded — candidates
    * from a bucket/cell equi-join ([[lshTopK]], an IVF [[AnnIndex]])
    * or a `k·refine` shortlist ([[AnnIndex.search]]); the one exception is
    * [[bruteForceTopK]], the documented quadratic oracle leg. A
    * `row_number` window partitions all of `scored` by qid, so
    * applying it to an UNBOUNDED scored relation is exactly the
    * O(pairs)-through-one-window anti-pattern that
    * [[graft.functions.TopKAgg]] exists to avoid (map-side partial
    * top-k, O(N·k) shuffle) — reach for TopKAgg, not this, if a
    * corpus-sized scored relation ever needs ranking. PlanSpec pins
    * every current caller's shape (`ANN ranking windows…`). */
  private def topKByCos(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"), col("cos"), col("rn"))
  }

  /** Deterministic pseudo-random hyperplanes: `planes` × `dim` values
    * in [-1, 1) from a splitmix64-style generator with a fixed seed
    * (public algorithm; no RNG API, so re-runs and resumes agree). */
  def hyperplanes(planes: Int, dim: Int, seed: Long = 0x9E3779B97F4A7C15L): Array[Array[Double]] = {
    var state = seed
    def next(): Double = {
      state += 0x9E3779B97F4A7C15L
      val z = graft.functions.HashExprs.mix64(state)
      // top 53 bits → [0,1) → [-1,1)
      (z >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
    Array.fill(planes, dim)(next())
  }

  /** Embedding dimension taken from the first non-null vector — one
    * tiny driver round-trip (one row, one int), so hyperplane
    * generation matches the data instead of silently assuming a width
    * (dot_product raises on any residual mismatch). An empty or
    * all-null corpus yields 1: the caller's joins then produce the
    * empty result instead of a crash. */
  def deriveDim(corpus: DataFrame, vecCol: String): Int =
    corpus.select(size(col(vecCol)).as("d")).filter(col("d") > 0)
      .limit(1).collect().headOption.map(_.getInt(0)).getOrElse(1)

  /** Sign-pattern LSH bucket id of a double-array column under the
    * given hyperplanes: bit p = 1 iff dot(v, plane_p) > 0. */
  def lshBucket(v: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val planeArr = array(p.toIndexedSeq.map(lit): _*)
      when(dot(v, planeArr) > 0.0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Approximate top-k via multi-table hyperplane LSH (the standard
    * OR-amplification): `tables` independent sign-pattern hashes of
    * `planes` planes each; a corpus vector is a candidate iff it
    * shares a (table, bucket) key with the query in ANY table.
    * Candidates meet only inside a bucket — a key-equi join, never
    * all-pairs; recall/cost is tuned by (tables, planes): more planes
    * → smaller buckets (cheaper, lower recall), more tables → higher
    * recall (linearly more probe keys). `multiProbe` additionally
    * probes, per table, the buckets reached by flipping the
    * `multiProbe` smallest-margin sign bits (query-directed
    * multi-probe): recall rises on the PROBE side only — the corpus
    * explode, which is what scales with data size, stays at `tables`
    * rows per vector, so at 100 TB multi-probe buys recall strictly
    * cheaper than more tables. Defaults (8 tables × 2 flip-probes)
    * measured on the synthetic fixtures: top-10 recall 0.96–0.98
    * across sf0.001–0.1 (floor-certified at 0.8 by
    * `embed_ann_recall`) — higher than 12 tables without multi-probe
    * at two-thirds of the corpus-side cost. */
  /** Per-table (table-tag | sign-bucket) key array of a vector under
    * every table's hyperplanes — the base LSH keys. One native
    * primitive pass per row ([[graft.functions.LshKeys]]); the
    * previous `when`-folded Column chain is kept as the reference
    * implementation in the equivalence spec. */
  private[graft] def tableKeys(v: Column, allPlanes: Seq[Array[Array[Double]]]): Column =
    graft.functions.LshKeys.keys(v, allPlanes, multiProbe = 0)

  /** Per-table base key PLUS the 1-bit-flip keys of the `multiProbe`
    * smallest-margin planes — the planes the vector sits closest to,
    * i.e. the neighbouring buckets most likely to hold missed
    * neighbours (query-directed multi-probe). Margin is |dot|/‖plane‖
    * (true point-to-hyperplane distance): the random planes are not
    * unit-norm, and ranking by raw |dot| would bias flips toward
    * small-norm planes. Native single pass: the interpreted
    * `array_sort(comparator)` HOF this replaces ran once per CORPUS
    * row on the nearestDupLsh probe leg. */
  private def tableProbeKeys(v: Column, allPlanes: Seq[Array[Array[Double]]],
      multiProbe: Int): Column =
    graft.functions.LshKeys.keys(v, allPlanes, multiProbe)

  def lshTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, k: Int, planes: Int = 4,
      tables: Int = 8, dim: Int = -1, multiProbe: Int = 2): DataFrame = {
    val d = if (dim > 0) dim else deriveDim(corpus, vecCol)
    val allPlanes = (0 until tables).map(t =>
      hyperplanes(planes, d, seed = tableSeed(t)))
    def keysOf(v: Column): Column = tableKeys(v, allPlanes)
    def probeKeysOf(v: Column): Column = tableProbeKeys(v, allPlanes, multiProbe)
    // keys are one native LshKeys pass per row: compute the
    // tables×planes dot products once, shuffle only (id, bucket) longs
    val c = corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
      .withColumn("__keys", keysOf(col("v")))
      .select(col("vec_id"), col("v"), explode(col("__keys")).as("bucket"))
    val probes = queries.withColumn("__keys", probeKeysOf(col("qv")))
      .select(col("qid"), col("qv"), explode(col("__keys")).as("bucket"))
    val scored = c.join(broadcast(probes), Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(cosine(col("v"), col("qv")), 6).as("cos"))
      .distinct()
    topKByCos(scored, k)
  }

  /** Corpus-size-derived plane count (~64 vectors per bucket, clamped
    * to [4, 20] bits) and per-table hyperplane seed — THE definitions
    * [[nearestDupLsh]] uses; the seed is shared with the DuckDB LSH
    * oracles so they replay the operator's exact key space. */
  private def derivedPlanes(n: Long): Int = {
    val buckets = math.max(16L, n / 64)
    math.min(20, math.max(4,
      64 - java.lang.Long.numberOfLeadingZeros(buckets - 1)))
  }
  private[graft] def tableSeed(t: Int): Long =
    0x9E3779B97F4A7C15L + t * 1000003L

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Diagnostics for the [[nearestDupLsh]] derive-job footgun: how many
    * times the (n, dim) derivation aggregate ran over a NON-scan input
    * plan (a join/aggregate/union that the derive job then evaluates a
    * second time, on top of the operator's own passes). Spec-pinned so
    * the warning can never silently stop firing. */
  private[graft] val deriveOnDerivedInput =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** True iff `plan` is a leaf relation (parquet scan, local data, a
    * checkpointed RDD — all cheap to re-evaluate) under only
    * projections/filters/aliases. Anything else (join, aggregate,
    * union, window…) re-runs real work each time the plan is
    * evaluated. */
  private[graft] def scanLikePlan(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    plan match {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
        scanLikePlan(p.child)
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        scanLikePlan(f.child)
      case a: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
        scanLikePlan(a.child)
      case leaf => leaf.children.isEmpty
    }

  /** The staged, per-(corpus, parameters) intermediates of
    * [[nearestDupLsh]]: the projected (vec_id, v) corpus view, the two
    * CHECKPOINTED (vec_id, bucket) join legs, and the hot-bucket split
    * map when the skew guard engaged. Everything here is computed by
    * one derive pass and is identical across evaluations, so a session
    * that evaluates the operator repeatedly (Bench's best-of reps; a
    * verify pass consuming it from two queries) should stage ONCE —
    * the `PipelineQueries.LshKeys` stage holds it per (session, dir)
    * — and re-evaluate only the candidate join + scoring via
    * [[nearestDupLshFrom]]. Single-shot
    * callers use [[nearestDupLsh]], which stages-then-consumes in one
    * call with behavior identical to the pre-staging implementation. */
  private[graft] final case class LshStage(
      c0: DataFrame, keyed: DataFrame, keyedProbe: DataFrame,
      hot: Option[DataFrame], multiProbe: Int) {
    /** The frames holding localCheckpoint blocks (for eviction). */
    private[graft] def checkpointed: Seq[DataFrame] =
      Seq(keyed) ++ (if (keyedProbe eq keyed) Nil else Seq(keyedProbe)) ++ hot
  }

  /** Approximate embedding-cosine nearest-duplicate over the WHOLE
    * corpus: every vector's closest bucket-mate. This is the declared
    * scale path for the all-vs-all 1-NN shape — a banded SELF
    * equi-join on (table, bucket) LSH keys, so candidate pairs meet
    * only inside a bucket: nothing is broadcast, no cartesian product,
    * and the bucket id is an ordinary shuffle key. Vectors sharing no
    * bucket with any other vector are absent from the output (no
    * near-duplicate at this table/plane setting — by construction
    * nothing is cosine-close to them under any of the `tables`
    * projections). Recall vs the exact 1-NN is floor-tested in
    * ScalaTest and surfaced by the `embed_ann_recall` query.
    * `maxBucket` bounds within-bucket pair counts under skew (hot
    * sign-pattern buckets on clustered embeddings) by deterministic
    * sub-bucket salting. `multiProbe` adds query-directed bit-flip
    * probes on ONE join leg (see the asymmetric-probe note in the
    * body): default 2 lifts measured recall to 0.97-0.99 while the
    * corpus-side index explode stays at `tables` rows per vector. */
  def nearestDupLsh(corpus: DataFrame, idCol: String, vecCol: String,
      planes: Int = -1, tables: Int = 8, dim: Int = -1,
      maxBucket: Int = 4096, multiProbe: Int = 2): DataFrame =
    nearestDupLshFrom(stageNearestDupLsh(corpus, idCol, vecCol,
      planes, tables, dim, maxBucket, multiProbe))

  private[graft] def stageNearestDupLsh(corpus: DataFrame, idCol: String,
      vecCol: String, planes: Int = -1, tables: Int = 8, dim: Int = -1,
      maxBucket: Int = 4096, multiProbe: Int = 2): LshStage = {
    val c0 = corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
    // bucket count tracks corpus size (~64 vectors per bucket), so
    // within-bucket pair counts stay bounded as N grows — a FIXED
    // plane count degenerates toward all-pairs once N ≫ 2^planes.
    // Size + dimension come from ONE aggregate job; note it evaluates
    // the corpus plan once (cheap only when the input is a plain scan
    // or already materialized) — pass planes AND dim explicitly to
    // skip it on expensive derived inputs, and maxBucket <= 0 as well
    // if the skew-guard histogram (which otherwise still runs, since
    // the corpus size is then unknown) should also be skipped.
    val (d, p, n) = if (planes > 0 && dim > 0) (dim, planes, -1L) else {
      if (!scanLikePlan(corpus.queryExecution.analyzed)) {
        deriveOnDerivedInput.incrementAndGet()
        log.warn("nearestDupLsh is deriving (n, dim) with an extra " +
          "aggregate job over a DERIVED input plan (join/aggregate/" +
          "union) — that plan is evaluated once more than necessary; " +
          "pass planes and dim explicitly (or localCheckpoint the " +
          "input) to skip the derive job")
      }
      val r = corpus.select(count(lit(1)).as("n"),
        first(size(col(vecCol)), ignoreNulls = true).as("d")).head()
      val derivedDim = if (r.isNullAt(1)) 1 else r.getInt(1)
      (if (dim > 0) dim else derivedDim,
        if (planes > 0) planes else derivedPlanes(r.getLong(0)),
        r.getLong(0))
    }
    val allPlanes = (0 until tables).map(t =>
      hyperplanes(p, d, seed = tableSeed(t)))
    def keysOf(v: Column): Column = tableKeys(v, allPlanes)
    // The heavy self-join shuffles ONLY (vec_id, bucket) longs — the
    // wide embedding arrays never ride through the explode. Candidate
    // pairs are deduped across tables and undirected BEFORE the
    // vectors are fetched back by key, so each pair's cosine is
    // computed exactly once. The keyed relation is STAGED
    // (localCheckpoint): the histogram pass and both self-join legs
    // would otherwise each re-evaluate all tables×planes hyperplane
    // dot products per row; the staged relation is two longs per
    // (vector, table) — scale-safe to materialize, unlike the corpus.
    // The key legs are SPREAD to the session's parallelism BEFORE the
    // hyperplane kernel and the checkpoint (r22, guide §2.5): a
    // single-split fixture scan hands everything ONE partition, and
    // localCheckpoint preserves partitioning — so the tables×planes
    // dot-product kernel ran single-task at stage time AND every later
    // candidate join streamed the leg as ONE task (profiled 1.05 s/
    // evaluation single-task stage: bucket join + pair dedup partials
    // + both vector-fetch broadcast joins chained into it). The spread
    // is conditional — at warehouse scale the scan has thousands of
    // splits and spreadForKernel is a no-op — and each leg's exchange
    // carries one projected vector row per input row, comparable bytes
    // to the exploded (vec_id, bucket) relation it used to carry; the
    // corpus itself stays un-materialized (scale-safety contract
    // above: only the key legs are ever checkpointed).
    val spread = Scale.spreadForKernel(c0, col("vec_id"))
    val keyed = spread.withColumn("__keys", keysOf(col("v")))
      .select(col("vec_id"), explode(col("__keys")).as("bucket"))
      .localCheckpoint()
    // ASYMMETRIC query-directed multi-probe (`multiProbe` > 0): one
    // join leg (the "index" side) keeps the base keys ONLY — the
    // explode that scales with corpus size stays at `tables` rows per
    // vector — while the other leg additionally probes the buckets
    // reached by flipping its `multiProbe` smallest-margin sign bits.
    // A pair (x, y) is then found when EITHER endpoint's probe keys
    // hit the other's base bucket (the join below runs both
    // directions), so recall rises like two extra probe rounds at
    // `tables`×`multiProbe` extra rows on ONE side — strictly cheaper
    // than more tables, which would widen BOTH legs and the staged
    // relation. Measured 1-NN recall vs the exact path at the default
    // multiProbe=2: 0.973-0.992 across sf0.001-0.1 (was 0.59-0.72
    // base-only; multiProbe=1 measures 0.92-0.96).
    val keyedProbe =
      if (multiProbe <= 0) keyed
      else spread.withColumn("__keys",
          tableProbeKeys(col("v"), allPlanes, multiProbe))
        .select(col("vec_id"), explode(col("__keys")).as("bucket"))
        .localCheckpoint()
    // Skew guard: clustered embeddings concentrate sign patterns, and
    // one hot bucket holding k vectors contributes k²/2 pairs no
    // matter how many planes there are. Buckets over `maxBucket` are
    // split into ⌈count/maxBucket⌉ deterministic sub-buckets (hashed
    // by vec_id), and candidates must also agree on the sub-bucket —
    // expected per-sub-bucket pair cost drops to ~maxBucket²/2 (a
    // hash-balanced expectation, not a hard cap) at a recall cost
    // confined to the hot buckets. The bucket histogram is one
    // aggregate over (bucket) longs.
    // a corpus no larger than maxBucket provably has no hot bucket —
    // skip the histogram pass entirely (the registered query's default
    // path at test scale; the guard engages automatically beyond it)
    // a vector contributes at most one row per (table, bucket) on
    // either leg, so no bucket can exceed n rows — a corpus no larger
    // than maxBucket provably has no hot bucket even with probe keys
    val noSalt = maxBucket <= 0 || (n >= 0 && n <= maxBucket)
    // The histogram (and the hot-bucket split map) is built from the
    // PROBE leg when multi-probe is on: each vector's probe keys
    // include its base key, so the probe rowset is a superset of the
    // base rowset — a bucket made hot purely by probe-key
    // concentration (base count under maxBucket, but a neighbouring
    // hot cluster flipping its smallest-margin bits into it) is
    // caught too, where a base-only histogram would let the join
    // blow up base×probe inside it unsalted. Both legs sub-bucket by
    // the same deterministic vec_id hash, so a hot-bucket pair is
    // found iff its endpoints share a sub-bucket — recall confinement
    // unchanged, salting strictly more conservative.
    val hot =
      if (noSalt) None
      else Some((if (multiProbe <= 0) keyed else keyedProbe)
        .groupBy(col("bucket")).agg(count(lit(1)).as("__bc"))
        .filter(col("__bc") > maxBucket)
        .withColumn("__splits", ceil(col("__bc") / lit(maxBucket.toDouble)))
        .select(col("bucket"), col("__splits"))
        // tiny (hot buckets only) and identical across evaluations —
        // materialized at stage time so re-evaluations broadcast the
        // blocks instead of re-running the histogram aggregate
        .localCheckpoint())
    LshStage(c0, keyed, keyedProbe, hot, multiProbe)
  }

  /** The per-evaluation half of [[nearestDupLsh]]: candidate self-join
    * over the staged key legs, pair dedup, vector fetch, cosine, top-1.
    * See [[stageNearestDupLsh]] for what is staged and why. */
  private[graft] def nearestDupLshFrom(st: LshStage): DataFrame = {
    val c0 = st.c0
    val keyed = st.keyed
    val keyedProbe = st.keyedProbe
    val multiProbe = st.multiProbe
    def saltOf(rel: DataFrame): DataFrame = st.hot match {
      case None => rel.withColumn("__sub", lit(0L))
      case Some(h) => rel.join(broadcast(h), Seq("bucket"), "left")
        .select(col("vec_id"), col("bucket"),
          coalesce(pmod(xxhash64(col("vec_id")), col("__splits")), lit(0L))
            .as("__sub"))
    }
    val pairs = if (multiProbe <= 0) {
      val salted = saltOf(keyed)
      salted.as("a").join(salted.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.__sub") === col("b.__sub") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"))
        .distinct()
    } else
      // base × probe: both directions covered by vec_id inequality +
      // canonicalization (probe keys include the base keys, so this
      // strictly supersets the symmetric base-only candidates)
      saltOf(keyed).as("a").join(saltOf(keyedProbe).as("b"),
          col("a.bucket") === col("b.bucket") && col("a.__sub") === col("b.__sub") &&
            col("a.vec_id") =!= col("b.vec_id"))
        .select(least(col("a.vec_id"), col("b.vec_id")).as("ia"),
          greatest(col("a.vec_id"), col("b.vec_id")).as("ib"))
        .distinct()
    val scored = pairs
      .join(c0.select(col("vec_id").as("ia"), col("v").as("va")), Seq("ia"))
      .join(c0.select(col("vec_id").as("ib"), col("v").as("vb")), Seq("ib"))
      .select(col("ia"), col("ib"),
        round(cosine(col("va"), col("vb")), 6).as("cos"))
    // both directions via ONE explode over the scored rows, not a
    // two-leg union (r22, guide §2.3): a union re-EXECUTES the whole
    // scored subtree — candidate join, pair dedup exchange, both
    // vector-fetch joins — once per leg (the r21 plan shows the
    // duplicated subtrees), where the explode emits the same row
    // multiset from a single evaluation. Same rows, half the work.
    val directed = scored
      .select(explode(array(
        struct(col("ia").as("qid"), col("ib").as("vec_id"), col("cos")),
        struct(col("ib").as("qid"), col("ia").as("vec_id"), col("cos"))))
        .as("e"))
      .select(col("e.qid").as("qid"), col("e.vec_id").as("vec_id"),
        col("e.cos").as("cos"))
    // top-1 via hash aggregate (max of a lexicographic struct; negated
    // id = min-id tie-break), not a window: no per-partition sort, and
    // map-side partial aggregation shrinks the shuffle
    directed.groupBy(col("qid"))
      .agg(max(struct(col("cos"), (-col("vec_id")).as("negid"))).as("best"))
      .select(col("qid"), (-col("best.negid")).as("nn"), col("best.cos").as("cos"))
  }

  /** Spherical k-means centroids for IVF coarse quantization, trained
    * on a DETERMINISTIC BOUNDED sample of the corpus — the standard
    * IVF training step (FAISS-style: train on a sample, assign at
    * scale). One driver collect of ≤ `sampleSize` vectors chosen by
    * hash order (`TakeOrderedAndProject` — a top-k, never a full
    * sort), then seeded k-means++ init + Lloyd iterations locally:
    * at 100 TB the training cost is unchanged, and cell assignment
    * stays fully distributed. Vectors (and centroids after every
    * update) are L2-normalized so argmax-dot = argmax-cosine, matching
    * the search metric. Deterministic: hash-ordered sample, splitmix64
    * seeding, fixed iteration count — re-runs and resumes agree.
    * Falls back to [[hyperplanes]] directions when the corpus has
    * fewer than `nlist` usable vectors (`dim`, when > 0, fixes that
    * fallback's dimension without a deriveDim job). */
  /** The shared trainer sample: ≤`sampleSize` non-empty vectors in
    * xxhash64(id) order — a deterministic, partitioning-independent
    * pseudo-random draw both quantizer trainers use. Vectors with a
    * null or non-finite element are excluded: the ENCODE expressions
    * null such rows out per their contract, but a driver-side
    * `getSeq[Double].toArray` would throw unboxing a null slot — a
    * single corrupt vector must not crash quantizer training. */
  private def hashOrderedSample(corpus: DataFrame, idCol: String,
      vecCol: String, sampleSize: Int): Array[Array[Double]] =
    corpus
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .filter(col("v").isNotNull && size(col("v")) > 0 &&
        graft.functions.Quantize.allFinite(col("v")))
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(sampleSize)
      .collect()
      .map(_.getSeq[Double](1).toArray)

  /** Deterministic uniform-[0,1) stream (splitmix64), shared by the
    * k-means++ seeding of both quantizer trainers. */
  private def splitmixUnit(seed: Long): () => Double = {
    var state = seed
    () => {
      state += 0x9E3779B97F4A7C15L
      (graft.functions.HashExprs.mix64(state) >>> 11).toDouble / (1L << 53).toDouble
    }
  }

  def trainIvfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, sampleSize: Int = 10000, iters: Int = 15,
      restarts: Int = 4, seed: Long = 0x9E3779B97F4A7C15L,
      dim: Int = -1): Array[Array[Double]] = {
    val sample = hashOrderedSample(corpus, idCol, vecCol, sampleSize)
    def normalize(v: Array[Double]): Array[Double] = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      val n = math.sqrt(s)
      if (n == 0.0) v else v.map(_ / n)
    }
    val pts = sample.map(normalize)
    if (pts.length < nlist)
      return hyperplanes(nlist,
        pts.headOption.map(_.length)
          .getOrElse(if (dim > 0) dim else deriveDim(corpus, vecCol)))
        .map(normalize)
    def dotL(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val dim0 = pts(0).length
    // One full k-means run (k-means++ D² seeding + `iters` Lloyd
    // rounds) from one seed; returns the centroids AND the final
    // quantization error Σ(1 − best-dot) so restarts can pick the
    // best local optimum. All driver-side on the ≤sampleSize sample —
    // cost is constant in corpus size, so restarts are cheap where
    // they matter (cell placement quality bounds IVF recall: a bad
    // seeding wastes cells on one dense region and splits true
    // neighbourhoods across cells, which nprobe then can't recover).
    def runOnce(runSeed: Long): (Array[Array[Double]], Double) = {
      // k-means++ seeding on cosine distance (1 - dot of unit
      // vectors): D² sampling with a deterministic splitmix64 stream
      val nextUnit = splitmixUnit(runSeed)
      val cents = new Array[Array[Double]](nlist)
      cents(0) = pts((nextUnit() * pts.length).toInt.min(pts.length - 1))
      val bestD = pts.map(p => 1.0 - dotL(p, cents(0)))
      var c = 1
      while (c < nlist) {
        val total = bestD.sum
        var r = nextUnit() * total
        var pick = 0
        while (pick < pts.length - 1 && r > bestD(pick)) { r -= bestD(pick); pick += 1 }
        cents(c) = pts(pick)
        var i = 0
        while (i < pts.length) {
          val d = 1.0 - dotL(pts(i), cents(c))
          if (d < bestD(i)) bestD(i) = d
          i += 1
        }
        c += 1
      }
      // Lloyd: argmax-cosine assignment, mean + renormalize update; an
      // emptied cell keeps its previous centroid (deterministic)
      var it = 0
      var err = 0.0
      while (it < iters) {
        val sums = Array.fill(nlist)(new Array[Double](dim0))
        val counts = new Array[Int](nlist)
        err = 0.0
        var i = 0
        while (i < pts.length) {
          var best = 0; var bestS = dotL(pts(i), cents(0)); var j = 1
          while (j < nlist) {
            val s = dotL(pts(i), cents(j))
            if (s > bestS) { bestS = s; best = j }
            j += 1
          }
          err += 1.0 - bestS
          val acc = sums(best)
          var d = 0
          while (d < dim0) { acc(d) += pts(i)(d); d += 1 }
          counts(best) += 1
          i += 1
        }
        var j = 0
        while (j < nlist) {
          if (counts(j) > 0) cents(j) = normalize(sums(j))
          j += 1
        }
        it += 1
      }
      // err is the assignment error ENTERING the last update — one
      // final assignment pass scores the returned centroids exactly
      err = 0.0
      var i = 0
      while (i < pts.length) {
        var bestS = dotL(pts(i), cents(0)); var j = 1
        while (j < nlist) {
          val s = dotL(pts(i), cents(j))
          if (s > bestS) bestS = s
          j += 1
        }
        err += 1.0 - bestS
        i += 1
      }
      (cents, err)
    }
    // deterministic restart seeds; runs are independent, so they
    // execute in PARALLEL on the driver (the trainer is pure local
    // compute over the bounded sample — restarts were the dominant
    // serial cost of the staged quantizer training). The reduction
    // stays in restart order with strict <, keeping the FIRST best
    // run on ties, so the result is bit-for-bit what the serial loop
    // produced — re-runs and resumes agree.
    val runs = (0 until math.max(1, restarts)).toArray.map { r =>
      val s = if (r == 0) seed else seed + r * 0x100000001B3L
      java.util.concurrent.CompletableFuture.supplyAsync(() => runOnce(s),
        trainPool)
    }.map(_.join())
    runs.reduceLeft((best, cand) => if (cand._2 < best._2) cand else best)._1
  }

  /** Product-quantization codebooks: `m` per-subspace codebooks of up
    * to `ksub` centroids each (`[m][ksub][dim/m]`), trained with
    * per-subspace Euclidean k-means (k-means++ seeding, deterministic
    * splitmix64 stream — the [[trainIvfCentroids]] discipline) on the
    * SAME hash-ordered ≤`sampleSize` sample, L2-normalized so that
    * Σ_j ⟨q_j, c_{j,code_j}⟩ approximates full cosine. `dim` must
    * split evenly into `m` subspaces (the FAISS constraint; checked
    * only against a real sampled dimension — an empty corpus returns
    * degenerate books and the caller's joins produce the empty result,
    * the [[deriveDim]] discipline). A sample smaller than `ksub`
    * trains that many centroids — codes stay valid, the codebook is
    * just smaller. `ksub` is capped at 256: a PQ code is one byte. */
  def trainPqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ksub: Int = 256, sampleSize: Int = 10000,
      iters: Int = 10, seed: Long = 0x9E3779B97F4A7C15L,
      dim: Int = -1): Array[Array[Array[Double]]] = {
    require(m >= 1, "m must be >= 1")
    require(ksub >= 1 && ksub <= 256,
      s"ksub must be in [1, 256] (a PQ code is one byte), got $ksub")
    val sample = hashOrderedSample(corpus, idCol, vecCol, sampleSize)
    if (sample.isEmpty) {
      // empty/all-null/all-corrupt sample: derive the dimension to
      // keep the divisibility contract honest. Degenerate books are
      // safe ONLY for a truly empty corpus (the encode expression
      // never runs on zero rows) — a real non-divisible dimension
      // (e.g. every sampled row corrupt but rows exist) must still
      // fail loud on the driver, not per-row on executors; checking
      // corpus emptiness directly avoids conflating deriveDim's
      // empty-corpus sentinel (1) with a genuine 1-dim corpus.
      val d0 = if (dim > 0) dim else deriveDim(corpus, vecCol)
      if (d0 % m == 0)
        return Array.fill(m)(Array(new Array[Double](d0 / m)))
      require(corpus.isEmpty,
        s"dim $d0 must be divisible by m=$m subspaces")
      return Array.fill(m)(Array(new Array[Double](1)))
    }
    val d = sample.head.length
    require(d % m == 0, s"dim $d must be divisible by m=$m subspaces")
    val dsub = d / m
    // unit-normalize (direction is what cosine scores); drop zero-norm
    val pts = sample.flatMap { v =>
      var ss = 0.0; var i = 0
      while (i < v.length) { ss += v(i) * v(i); i += 1 }
      if (ss == 0.0) None
      else { val inv = 1.0 / math.sqrt(ss); Some(v.map(_ * inv)) }
    }
    if (pts.isEmpty)
      return Array.fill(m)(Array(new Array[Double](dsub)))
    kmeansSubspaces(pts, m, dsub, ksub, iters, seed)
  }

  /** Per-subspace Euclidean k-means over full-dim points — the shared
    * codebook trainer of [[trainPqCodebooks]] (raw unit vectors) and
    * [[trainIvfPqCodebooks]] (cell residuals). One deterministic
    * splitmix64 stream shared across subspaces in order, so extraction
    * preserved the flat-PQ trainer's outputs bit-for-bit. */
  private def kmeansSubspaces(pts: Array[Array[Double]], m: Int,
      dsub: Int, ksub: Int, iters: Int,
      seed: Long): Array[Array[Array[Double]]] = {
    val nextUnit = splitmixUnit(seed)
    // The shared stream is consumed ONLY by seeding, exactly k draws
    // per subspace (one per centroid), in subspace order — so the
    // whole draw sequence is pre-computed here and the (independent)
    // per-subspace trainings run in PARALLEL on the driver while
    // consuming their own slice of it. Bit-for-bit the serial
    // trainer's output; subspace training was the dominant serial
    // cost of PQ codebook training (m×ksub Lloyd runs on one core).
    val kDraws = math.min(ksub, pts.length)
    val draws = Array.fill(m * kDraws)(nextUnit())
    def d2(a: Array[Double], aOff: Int, b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < b.length) { val df = a(aOff + i) - b(i); s += df * df; i += 1 }
      s
    }
    Array.tabulate(m) { j =>
      java.util.concurrent.CompletableFuture.supplyAsync(() => {
      var drawAt = j * kDraws
      def nextDraw(): Double = { val v = draws(drawAt); drawAt += 1; v }
      val off = j * dsub
      val k = math.min(ksub, pts.length)
      // k-means++ D² seeding per subspace, same deterministic stream
      val cents = new Array[Array[Double]](k)
      cents(0) = java.util.Arrays.copyOfRange(pts((nextDraw() * pts.length).toInt
        .min(pts.length - 1)), off, off + dsub)
      val bestD = pts.map(p => d2(p, off, cents(0)))
      var c = 1
      while (c < k) {
        val total = bestD.sum
        var r = nextDraw() * total
        var pick = 0
        while (pick < pts.length - 1 && r > bestD(pick)) { r -= bestD(pick); pick += 1 }
        cents(c) = java.util.Arrays.copyOfRange(pts(pick), off, off + dsub)
        var i = 0
        while (i < pts.length) {
          val dd = d2(pts(i), off, cents(c))
          if (dd < bestD(i)) bestD(i) = dd
          i += 1
        }
        c += 1
      }
      // Lloyd in the subspace; an emptied cell keeps its centroid
      var it = 0
      while (it < iters) {
        val sums = Array.fill(k)(new Array[Double](dsub))
        val counts = new Array[Int](k)
        var i = 0
        while (i < pts.length) {
          var best = 0; var bestS = d2(pts(i), off, cents(0)); var cc = 1
          while (cc < k) {
            val s = d2(pts(i), off, cents(cc))
            if (s < bestS) { bestS = s; best = cc }
            cc += 1
          }
          val acc = sums(best)
          var t = 0
          while (t < dsub) { acc(t) += pts(i)(off + t); t += 1 }
          counts(best) += 1
          i += 1
        }
        var cc = 0
        while (cc < k) {
          if (counts(cc) > 0) {
            val mean = sums(cc)
            var t = 0
            while (t < dsub) { mean(t) /= counts(cc); t += 1 }
            cents(cc) = mean
          }
          cc += 1
        }
        it += 1
      }
      cents
      }, trainPool)
    }.map(_.join())
  }

  /** RESIDUAL PQ codebooks for IVF-PQ (the FAISS IndexIVFPQ trainer):
    * per-subspace Euclidean k-means on the residuals of the sampled
    * unit vectors w.r.t. their nearest coarse centroid. Residuals span
    * a far smaller region than the raw vectors (everything within a
    * cell shares the centroid's direction), so the same ksub centroids
    * quantize them with much lower error than flat PQ — that is the
    * whole point of the composition. Same discipline as the other
    * trainers: deterministic hash-ordered ≤`sampleSize` sample,
    * splitmix64 seeding, constant cost in corpus size. The coarse
    * `centroids` fix the dimension; sampled vectors of any other
    * length raise. Residuals are NOT renormalized — the search-time
    * decomposition ⟨q,v⟩ ≈ ⟨q,c⟩ + ⟨q,r̂⟩ needs the raw residual. */
  def trainIvfPqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], m: Int = 8, ksub: Int = 256,
      sampleSize: Int = 10000, iters: Int = 10,
      seed: Long = 0x9E3779B97F4A7C15L): Array[Array[Array[Double]]] = {
    require(m >= 1, "m must be >= 1")
    require(ksub >= 1 && ksub <= 256,
      s"ksub must be in [1, 256] (a PQ code is one byte), got $ksub")
    require(centroids.nonEmpty, "ivf-pq needs at least one coarse centroid")
    val d = centroids.head.length
    require(d % m == 0, s"dim $d must be divisible by m=$m subspaces")
    val dsub = d / m
    val sample = hashOrderedSample(corpus, idCol, vecCol, sampleSize)
    // unit-normalize (drop zero-norm), assign to the nearest coarse
    // centroid (argmax dot, ties keep the lower cell — the IvfCells /
    // PqResidualCodes contract), keep the residual. Zero residuals
    // (a vector equal to its centroid) are valid k-means points.
    val pts = sample.flatMap { v =>
      require(v.length == d,
        s"sampled vector dim ${v.length} != coarse centroid dim $d")
      var ss = 0.0; var i = 0
      while (i < v.length) { ss += v(i) * v(i); i += 1 }
      if (ss == 0.0) None
      else {
        val inv = 1.0 / math.sqrt(ss)
        val u = v.map(_ * inv)
        var cell = 0; var bestS = Double.NegativeInfinity; var c = 0
        while (c < centroids.length) {
          val cent = centroids(c)
          var acc = 0.0; var t = 0
          while (t < d) { acc += u(t) * cent(t); t += 1 }
          if (acc > bestS) { bestS = acc; cell = c }
          c += 1
        }
        val cent = centroids(cell)
        i = 0
        while (i < d) { u(i) -= cent(i); i += 1 }
        Some(u)
      }
    }
    if (pts.isEmpty)
      return Array.fill(m)(Array(new Array[Double](dsub)))
    kmeansSubspaces(pts, m, dsub, ksub, iters, seed)
  }

  /** One approximate-nearest-neighbour index, composed the way the
    * FAISS index factory composes them: an optional IVF coarse
    * quantizer × a vector code × exact rerank. Every kind returns the
    * (qid, vec_id, cos, rn) top-k of [[bruteForceTopK]], ranked by the
    * same rounded-cosine/id order, so results differ from exact only
    * when a true neighbour was pruned or fell outside the shortlist.
    *
    *  - `coarse` = Some(centroids) ([[trainIvfCentroids]]) puts every
    *    corpus vector in ONE cell, its nearest centroid, and a query
    *    scans only its `nprobe` closest cells: the cell equi-join
    *    yields each (query, candidate) pair at most once. A written
    *    index holds one parquet file per cell, and for ANY query
    *    relation — a filtered scan or a literal batch alike — the probe
    *    join dynamic-partition-prunes the codes scan to the probed
    *    cells' files, reusing the probe broadcast. Recall is bounded by
    *    the pruning: 16 of 32
    *    cells measured 0.888–0.900 top-10 across sf0.001–0.1 for every
    *    code (8 of 16 measured 0.76–0.84 at the same scan fraction;
    *    floored at 0.75 by `embed_ann_recall`). At warehouse scale
    *    raise nlist (~√N, the FAISS rule) and tune nprobe. None scans
    *    the whole corpus against the broadcast queries.
    *  - `code` is what the scan scores. [[AnnIndex.Flat]] scores the
    *    float vectors exactly and ranks them directly.
    *    [[AnnIndex.Sq8]] scores int8 codes ([[graft.functions.Quantize]],
    *    8× lighter than float64) and [[AnnIndex.Pq]] m-byte product
    *    codes by per-query ADC table lookups; under a coarse quantizer
    *    the PQ books encode the cell RESIDUAL
    *    ([[trainIvfPqCodebooks]]) and a pair scores ⟨q,c_cell⟩ + ADC.
    *  - a quantized scan keeps the `k·refine` best candidates per query
    *    and reranks only those on full-precision cosine: the corpus
    *    streams once past the broadcast shortlist (at most
    *    |Q|·k·refine id pairs, the size class of the broadcast
    *    queries), so no float vector is ever shuffled. SQ8 at refine 4
    *    measured top-10 recall ≥ 0.98;
    *    PQ defaults to refine 8 because its per-subspace error is
    *    coarser than per-dimension rounding.
    *
    * Deterministic throughout: deterministic trainers, argmin/argmax
    * ties keep the lower index, id tie-breaks in shortlist and rerank.
    */
  final case class AnnIndex(coarse: Option[Array[Array[Double]]],
      code: AnnIndex.Code) {
    import AnnIndex._

    /** The corpus as the index stores it: (vec_id[, cell], code) — the
      * relation a warehouse persists, one native pass per row. */
    def encode(corpus: DataFrame, idCol: String, vecCol: String): DataFrame = {
      val v = asDouble(col(vecCol))
      (coarse, code) match {
        // one pass assigns the cell AND encodes the residual against it
        case (Some(cents), Pq(books)) =>
          corpus.select(col(idCol).as("vec_id"),
              graft.functions.Pq.residualCodes(v, cents, books).as("rc"))
            .select(col("vec_id"), col("rc.cell").as("cell"),
              col("rc.codes").as(code.column))
        case _ =>
          val enc = code match {
            case Flat => v
            case Sq8 => Quantize.int8(v)
            case Pq(books) => graft.functions.Pq.codes(v, books)
          }
          corpus.select((col(idCol).as("vec_id") +: coarse.map(cents =>
            element_at(IvfCells.cells(v, cents, 1), 1).as("cell")).toSeq) :+
            enc.as(code.column): _*)
      }
    }

    /** Persist the index at `path`: the [[encode]]d corpus at
      * `path`/codes, PARTITIONED BY cell with one file per cell under a
      * coarse quantizer (small-file opens dominate a pruned scan), plus
      * the state that defined the codes beside it — `path`/centroids
      * (cell, centroid) and `path`/codebooks (j, c, centroid), both
      * small bounded relations. [[AnnIndex.read]] restores the index. */
    def write(corpus: DataFrame, idCol: String, vecCol: String,
        path: String): Unit = {
      val spark = corpus.sparkSession
      import spark.implicits._
      val enc = encode(corpus, idCol, vecCol)
      if (coarse.isDefined) enc.repartition(col("cell")).write.mode("overwrite")
        .partitionBy("cell").parquet(s"$path/codes")
      else enc.write.mode("overwrite").parquet(s"$path/codes")
      def meta(df: DataFrame, name: String): Unit =
        df.coalesce(1).write.mode("overwrite").parquet(s"$path/$name")
      coarse.foreach(cents => meta(cents.toSeq.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toDF("cell", "centroid"), "centroids"))
      code match {
        case Pq(books) => meta(books.toSeq.zipWithIndex.flatMap { case (book, j) =>
            book.toSeq.zipWithIndex.map { case (c, i) => (j, i, c.toSeq) } }
          .toDF("j", "c", "centroid"), "codebooks")
        case _ =>
      }
    }

    /** Top-`k` neighbours of every (qid, qv) query. The scan reads
      * `codes` — [[AnnIndex.read]]'s relation for a written index —
      * or, when null, encodes `corpus` inline; either way `corpus`
      * feeds only the exact rerank of the shortlist. */
    def search(corpus: DataFrame, idCol: String, vecCol: String,
        queries: DataFrame, k: Int, nprobe: Int = 16,
        refine: Int = code.refine, codes: DataFrame = null): DataFrame = {
      // query side (tiny, broadcast): the code's per-query kernel input
      // — the ADC table is cell-independent, residual books being shared
      // across cells — and, under IVF, one row per probed cell
      val (qSide, score) = code match {
        case Flat => (Seq(col("qv")), round(cosine(col("v"), col("qv")), 6))
        case Sq8 => (Seq(Quantize.int8(col("qv")).as("qcodes")),
          Quantize.cosine(col("codes"), col("qcodes")))
        case Pq(books) =>
          val adc = graft.functions.Pq.adcScore(col("pq_codes"), col("qtable"))
          (graft.functions.Pq.adcTable(col("qv"), books).as("qtable") +:
            coarse.map(cents => CentroidDots.dots(col("qv"), cents).as("cdots")).toSeq,
            if (coarse.isEmpty) adc else element_at(col("cdots"), col("cell") + 1) + adc)
      }
      val cellProbes = queries.select((col("qid") +: qSide) ++ coarse.map(cents =>
        explode(IvfCells.cells(col("qv"), cents, nprobe)).as("cell")): _*)
      // on a written (cell-partitioned) index, the no-op `cell < nlist`
      // range filter is what Spark's partition pruning takes as a
      // selective probe side: the codes scan is pruned to the probed
      // cells for any query relation, a literal batch included. Inline,
      // it would only add a cell-kernel call to the scan's inferred filter.
      val probes = (coarse, Option(codes)) match {
        case (Some(cents), Some(_)) => cellProbes.filter(col("cell") < cents.length)
        case _ => cellProbes
      }
      val scan = Option(codes).getOrElse(encode(corpus, idCol, vecCol))
      val pairs = (if (coarse.isEmpty) scan.crossJoin(broadcast(probes))
        else scan.join(broadcast(probes), Seq("cell")))
        .filter(col("vec_id") =!= col("qid"))
      if (code == Flat)
        return topKByCos(pairs.select(col("qid"), col("vec_id"), score.as("cos")), k)
      // the k·refine best (qcos desc, id) candidates per query, then the
      // exact rerank streams the corpus past them as the broadcast side
      val wq = Window.partitionBy(col("qid")).orderBy(col("qcos").desc, col("vec_id"))
      val shortlist = pairs.select(col("qid"), col("vec_id"), score.as("qcos"))
        .withColumn("qrn", row_number().over(wq))
        .filter(col("qrn") <= k * refine)
        .select(col("qid"), col("vec_id"))
      topKByCos(corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
        .join(broadcast(shortlist), Seq("vec_id"))
        .join(broadcast(queries.select(col("qid"), col("qv"))), Seq("qid"))
        .select(col("qid"), col("vec_id"),
          round(cosine(col("v"), col("qv")), 6).as("cos")), k)
    }
  }

  object AnnIndex {
    /** What an [[AnnIndex]] scan scores: its column name in the codes
      * relation, and the default rerank shortlist factor (unused by
      * Flat, which ranks directly). */
    sealed abstract class Code(val column: String, val refine: Int)
    /** The float vectors themselves: exact cosine, no rerank. */
    case object Flat extends Code("v", 1)
    /** Per-vector symmetric int8 codes — scale-free under cosine. */
    case object Sq8 extends Code("codes", 4)
    /** One byte per subspace under `books` (`[m][≤ksub][dim/m]`). */
    final case class Pq(books: Array[Array[Array[Double]]]) extends Code("pq_codes", 8)

    /** Train the index `kind` — a FAISS-factory string, `[IVF,]Flat`,
      * `[IVF,]SQ8` or `[IVF,]PQ` — on `corpus` with the existing
      * trainers: `nlist` coarse cells on the shared ≤`sampleSize`
      * sample, `m` PQ subspaces of ≤`ksub` centroids (residual books
      * under IVF). Supplied `centroids`/`codebooks` REPLACE training
      * (e.g. to share one staged quantizer across kinds), so they must
      * match the tuning params — a silent mismatch would make nprobe
      * mean a different cell fraction, or m a different code width,
      * than the caller tuned. `dim`, when > 0, fixes the dimension of
      * an empty corpus's fallback without a deriveDim job. */
    def fit(corpus: DataFrame, idCol: String, vecCol: String, kind: String,
        nlist: Int = 32, m: Int = 8, ksub: Int = 256, sampleSize: Int = 10000,
        dim: Int = -1, centroids: Array[Array[Double]] = null,
        codebooks: Array[Array[Array[Double]]] = null): AnnIndex = {
      val ivf = kind.startsWith("IVF,")
      val codeName = kind.stripPrefix("IVF,")
      require(Seq("Flat", "SQ8", "PQ").contains(codeName),
        s"unknown ANN index kind '$kind': expected [IVF,]Flat, [IVF,]SQ8 or [IVF,]PQ")
      require((centroids == null || ivf && centroids.length == nlist) &&
          (codebooks == null || codeName == "PQ" && codebooks.length == m &&
            codebooks.forall(_.length <= ksub)),
        s"supplied quantizer state (${Option(centroids).fold(0)(_.length)} centroids, " +
          s"codebook sizes ${Option(codebooks).fold("none")(_.map(_.length).mkString("/"))}) " +
          s"must match kind=$kind, nlist=$nlist, m=$m, ksub=$ksub")
      val coarse = if (!ivf) None else Some(Option(centroids).getOrElse(
        trainIvfCentroids(corpus, idCol, vecCol, nlist, sampleSize, dim = dim)))
      AnnIndex(coarse, codeName match {
        case "Flat" => Flat
        case "SQ8" => Sq8
        case _ => Pq(Option(codebooks).getOrElse(coarse.fold(
          trainPqCodebooks(corpus, idCol, vecCol, m, ksub, sampleSize, dim = dim))(
          cents => trainIvfPqCodebooks(corpus, idCol, vecCol, cents, m, ksub, sampleSize))))
      })
    }

    /** Open an index [[AnnIndex.write]] wrote at `path`: the index —
      * its kind read off the codes' schema (a `cell` column means a
      * coarse quantizer, the code column names the code) — and its
      * codes relation for [[AnnIndex.search]]. Centroids and codebooks
      * are validated as they are read, so a truncated or corrupt index
      * fails loud, naming the path, instead of an opaque empty-max
      * error or a per-row dimension mismatch on executors. */
    def read(spark: SparkSession, path: String): (AnnIndex, DataFrame) = {
      val codes = parquetAt(spark, s"$path/codes")
      val coarse = if (!codes.columns.contains("cell")) None else {
        val rows = metadataAt(spark, s"$path/centroids", "cell")
        val cents = rows.map(_.getSeq[Double](1).toArray)
        require(rows.map(_.getInt(0)).sameElements(rows.indices) &&
            cents.forall(_.length == cents.head.length),
          s"IVF centroids at $path/centroids are not cells 0..${rows.length - 1} of one dim")
        Some(cents)
      }
      val code = if (codes.columns.contains(Sq8.column)) Sq8
        else if (!codes.columns.contains("pq_codes")) Flat
        else {
          val rows = metadataAt(spark, s"$path/codebooks", "j", "c")
          val books = Array.tabulate(rows.map(_.getInt(0)).max + 1)(j =>
            rows.filter(_.getInt(0) == j).map(_.getSeq[Double](2).toArray))
          require(books.forall(_.nonEmpty) &&
              coarse.forall(_.head.length == books.map(_.head.length).sum),
            s"PQ codebooks at $path/codebooks are missing subspaces (m=${books.length}) " +
              "or do not split the centroid dim")
          Pq(books)
        }
      (AnnIndex(coarse, code), codes.select((col("vec_id") +: coarse.map(_ =>
        col("cell").cast("int").as("cell")).toSeq) :+ col(code.column): _*))
    }

    private def parquetAt(spark: SparkSession, dir: String,
        schema: Option[String] = None): DataFrame =
      try schema.fold(spark.read)(spark.read.schema).parquet(dir)
      catch { case e: AnalysisException =>
        throw new IllegalArgumentException(s"ANN index part missing or empty at $dir", e) }

    /** All rows of a metadata relation — int `keys` then the `centroid`
      * array, the schema [[AnnIndex.write]] gives it, so no inference
      * job — ordered by its keys on the driver, which collects them
      * anyway. */
    private def metadataAt(spark: SparkSession, dir: String, keys: String*): Array[Row] = {
      val schema = (keys.map(k => s"$k INT") :+ "centroid ARRAY<DOUBLE>").mkString(", ")
      val rows = parquetAt(spark, dir, Some(schema)).collect()
      require(rows.nonEmpty, s"ANN index part missing or empty at $dir")
      require(!rows.exists(_.anyNull), s"ANN index part at $dir does not hold $schema rows")
      rows.sortBy(r => keys.indices.map(r.getInt))(Ordering.Implicits.seqOrdering)
    }
  }

  /** IVF-SQ8 on the [[AnnIndex.write]] layout — kept only because
    * perfbench's `ann_search` workload compiles against these two
    * names. */
  def writeIvfSq8Index(corpus: DataFrame, idCol: String, vecCol: String,
      path: String, nlist: Int = 32, centroids: Array[Array[Double]] = null): Unit =
    AnnIndex.fit(corpus, idCol, vecCol, "IVF,SQ8", nlist, centroids = centroids)
      .write(corpus, idCol, vecCol, path)

  def ivfSq8TopKFromIndex(spark: SparkSession, path: String, corpus: DataFrame,
      idCol: String, vecCol: String, queries: DataFrame, k: Int, nprobe: Int = 16,
      refine: Int = 4): DataFrame = AnnIndex.read(spark, path) match {
    case (idx, codes) => idx.search(corpus, idCol, vecCol, queries, k, nprobe, refine, codes)
  }

  /** The deduplicated corpus under [[semanticDuplicates]]: clusters
    * the pair graph with [[Dedup.duplicateClusters]]' pointer-jumping
    * label propagation and keeps the min-id representative of every
    * semantic cluster plus all singletons — the SemDeDup "keep one per
    * cluster" retention step as a single call. */
  def semanticSurvivors(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 16, probes: Int = 2,
      sampleSize: Int = 10000,
      centroids: Array[Array[Double]] = null): DataFrame = {
    val pairs = semanticDuplicates(corpus, idCol, vecCol, threshold,
        nlist, probes, sampleSize, centroids)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    Dedup.dedupSurvivors(corpus, idCol, pairs)
  }

  /** SemDeDup-style semantic dedup: all pairs of corpus vectors with
    * exact cosine ≥ `threshold`, found by a WITHIN-CELL sweep — each
    * vector is assigned to its `probes` nearest IVF centroids (trained
    * by [[trainIvfCentroids]]) and candidate pairs meet only inside a
    * shared cell, so the self-join is bucketed by cell instead of
    * cartesian (the published SemDeDup recipe: cluster, then compare
    * within clusters). Candidates are EXACT-verified — every emitted
    * pair's cosine is computed on the full vectors, so false positives
    * are impossible; the approximation is recall only (a pair split
    * across all probed cells is missed), which `dedup_semantic`'s
    * certificate floors against the brute-force sweep. `probes` > 1
    * trades duplicated assignment rows for cross-boundary recall.
    *
    * Scale shape: cells bound the quadratic term to ~(N/nlist)² per
    * cell — size nlist ~ √N at warehouse scale (the FAISS rule) and
    * raise it with the corpus; the assigned relation is staged once
    * (`localCheckpoint`) so the self-join legs and the vector fetch
    * read it instead of re-running assignment. The self-join shuffles
    * ONLY (vec_id, cell) — candidate pairs dedup across shared cells
    * BEFORE the vectors are fetched back by id, so each pair's exact
    * cosine is computed once (the [[nearestDupLsh]] discipline; with
    * probes=2 a clustered pair co-assigned to both cells would
    * otherwise be scored twice).
    * Returns (vec_a, vec_b, cos) with vec_a < vec_b, cos rounded 6. */
  def semanticDuplicates(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 16, probes: Int = 2,
      sampleSize: Int = 10000,
      centroids: Array[Array[Double]] = null): DataFrame = {
    val cents = if (centroids != null) centroids
      else trainIvfCentroids(corpus, idCol, vecCol, nlist, sampleSize)
    val assigned = corpus
      .select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
      .withColumn("cells", graft.functions.IvfCells.cells(col("v"), cents, probes))
      .localCheckpoint()
    val leg = assigned.select(col("vec_id"), explode(col("cells")).as("cell"))
    // stays a two-leg self-join ON PURPOSE (r21 audit): an IVF cell
    // holds ~corpus/nlist vectors, so a per-cell collect_list rewrite
    // (the Dedup.lshCandidatesOf / overlapPairs §2.4 trick) would
    // buffer a corpus-scale id array in ONE aggregation row that
    // cannot spill — the join's build side can
    val cand = leg.as("a")
      .join(leg.as("b"), col("a.cell") === col("b.cell") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    val base = assigned.select(col("vec_id"), col("v"))
    cand
      .join(base.select(col("vec_id").as("vec_a"), col("v").as("va")), Seq("vec_a"))
      .join(base.select(col("vec_id").as("vec_b"), col("v").as("vb")), Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"), cosine(col("va"), col("vb")).as("c0"))
      .filter(col("c0") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("c0"), 6).as("cos"))
  }
}
