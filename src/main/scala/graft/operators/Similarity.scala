package graft.operators

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Descending, In,
  InterpretedOrdering, Literal, SortOrder}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, IntegerType,
  LongType, MapType, ShortType, StructField, StructType}

import graft.functions.{CentroidDots, IvfCells, LshKeys, Quantize}

/** Embedding similarity search over an `array<float>` column —
  * training-data-pipeline layer. A query batch's top-k has two shapes,
  * both eager and shuffle-free, ranked by one bounded per-query top-k
  * merged on the driver ([[topPerQuery]]):
  *
  *  - [[AnnIndex]]: one quantized index, optional IVF coarse cells ×
  *    a code (flat, SQ8 or PQ) × exact rerank, searched inline or
  *    written once and read back. `AnnIndex(None, Flat)` is the exact
  *    cosine top-k of every query against the full corpus.
  *  - [[lshTopK]]: random-hyperplane LSH — a corpus vector is scored
  *    only against the queries that probe one of its sign-pattern
  *    buckets (multi-probe on 1-bit flips).
  *
  * The all-vs-all 1-NN has two shapes ranked by one top-1 aggregate
  * ([[nearestOf]]): [[exactNearest]] (every pair once, the oracle leg)
  * and [[nearestDupLsh]] (1-NN over LSH buckets, the scale path).
  * [[semanticDuplicates]] finds threshold pairs inside IVF cells.
  *
  * All vector math runs as native codegen'd expressions over doubles
  * (`DotProduct`, `LshKeys`, `IvfCells` — `graft.functions`): no UDFs
  * and no interpreted higher-order functions on corpus-sized paths.
  */
object Similarity {

  /** Cast an array<float> to array<double> for stable math — a plain
    * array `Cast` (whole-stage-codegen'd), not a `transform` lambda
    * (higher-order functions evaluate interpreted and break the
    * codegen span on every corpus row). */
  def asDouble(v: Column): Column = v.cast("array<double>")

  def dot(a: Column, b: Column): Column =
    graft.functions.HashExprs.dotProduct(a, b)

  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine similarity of two double arrays; NULL when either norm is
    * zero (the direction is undefined), as [[Quantize.cosine]],
    * [[LshKeys]] and [[graft.functions.Pq]] state for their inputs. */
  def cosine(a: Column, b: Column): Column = try_divide(dot(a, b), norm(a) * norm(b))

  /** The best `n` rows of each query `0 until nq` in `scored` — (qidx
    * INT, vec_id, score DOUBLE) — best first, by Spark's own ordering of
    * `ORDER BY score DESC, vec_id`: NULL sorts last, NaN first under
    * DESC, and -0.0 equals 0.0. The one ranking of every query batch
    * ([[AnnIndex.search]], [[lshTopK]]), in ONE job with no shuffle:
    * each task keeps at most `nq·n` rows, sorted per query, and the
    * partial tops merge on the driver as the tasks finish
    * (`treeAggregate` at depth 1: a deeper tree adds a shuffled level).
    * Returns copied rows. */
  private def topPerQuery(scored: DataFrame, nq: Int, n: Int): Array[Array[InternalRow]] = {
    val ord = new InterpretedOrdering(Seq(
      SortOrder(BoundReference(2, DoubleType, nullable = true), Descending),
      SortOrder(BoundReference(1, scored.schema(1).dataType, nullable = true), Ascending)))
    def keep(top: Array[InternalRow], r: InternalRow): Array[InternalRow] =
      if (top.length == n && ord.compare(r, top(n - 1)) >= 0) top
      else {
        // after every row that ranks before or ties with r
        val at = top.indexWhere(ord.compare(r, _) < 0) match { case -1 => top.length; case i => i }
        (top.take(at) :+ r.copy()) ++ top.slice(at, n - 1)
      }
    val qe = scored.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("annTopK")) {
      qe.toRdd.treeAggregate(Array.fill(nq)(Array.empty[InternalRow]))(
        (tops, r) => { tops(r.getInt(0)) = keep(tops(r.getInt(0)), r); tops },
        (a, b) => { a.indices.foreach(i => a(i) = b(i).foldLeft(a(i))(keep)); a },
        depth = 1)
    }
  }

  /** Column `name` of the collected query `side` (schema `schema`) for
    * the current row's `qidx`: the column as one literal array. */
  private def queryAt(side: Array[Row], schema: StructType, name: String): Column =
    ColumnBridge.column(Literal.create(side.map(_.getAs[Any](name)).toSeq,
      ArrayType(schema(name).dataType))).getItem(col("qidx"))

  /** The `ranked` tops of each collected query as a local relation
    * (qid, vec_id, cos, rn): qid is `side`'s first column and keeps its
    * field `qid`, vec_id has `idType`, rn counts from 1. */
  private def rankedRelation(spark: SparkSession, side: Array[Row], qid: StructField,
      idType: DataType, ranked: Array[Array[InternalRow]]): DataFrame = {
    val toId = CatalystTypeConverters.createToScalaConverter(idType)
    val rows = ranked.indices.flatMap(i => ranked(i).indices.map { rn =>
      val r = ranked(i)(rn)
      Row(side(i).get(0), toId(r.get(1, idType)), if (r.isNullAt(2)) null else r.getDouble(2), rn + 1)
    })
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      qid, StructField("vec_id", idType), StructField("cos", DoubleType),
      StructField("rn", IntegerType, nullable = false))))
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
    * given hyperplanes: bit p = 1 iff dot(v, plane_p) > 0 — the
    * Column-composed reference the native [[LshKeys]] is spec-pinned
    * against. */
  def lshBucket(v: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val planeArr = array(p.toIndexedSeq.map(lit): _*)
      when(dot(v, planeArr) > 0.0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** The hyperplane bank of [[lshTopK]]: `LshTables` independent
    * sign-pattern hashes of `LshPlanes` planes each, and per table the
    * query's `LshMultiProbe` smallest-margin bit flips. Measured on the
    * synthetic fixtures: top-10 recall 0.96–0.98 across sf0.001–0.1
    * (floor-certified at 0.8 by `embed_ann_recall`) — higher than 12
    * tables without multi-probe at two-thirds of the corpus-side cost.
    * The DuckDB oracle replays the same bank. */
  private[graft] val LshPlanes = 4
  private[graft] val LshTables = 8
  private[graft] val LshMultiProbe = 2

  /** Approximate top-`k` cosine neighbours of every (qid, qv) query by
    * multi-table hyperplane LSH (the standard OR-amplification): a
    * corpus vector is a candidate iff one of its base keys, one per
    * table, is a probe key of the query — its own bucket in a table or
    * a bucket one smallest-margin bit flip away (query-directed
    * multi-probe: recall rises on the PROBE side only, so the corpus
    * side stays at one key per table). Returns (qid, vec_id, cos, rn)
    * like [[AnnIndex.search]]: qid keeps its type in `queries`, vec_id
    * the type of `idCol`, cos is the rounded cosine, and a query's own
    * id is never its neighbour.
    *
    * EAGER and shuffle-free, like [[AnnIndex.search]]: the queries are
    * collected, the dimension is taken from their vectors and their
    * probe keys come from the same [[graft.functions.LshKeys]] kernel on
    * the driver; then ONE corpus scan computes each row's base keys,
    * pairs it with the distinct queries that probe any of them (each
    * (query, candidate) pair is scored once) and ranks in
    * [[topPerQuery]]. */
  def lshTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("qid"), asDouble(col("qv")).as("qv"))
    val side = q.collect()
    def at(name: String): Column = queryAt(side, q.schema, name)
    val dim = side.map(_.getSeq[Any](1)).find(v => v != null && v.nonEmpty)
    val allPlanes = (0 until LshTables).map(t =>
      hyperplanes(LshPlanes, dim.fold(1)(_.length), seed = tableSeed(t)))
    // probe key -> the queries that probe it
    val probedBy = side.indices.flatMap { i =>
      val keys = LshKeys(Literal.create(side(i).get(1), q.schema("qv").dataType),
        allPlanes.toArray, LshMultiProbe).eval().asInstanceOf[ArrayData]
      Option(keys).fold(Array.empty[Long])(_.toLongArray()).map(_ -> i)
    }.groupMap(_._1)(_._2).map { case (key, qs) => key -> qs.toArray }
    val c = corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
    // no query holds a vector: nothing to scan (and no width to plane)
    val ranked = if (probedBy.isEmpty) Array.fill(side.length)(Array.empty[InternalRow]) else {
      val lookup = typedLit(probedBy)
      val probing = array_distinct(flatten(array((1 to LshTables).map(t =>
        coalesce(lookup.getItem(element_at(col("keys"), t)), typedLit(Array.empty[Int]))): _*)))
      val pairs = c
        .select(col("vec_id"), col("v"), LshKeys.keys(col("v"), allPlanes, 0).as("keys"))
        .select(col("vec_id"), col("v"), explode(probing).as("qidx"))
        .filter(col("vec_id") =!= at("qid"))
        .select(col("qidx"), col("vec_id"), round(cosine(col("v"), at("qv")), 6))
      topPerQuery(pairs, side.length, k)
    }
    rankedRelation(corpus.sparkSession, side, q.schema("qid"), c.schema("vec_id").dataType, ranked)
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
      hot: Option[DataFrame]) {
    /** The frames holding localCheckpoint blocks (for eviction). */
    private[graft] def checkpointed: Seq[DataFrame] = Seq(keyed, keyedProbe) ++ hot
  }

  /** Approximate embedding-cosine nearest-duplicate over the WHOLE
    * corpus: every vector's closest bucket-mate. This is the declared
    * scale path for the all-vs-all 1-NN shape — a banded SELF
    * equi-join on (table, bucket) LSH keys, so candidate pairs meet
    * only inside a bucket: nothing is broadcast, no cartesian product,
    * and the bucket id is an ordinary shuffle key. Vectors sharing no
    * bucket with any other vector are absent from the output (no
    * near-duplicate at this table/plane setting — by construction
    * nothing is cosine-close to them under any of the `LshTables`
    * projections). Recall vs the exact 1-NN is floor-tested in
    * ScalaTest and surfaced by the `embed_ann_recall` query.
    * `maxBucket` bounds within-bucket pair counts under skew (hot
    * sign-pattern buckets on clustered embeddings) by deterministic
    * sub-bucket salting; <= 0 turns the guard off. One join leg adds
    * the `LshMultiProbe` query-directed bit-flip probes (see the
    * asymmetric-probe note in the body), which lifts measured recall
    * to 0.97-0.99 while the corpus-side index explode stays at
    * `LshTables` rows per vector. */
  def nearestDupLsh(corpus: DataFrame, idCol: String, vecCol: String,
      maxBucket: Int = 4096): DataFrame =
    nearestDupLshFrom(stageNearestDupLsh(corpus, idCol, vecCol, maxBucket))

  private[graft] def stageNearestDupLsh(corpus: DataFrame, idCol: String,
      vecCol: String, maxBucket: Int = 4096): LshStage = {
    val c0 = corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
    // bucket count tracks corpus size (~64 vectors per bucket), so
    // within-bucket pair counts stay bounded as N grows — a FIXED
    // plane count degenerates toward all-pairs once N ≫ 2^planes.
    // Size + dimension come from ONE aggregate job over the corpus plan
    // (cheap on a plain scan or an already materialized input).
    val r = corpus.select(count(lit(1)).as("n"),
      first(size(col(vecCol)), ignoreNulls = true).as("d")).head()
    val n = r.getLong(0)
    val allPlanes = (0 until LshTables).map(t => hyperplanes(derivedPlanes(n),
      if (r.isNullAt(1)) 1 else r.getInt(1), seed = tableSeed(t)))
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
    val keyed = spread.withColumn("__keys", LshKeys.keys(col("v"), allPlanes, 0))
      .select(col("vec_id"), explode(col("__keys")).as("bucket"))
      .localCheckpoint()
    // ASYMMETRIC query-directed multi-probe: one join leg (the "index"
    // side) keeps the base keys ONLY — the explode that scales with
    // corpus size stays at `LshTables` rows per vector — while the
    // other leg additionally probes the buckets reached by flipping its
    // `LshMultiProbe` smallest-margin sign bits.
    // A pair (x, y) is then found when EITHER endpoint's probe keys
    // hit the other's base bucket (the join below runs both
    // directions), so recall rises like two extra probe rounds at
    // `LshTables`×`LshMultiProbe` extra rows on ONE side — strictly
    // cheaper than more tables, which would widen BOTH legs and the
    // staged relation. Measured 1-NN recall vs the exact path with 2
    // flip probes: 0.973-0.992 across sf0.001-0.1 (was 0.59-0.72
    // base-only; 1 flip probe measures 0.92-0.96).
    val keyedProbe = spread
      .withColumn("__keys", LshKeys.keys(col("v"), allPlanes, LshMultiProbe))
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
    val noSalt = maxBucket <= 0 || n <= maxBucket
    // The histogram (and the hot-bucket split map) is built from the
    // PROBE leg: each vector's probe keys include its base key, so the
    // probe rowset is a superset of the base rowset — a bucket made
    // hot purely by probe-key
    // concentration (base count under maxBucket, but a neighbouring
    // hot cluster flipping its smallest-margin bits into it) is
    // caught too, where a base-only histogram would let the join
    // blow up base×probe inside it unsalted. Both legs sub-bucket by
    // the same deterministic vec_id hash, so a hot-bucket pair is
    // found iff its endpoints share a sub-bucket — recall confinement
    // unchanged, salting strictly more conservative.
    val hot =
      if (noSalt) None
      else Some(keyedProbe
        .groupBy(col("bucket")).agg(count(lit(1)).as("__bc"))
        .filter(col("__bc") > maxBucket)
        .withColumn("__splits", ceil(col("__bc") / lit(maxBucket.toDouble)))
        .select(col("bucket"), col("__splits"))
        // tiny (hot buckets only) and identical across evaluations —
        // materialized at stage time so re-evaluations broadcast the
        // blocks instead of re-running the histogram aggregate
        .localCheckpoint())
    LshStage(c0, keyed, keyedProbe, hot)
  }

  /** The per-evaluation half of [[nearestDupLsh]]: candidate self-join
    * over the staged key legs, pair dedup, vector fetch, cosine, top-1.
    * See [[stageNearestDupLsh]] for what is staged and why. */
  private[graft] def nearestDupLshFrom(st: LshStage): DataFrame = {
    def saltOf(rel: DataFrame): DataFrame = st.hot match {
      case None => rel.withColumn("__sub", lit(0L))
      case Some(h) => rel.join(broadcast(h), Seq("bucket"), "left")
        .select(col("vec_id"), col("bucket"),
          coalesce(pmod(xxhash64(col("vec_id")), col("__splits")), lit(0L))
            .as("__sub"))
    }
    // base × probe: both directions covered by vec_id inequality +
    // canonicalization (probe keys include the base keys, so this
    // strictly supersets the symmetric base-only candidates)
    val pairs = saltOf(st.keyed).as("a").join(saltOf(st.keyedProbe).as("b"),
        col("a.bucket") === col("b.bucket") && col("a.__sub") === col("b.__sub") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(least(col("a.vec_id"), col("b.vec_id")).as("ia"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("ib"))
      .distinct()
    nearestOf(pairs
      .join(st.c0.select(col("vec_id").as("ia"), col("v").as("va")), Seq("ia"))
      .join(st.c0.select(col("vec_id").as("ib"), col("v").as("vb")), Seq("ib"))
      .select(col("ia"), col("ib"),
        round(cosine(col("va"), col("vb")), 6).as("cos")))
  }

  /** Exact cosine 1-NN of every corpus vector against the rest of the
    * corpus, as (qid, nn, cos) with cos rounded to 6 — the all-vs-all
    * oracle leg of [[nearestDupLsh]], which is the scale path. LAZY and
    * quadratic: each unordered pair is scored once (`a.vec_id <
    * b.vec_id`), and [[nearestOf]] ranks it for both of its ends, so no
    * window ever sees the N² pairs. Ids must be integral. */
  def exactNearest(corpus: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
    nearestOf(c.as("a").join(c.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
        round(cosine(col("a.v"), col("b.v")), 6).as("cos")))
  }

  /** Every vector's best partner in `scored` — (ia, ib, cos), each
    * unordered pair once — as (qid, nn, cos), ordered like Spark's
    * `ORDER BY cos DESC, vec_id`: NaN first, NULL last, ties to the
    * smaller id. THE top-1 of [[nearestDupLsh]] and [[exactNearest]].
    *
    * Both directions come from ONE explode over the scored rows, not a
    * two-leg union (r22, guide §2.3): a union re-EXECUTES the whole
    * scored subtree once per leg, where the explode emits the same row
    * multiset from a single evaluation. The top-1 is a hash aggregate
    * (max of a lexicographic struct; the negated id is the min-id
    * tie-break), not a window: no per-partition sort, and map-side
    * partial aggregation shrinks the shuffle to one row per (task,
    * vector). Negating needs integral ids: any other id type fails
    * here, as the plan is built. */
  private def nearestOf(scored: DataFrame): DataFrame = {
    val idType = scored.schema("ia").dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"the 1-NN's min-id tie-break needs integral ids, not ${idType.simpleString}")
    scored
      .select(explode(array(
        struct(col("ia").as("qid"), col("ib").as("vec_id"), col("cos")),
        struct(col("ib").as("qid"), col("ia").as("vec_id"), col("cos"))))
        .as("e"))
      .select(col("e.qid").as("qid"), col("e.vec_id").as("vec_id"),
        col("e.cos").as("cos"))
      .groupBy(col("qid"))
      .agg(max(struct(col("cos"), (-col("vec_id")).as("negid"))).as("best"))
      .select(col("qid"), (-col("best.negid")).as("nn"), col("best.cos").as("cos"))
  }

  /** The shared trainer sample: ≤`sampleSize` non-empty vectors in
    * xxhash64(id) order — a deterministic, partitioning-independent
    * pseudo-random draw all three quantizer trainers use. Vectors with a
    * null or non-finite element are excluded: the ENCODE expressions
    * null such rows out per their contract, but a driver-side
    * `getSeq[Double].toArray` would throw unboxing a null slot — a
    * single corrupt vector must not crash quantizer training. Vectors
    * of different lengths raise: k-means over one slice of them would
    * silently drop the longer vectors' tails. */
  private def hashOrderedSample(corpus: DataFrame, idCol: String,
      vecCol: String, sampleSize: Int): Array[Array[Double]] = {
    val sample = corpus
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .filter(col("v").isNotNull && size(col("v")) > 0 &&
        graft.functions.Quantize.allFinite(col("v")))
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(sampleSize)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    val dims = sample.map(_.length).distinct
    require(dims.length <= 1, s"sampled vectors of $vecCol differ in dimension: " +
      dims.sorted.mkString(", "))
    sample
  }

  /** Deterministic uniform-[0,1) stream (splitmix64) behind the
    * k-means++ seeding of the quantizer trainers. */
  private def splitmixUnit(seed: Long): () => Double = {
    var state = seed
    () => {
      state += 0x9E3779B97F4A7C15L
      (graft.functions.HashExprs.mix64(state) >>> 11).toDouble / (1L << 53).toDouble
    }
  }

  /** The trainers' fixed settings: the seed of their k-means++ draws,
    * IVF's Lloyd rounds and restarts, and residual PQ's Lloyd rounds. */
  private val TrainSeed = 0x9E3779B97F4A7C15L
  private val IvfIters = 15
  private val IvfRestarts = 4
  private val ResidualIters = 10

  /** Σ a(aOff + t)·b(t) over the length of `b`. */
  private def dotAt(a: Array[Double], aOff: Int, b: Array[Double]): Double = {
    var s = 0.0; var t = 0
    while (t < b.length) { s += a(aOff + t) * b(t); t += 1 }
    s
  }

  /** `v` divided by its L2 norm; a zero vector comes back as itself. */
  private def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(dotAt(v, 0, v))
    if (n == 0.0) v else v.map(_ / n)
  }

  /** The PQ training points: each nonzero vector of `sample` times the
    * inverse of its norm (direction is what cosine scores); zero-norm
    * vectors are dropped. A product, not [[normalize]]'s quotient: the
    * two round differently, and the golden codebooks hold this one. */
  private def unitNonzero(sample: Array[Array[Double]]): Array[Array[Double]] =
    sample.flatMap { v =>
      val ss = dotAt(v, 0, v)
      if (ss == 0.0) None else { val inv = 1.0 / math.sqrt(ss); Some(v.map(_ * inv)) }
    }

  /** How near centroid `c` is to the `[off, off + c.length)` slice of
    * `p`, higher is nearer: the dot for spherical k-means, −d² for
    * Euclidean (negation is exact, so argmax −d² is argmin d²). */
  private def score(p: Array[Double], off: Int, c: Array[Double],
      spherical: Boolean): Double =
    if (spherical) dotAt(p, off, c)
    else {
      var s = 0.0; var t = 0
      while (t < c.length) { val df = p(off + t) - c(t); s += df * df; t += 1 }
      -s
    }

  /** The index of the best-scoring centroid (the first on ties) and its
    * [[score]]. */
  private def nearest(p: Array[Double], off: Int, cents: Array[Array[Double]],
      spherical: Boolean): (Int, Double) = {
    var best = 0; var bestS = score(p, off, cents(0), spherical); var j = 1
    while (j < cents.length) {
      val s = score(p, off, cents(j), spherical)
      if (s > bestS) { bestS = s; best = j }
      j += 1
    }
    (best, bestS)
  }

  /** One k-means run over the `[off, off + dsub)` slice of every point —
    * the k-means++ seeding and Lloyd loop of all three quantizer
    * trainers. Seeding reads one pre-drawn uniform per centroid
    * (k = `draws.length`): the first picks a point uniformly, each later
    * one picks by D² sampling on the distance to the nearest chosen
    * centroid (1 − dot spherical, d² Euclidean). Each of the `iters`
    * Lloyd rounds assigns every point to its [[nearest]] centroid, then
    * moves each non-empty cell's centroid to the normalized sum of its
    * points (spherical) or their mean (Euclidean); an emptied cell keeps
    * its centroid. Pure driver-side compute on the bounded sample, so
    * the cost is constant in corpus size. */
  private def kmeans(pts: Array[Array[Double]], off: Int, dsub: Int,
      draws: Array[Double], iters: Int, spherical: Boolean): Array[Array[Double]] = {
    val k = draws.length
    def dist(p: Array[Double], c: Array[Double]): Double = {
      val s = score(p, off, c, spherical)
      if (spherical) 1.0 - s else -s
    }
    def slice(i: Int) = java.util.Arrays.copyOfRange(pts(i), off, off + dsub)
    val cents = new Array[Array[Double]](k)
    cents(0) = slice((draws(0) * pts.length).toInt.min(pts.length - 1))
    val bestD = pts.map(dist(_, cents(0)))
    var c = 1
    while (c < k) {
      var r = draws(c) * bestD.sum
      var pick = 0
      while (pick < pts.length - 1 && r > bestD(pick)) { r -= bestD(pick); pick += 1 }
      cents(c) = slice(pick)
      var i = 0
      while (i < pts.length) {
        val d = dist(pts(i), cents(c))
        if (d < bestD(i)) bestD(i) = d
        i += 1
      }
      c += 1
    }
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dsub))
      val counts = new Array[Int](k)
      pts.foreach { p =>
        val j = nearest(p, off, cents, spherical)._1
        val acc = sums(j)
        var t = 0
        while (t < dsub) { acc(t) += p(off + t); t += 1 }
        counts(j) += 1
      }
      var j = 0
      while (j < k) {
        if (counts(j) > 0)
          cents(j) = if (spherical) normalize(sums(j)) else sums(j).map(_ / counts(j))
        j += 1
      }
      it += 1
    }
    cents
  }

  /** `f(0)`, …, `f(n - 1)` as parallel tasks on the common pool,
    * results in index order — so the trainers stay bit-for-bit the
    * serial loop's. */
  private def inParallel[T](n: Int)(f: Int => T): IndexedSeq[T] =
    (0 until n).map(i => java.util.concurrent.CompletableFuture.supplyAsync(() => f(i)))
      .map(_.join())

  /** Spherical k-means centroids for IVF coarse quantization, trained
    * on a DETERMINISTIC BOUNDED sample of the corpus — the standard
    * IVF training step (FAISS-style: train on a sample, assign at
    * scale). One driver collect of ≤ `sampleSize` vectors chosen by
    * hash order (`TakeOrderedAndProject` — a top-k, never a full
    * sort), then [[kmeans]] locally: at 100 TB the training cost is
    * unchanged, and cell assignment stays fully distributed. Vectors
    * (and centroids after every update) are L2-normalized so
    * argmax-dot = argmax-cosine, matching the search metric; zero-norm
    * vectors stay in the sample. The best of four restarts by final
    * quantization error Σ(1 − best dot) wins: cell placement bounds IVF
    * recall, since a bad seeding wastes cells on one dense region and
    * splits true neighbourhoods across cells, which nprobe then can't
    * recover. Deterministic: hash-ordered sample, splitmix64 seeding,
    * fixed iteration count — re-runs and resumes agree. Falls back to
    * [[hyperplanes]] directions when the corpus has fewer than `nlist`
    * usable vectors (`dim`, when > 0, fixes that fallback's dimension
    * without a deriveDim job). */
  def trainIvfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, sampleSize: Int = 10000, dim: Int = -1): Array[Array[Double]] = {
    val pts = hashOrderedSample(corpus, idCol, vecCol, sampleSize).map(normalize)
    if (pts.length < nlist)
      return hyperplanes(nlist,
        pts.headOption.map(_.length)
          .getOrElse(if (dim > 0) dim else deriveDim(corpus, vecCol)))
        .map(normalize)
    // the restarts run in parallel; the reduction keeps restart order
    // with strict <, so the first best run wins a tie
    inParallel(IvfRestarts) { r =>
      val next = splitmixUnit(TrainSeed + r * 0x100000001B3L)
      val cents = kmeans(pts, 0, pts(0).length, Array.fill(nlist)(next()),
        IvfIters, spherical = true)
      var err = 0.0
      pts.foreach(p => err += 1.0 - nearest(p, 0, cents, spherical = true)._2)
      (cents, err)
    }.reduceLeft((best, cand) => if (cand._2 < best._2) cand else best)._1
  }

  /** Product-quantization codebooks: `m` per-subspace codebooks of up
    * to `ksub` centroids each (`[m][ksub][dim/m]`), trained with
    * per-subspace Euclidean k-means ([[pqBooks]]) on the SAME
    * hash-ordered ≤`sampleSize` sample, L2-normalized so that
    * Σ_j ⟨q_j, c_{j,code_j}⟩ approximates full cosine. `dim` must
    * split evenly into `m` subspaces (the FAISS constraint; checked
    * only against a real sampled dimension — an empty corpus returns
    * degenerate books and the caller's joins produce the empty result,
    * the [[deriveDim]] discipline). A sample smaller than `ksub`
    * trains that many centroids — codes stay valid, the codebook is
    * just smaller. `ksub` is capped at 256: a PQ code is one byte. */
  def trainPqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ksub: Int = 256, sampleSize: Int = 10000,
      iters: Int = 10, dim: Int = -1): Array[Array[Array[Double]]] = {
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
    pqBooks(unitNonzero(sample), m, d / m, ksub, iters)
  }

  /** The `m` subspace codebooks of [[trainPqCodebooks]] (unit vectors)
    * and [[trainIvfPqCodebooks]] (cell residuals): Euclidean [[kmeans]]
    * over each `dsub`-wide slice, k = min(ksub, points). One splitmix64
    * stream pre-draws k seeding uniforms per subspace in subspace
    * order, so the subspaces train in parallel, each reading its own
    * slice of the draws. No points give one zero centroid per subspace. */
  private def pqBooks(pts: Array[Array[Double]], m: Int, dsub: Int,
      ksub: Int, iters: Int): Array[Array[Array[Double]]] = {
    if (pts.isEmpty) return Array.fill(m)(Array(new Array[Double](dsub)))
    val k = math.min(ksub, pts.length)
    val next = splitmixUnit(TrainSeed)
    val draws = Array.fill(m * k)(next())
    inParallel(m)(j => kmeans(pts, j * dsub, dsub, draws.slice(j * k, j * k + k),
      iters, spherical = false)).toArray
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
      sampleSize: Int = 10000): Array[Array[Array[Double]]] = {
    require(m >= 1, "m must be >= 1")
    require(ksub >= 1 && ksub <= 256,
      s"ksub must be in [1, 256] (a PQ code is one byte), got $ksub")
    require(centroids.nonEmpty, "ivf-pq needs at least one coarse centroid")
    val d = centroids.head.length
    require(d % m == 0, s"dim $d must be divisible by m=$m subspaces")
    val sample = hashOrderedSample(corpus, idCol, vecCol, sampleSize)
    sample.foreach(v => require(v.length == d,
      s"sampled vector dim ${v.length} != coarse centroid dim $d"))
    // assign each unit vector to its nearest coarse centroid (argmax
    // dot, ties keep the lower cell — the IvfCells / PqResidualCodes
    // contract) and keep the residual. Zero residuals (a vector equal
    // to its centroid) are valid k-means points.
    val residuals = unitNonzero(sample).map { u =>
      var cell = 0; var bestS = Double.NegativeInfinity; var c = 0
      while (c < centroids.length) {
        val s = dotAt(u, 0, centroids(c))
        if (s > bestS) { bestS = s; cell = c }
        c += 1
      }
      val cent = centroids(cell)
      var i = 0
      while (i < d) { u(i) -= cent(i); i += 1 }
      u
    }
    pqBooks(residuals, m, d / m, ksub, ResidualIters)
  }

  /** One approximate-nearest-neighbour index, composed the way the
    * FAISS index factory composes them: an optional IVF coarse
    * quantizer × a vector code × exact rerank. Every kind returns the
    * (qid, vec_id, cos, rn) top-k of `AnnIndex(None, Flat)`, the exact
    * search, ranked by the same rounded-cosine/id order, so results
    * differ from exact only when a true neighbour was pruned or fell
    * outside the shortlist.
    *
    *  - `coarse` = Some(centroids) ([[trainIvfCentroids]]) puts every
    *    corpus vector in ONE cell, its nearest centroid, and a query
    *    scans only its `nprobe` closest cells: a scanned row pairs with
    *    the queries that probe its cell, so each (query, candidate)
    *    pair is scored at most once. A written index holds one parquet
    *    file per cell, and for ANY query relation — a filtered scan or
    *    a literal batch alike — the codes scan reads only the probed
    *    cells' files, through a static partition filter built from the
    *    collected query side. Recall is bounded by the pruning: 16 of 32
    *    cells measured 0.888–0.900 top-10 across sf0.001–0.1 for every
    *    code (8 of 16 measured 0.76–0.84 at the same scan fraction;
    *    floored at 0.75 by `embed_ann_recall`). At warehouse scale
    *    raise nlist (~√N, the FAISS rule) and tune nprobe. None scans
    *    the whole corpus against every query.
    *  - `code` is what the scan scores. [[AnnIndex.Flat]] scores the
    *    float vectors exactly and ranks them directly.
    *    [[AnnIndex.Sq8]] scores int8 codes ([[graft.functions.Quantize]],
    *    8× lighter than float64) and [[AnnIndex.Pq]] m-byte product
    *    codes by per-query ADC table lookups; under a coarse quantizer
    *    the PQ books encode the cell RESIDUAL
    *    ([[trainIvfPqCodebooks]]) and a pair scores ⟨q,c_cell⟩ + ADC.
    *  - a quantized scan keeps the `k·refine` best candidates per query
    *    and reranks only those on full-precision cosine: the rerank
    *    scan of the corpus reads only the shortlisted ids' vectors (at
    *    most |Q|·k·refine, an id filter on the scan), so no float
    *    vector is ever shuffled. SQ8 at refine 4
    *    measured top-10 recall ≥ 0.98;
    *    PQ defaults to refine 8 because its per-subspace error is
    *    coarser than per-dimension rounding.
    *
    * [[search]] is eager and shuffle-free: the query side is
    * collected on the driver, one scan job ranks in bounded per-task
    * tops, and the rerank is one more scan (see there).
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

    /** Top-`k` neighbours of every (qid, qv) query, as (qid, vec_id,
      * cos, rn) — qid keeps its type in `queries`, vec_id the type of
      * `idCol`. The scan reads `codes` — [[AnnIndex.read]]'s relation
      * for a written index — or, when null, encodes `corpus` inline;
      * either way `corpus` feeds only the exact rerank of the shortlist.
      *
      * EAGER: the search runs its jobs when called and returns the
      * ranked rows as a local relation. A request is three steps with
      * no shuffle, so no plan it executes holds an Exchange or a Window:
      *  1. `queries` are collected with each code's per-query input
      *     (int8 codes, ADC table, centroid dots) and, under IVF, their
      *     probed cells. These are the same kernels the scan would run,
      *     so the values are bit-identical, and a literal batch's
      *     projection folds into its local relation without a job.
      *     They reach the scan as literals: a written IVF index is read
      *     only in the probed cells' files (a static `cell IN (…)`
      *     partition filter), and each scanned row pairs with the
      *     queries that probe its cell.
      *  2. ONE scan job ranks: each task keeps the best `k·refine`
      *     candidates per query (`k` for Flat), and the partial tops
      *     merge on the driver ([[topPerQuery]]).
      *  3. the exact rerank reads only the shortlisted ids' vectors
      *     from `corpus` (an id filter on its scan) and ranks their
      *     rounded cosine the same way: the float vectors are never
      *     shuffled, whatever the corpus size.
      * Each task holds at most |Q|·k·refine rows, and so does the
      * driver after each merge. */
    def search(corpus: DataFrame, idCol: String, vecCol: String,
        queries: DataFrame, k: Int, nprobe: Int = 16,
        refine: Int = code.refine, codes: DataFrame = null): DataFrame = {
      // the code's per-query kernel input — the ADC table is
      // cell-independent, residual books being shared across cells —
      // and the score of a (corpus row, query) pair
      val (inputs, score) = code match {
        case Flat => (Nil, round(cosine(col("v"), col("qv")), 6))
        case Sq8 => (Seq("qcodes" -> Quantize.int8(col("qv"))),
          Quantize.cosine(col("codes"), col("qcodes")))
        case Pq(books) =>
          val adc = graft.functions.Pq.adcScore(col("pq_codes"), col("qtable"))
          (("qtable" -> graft.functions.Pq.adcTable(col("qv"), books)) +:
            coarse.map(cents => "cdots" -> CentroidDots.dots(col("qv"), cents)).toSeq,
            if (coarse.isEmpty) adc else element_at(col("cdots"), col("cell") + 1) + adc)
      }
      // 1. the query side on the driver
      val q = queries.select((col("qid") +: col("qv") +: inputs.map { case (n, c) => c.as(n) }) ++
        coarse.map(cents => IvfCells.cells(col("qv"), cents, nprobe).as("cells")): _*)
      val side = q.collect()
      def at(name: String): Column = queryAt(side, q.schema, name)
      // per cell, the queries that probe it
      val probing = coarse.map(cents => Array.tabulate(cents.length)(c => side.indices.filter(i =>
        Option(side(i).getAs[collection.Seq[Int]]("cells")).exists(_.contains(c))).toArray))
      // 2. one scan job ranks the (candidate, query) pairs
      val scan = Option(codes).fold(encode(corpus, idCol, vecCol))(c => probing.fold(c)(p =>
        c.filter(col("cell").isin(p.indices.filter(p(_).nonEmpty): _*))))
      val pairs = scan
        .select(col("*"), explode(probing.fold(typedLit(side.indices.toArray))(p =>
          typedLit(p).getItem(col("cell")))).as("qidx"))
        .filter(col("vec_id") =!= at("qid"))
        .select(col("*") +: ("qv" +: inputs.map(_._1)).map(n => at(n).as(n)): _*)
        .select(col("qidx"), col("vec_id"), score)
      val short = topPerQuery(pairs, side.length, if (code == Flat) k else k * refine)
      val (scored, ranked) = if (code == Flat) (pairs, short) else {
        // 3. the exact rerank of the shortlisted ids, each paired with
        // the queries that shortlisted it
        val shortType = pairs.schema("vec_id").dataType
        val owners = short.indices.flatMap(i => short(i).map(r => r.get(1, shortType) -> i))
          .groupMap(_._1)(_._2).toSeq
        val byId = ColumnBridge.column(Literal(ArrayBasedMapData(owners.map(_._1).toArray,
            owners.map(o => new GenericArrayData(o._2.toArray)).toArray),
          MapType(shortType, ArrayType(IntegerType, containsNull = false), valueContainsNull = false)))
        val reranked = corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
          .filter(ColumnBridge.column(In(ColumnBridge.expression(col("vec_id")),
            owners.map(o => Literal(o._1, shortType)))))
          .select(col("v"), col("vec_id"), explode(byId.getItem(col("vec_id"))).as("qidx"))
          .select(col("qidx"), col("vec_id"), round(cosine(col("v"), at("qv")), 6))
        (reranked, topPerQuery(reranked, side.length, k))
      }
      rankedRelation(corpus.sparkSession, side, q.schema("qid"),
        scored.schema("vec_id").dataType, ranked)
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
      * codes relation for [[AnnIndex.search]].
      *
      * A session holds what it opened, per path, while the index on
      * disk is unchanged: a warm open starts no job and reads no footer,
      * and the codes relation keeps its file index. Unchanged means the
      * same [[stampOf]] — the (path, length, modification time) of every
      * entry listed directly under `path`, `path`/codes,
      * `path`/centroids and `path`/codebooks, a missing dir stamped as
      * absent — which four listings check. Any other stamp drops the
      * held entry and opens afresh. A cold open reads one part file's
      * footer for the codes' schema ([[graft.sources.ParquetCompact.open]];
      * under IVF the file sits in a `cell=*` dir and partition
      * discovery adds `cell`) and runs one job, the collect of the
      * centroids and codebooks, which are validated as they are read:
      * a truncated or corrupt index fails loud, naming the part, instead
      * of an opaque empty-max error or a per-row dimension mismatch on
      * executors. Two requests that both miss both open; the last one's
      * entry stays. */
    def read(spark: SparkSession, path: String): (AnnIndex, DataFrame) = {
      val root = new Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val key = fs.makeQualified(root).toString
      val stamp = stampOf(fs, root)
      val held = opened.get(spark, key).filter(_.stamp == stamp).getOrElse {
        opened.remove(spark, key)
        val fresh = open(spark, path, stamp)
        opened.put(spark, key, fresh)
        fresh
      }
      (held.index, held.codes)
    }

    /** Per listed dir, its entries' (path, length, mtime); None if absent. */
    private type Stamp = Seq[Option[Set[(String, Long, Long)]]]

    /** An opened index and the stamp of the files it was read from. */
    private final case class Opened(stamp: Stamp, index: AnnIndex, codes: DataFrame)

    /** Every index a session opened, by qualified path. */
    private val opened = new graft.SessionMap[String, Opened]()

    /** The (path, length, modification time) of each entry listed
      * directly under `root` and its three part dirs; None for a missing
      * dir. A length and an mtime are all a listing's status is read
      * for: an owner, group or permission would be looked up per file,
      * which a local file system without native Hadoop does by forking
      * a shell. */
    private def stampOf(fs: FileSystem, root: Path): Stamp =
      (root +: Seq("codes", "centroids", "codebooks").map(new Path(root, _))).map { dir =>
        try Some(fs.listStatus(dir).map(st =>
          (st.getPath.toString, st.getLen, st.getModificationTime)).toSet)
        catch { case _: FileNotFoundException => None }
      }

    /** A cold open of `path` (see [[read]]), held under `stamp`. */
    private def open(spark: SparkSession, path: String, stamp: Stamp): Opened = {
      val codes = graft.sources.ParquetCompact.open(spark, s"$path/codes")
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
      Opened(stamp, AnnIndex(coarse, code), codes.select((col("vec_id") +: coarse.map(_ =>
        col("cell").cast("int").as("cell")).toSeq) :+ col(code.column): _*))
    }

    /** All rows of a metadata relation — int `keys` then the `centroid`
      * array, the schema [[AnnIndex.write]] gives it, so no inference
      * job — ordered by its keys on the driver, which collects them
      * anyway. */
    private def metadataAt(spark: SparkSession, dir: String, keys: String*): Array[Row] = {
      val schema = (keys.map(k => s"$k INT") :+ "centroid ARRAY<DOUBLE>").mkString(", ")
      val rows =
        try spark.read.schema(schema).parquet(dir).collect()
        catch { case e: AnalysisException =>
          throw new IllegalArgumentException(s"ANN index part missing or empty at $dir", e) }
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
