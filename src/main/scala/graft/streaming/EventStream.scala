package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Scale

/** Structured Streaming over the event log — the streaming face of the
  * same operators the batch layer runs (the reference itself is
  * batch-only, SURVEY §2.10; this is the pipeline-layer extension).
  * The aggregation expressions are IDENTICAL to graft.operators.Windows
  * — one definition, two execution modes — which is the point of
  * building on Spark: the 100 TB batch plan and the live stream share
  * code.
  */
object EventStream {

  /** One event-log row; `value` is None where the log holds NULL. */
  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Option[Double])

  final case class SessionState(count: Long, valueSum: Double, lastTs: Long)

  final case class UserSession(user_id: Long, events: Long,
      value_sum: Double, closed: Boolean)

  /** File-source stream over the event parquet, robust to how the
    * writer annotated `ts` — streaming sources cannot infer schemas,
    * and declaring the wrong one is not always an analysis error:
    * declaring LONG over a MICROS column hands back raw micros, which
    * a nanos→micros `div 1000` then silently compresses 1000×
    * (caught when the fixture switched NANOS→NTZ-micros; the spec now
    * pins actual window timestamps, not just counts). So peek at the
    * batch reader's resolved type for the SAME path first — one
    * footer read on the driver ([[graft.sources.ParquetCompact.schemaOf]],
    * no inference job) — and declare the streaming schema to match:
    * TIMESTAMP(NANOS) surfaces as LONG (nanosAsLong conf) and floors
    * to micros like the batch reader (graft.queries.Tables.events);
    * NTZ normalizes under the naive==UTC contract
    * ([[graft.functions.Ts]]); UTC-adjusted passes through. */
  def readEvents(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType = graft.sources.ParquetCompact.schemaOf(spark, path)("ts").dataType
    def stream(tsDdl: String) = spark.readStream
      .schema(s"event_id LONG, ts $tsDdl, user_id LONG, event_type STRING, value DOUBLE")
      .parquet(path)
    tsType match {
      case org.apache.spark.sql.types.LongType =>
        stream("LONG").withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        stream("TIMESTAMP_NTZ")
          .withColumn("ts", graft.functions.Ts.toUtcInstant(col("ts")))
      case _ =>
        stream("TIMESTAMP")
    }
  }

  /** Tumbling window counts with a watermark: late events beyond
    * `lateness` are dropped and state for closed windows is evicted —
    * the unbounded-state guard a real pipeline needs. */
  def tumblingCounts(events: DataFrame, width: String = "1 hour",
      lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("val_sum"))
      .select(col("w.start").as("ws"), col("event_type"),
        col("cnt"), col("val_sum"))

  /** Custom per-user session state via mapGroupsWithState: counts and
    * sums events per user — the arbitrary-stateful-operator escape
    * hatch for logic windows can't express. A NULL `value` sums as 0.0:
    * the reference's rule that an absent value is 0.0 (SURVEY §1). Pass
    * `timeoutMs > 0` to arm a processing-time timeout that closes idle
    * sessions (note the engine then triggers empty maintenance batches
    * on a timer; leave it off for deterministic drain-and-stop runs
    * like tests). */
  def userSessions(spark: SparkSession, events: DataFrame,
      timeoutMs: Long = 0L): Dataset[UserSession] = {
    import spark.implicits._
    val timeout =
      if (timeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.as[Event]
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, UserSession](timeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            UserSession(userId, s.count, s.valueSum, closed = true)
          } else {
            val prev = state.getOption.getOrElse(SessionState(0L, 0.0, 0L))
            var count = prev.count
            var sum = prev.valueSum
            var last = prev.lastTs
            batch.foreach { e =>
              count += 1
              sum += e.value.getOrElse(0.0)
              last = math.max(last, e.ts.getTime)
            }
            state.update(SessionState(count, sum, last))
            if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
            UserSession(userId, count, sum, closed = false)
          }
      }
  }

  /** Per-user merged session intervals `[start, end]` in epoch micros
    * plus the running event count — the state for [[gapSessions]].
    * Bounded by the user's true session count, not their event count:
    * every event lands in exactly one interval and intervals at most
    * `gap` apart coalesce. */
  final case class GapSessionState(bounds: List[(Long, Long)], events: Long)

  final case class UserGapSessions(user_id: Long, sessions: Long, events: Long)

  /** Gap-based sessionization as an ARRIVAL-ORDER-ROBUST streaming
    * state machine: a session is a maximal run of a user's events with
    * no silence > `gapMicros` (default 30 min — the same contract as
    * the `user_sessions_batch` LAG query, strict `>`: a gap of exactly
    * 30 min continues the session).
    *
    * The naive incremental formulation ("compare each event to the
    * previous one") silently miscounts when events straddle
    * micro-batches out of time order — file-source micro-batches carry
    * no per-user ordering guarantee. Instead the state holds the
    * user's MERGED session intervals: each event enters as a point
    * interval, intervals ≤ gap apart coalesce, and the session count
    * is simply the interval count — the same answer for every
    * interleaving of arrivals, so stream ≡ batch holds by construction
    * rather than by luck of file order. State is bounded by the true
    * session count (production deployments cap it further by closing
    * intervals older than the watermark; this finite-drain entry point
    * keeps all of them so the result is exact).
    *
    * Emits a per-user snapshot every micro-batch that touches the user
    * (Update mode); `events` strictly grows per emission, so the final
    * state is the row with the max `events` per user. */
  def gapSessions(spark: SparkSession, events: DataFrame,
      gapMicros: Long = 30L * 60 * 1000000L): Dataset[UserGapSessions] = {
    import spark.implicits._
    events.as[Event]
      .groupByKey(_.user_id)
      .mapGroupsWithState[GapSessionState, UserGapSessions](
        GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[GapSessionState]) =>
          val prev = state.getOption.getOrElse(GapSessionState(Nil, 0L))
          val fresh = batch.map(pointInterval).toList
          val merged = mergeIntervals(
            prev.bounds.map { case (s, e) => (s, e, 0L) } ++ fresh, gapMicros)
          val nEvents = prev.events + fresh.size
          state.update(GapSessionState(merged.map(iv => (iv._1, iv._2)), nEvents))
          UserGapSessions(userId, merged.size.toLong, nEvents)
      }
  }

  /** One event as a point interval (tsMicros, tsMicros, 1 event). */
  private def pointInterval(e: Event): (Long, Long, Long) = {
    val i = e.ts.toInstant
    val us = i.getEpochSecond * 1000000L + i.getNano / 1000L
    (us, us, 1L)
  }

  /** The interval merge both gap sessionizers run: (start, end, events)
    * intervals at most `gapMicros` apart coalesce (strict `>` splits),
    * returned ascending by start. */
  private def mergeIntervals(ivs: Seq[(Long, Long, Long)],
      gapMicros: Long): List[(Long, Long, Long)] =
    ivs.sortBy(_._1).foldLeft(List.empty[(Long, Long, Long)]) {
      case ((s0, e0, c0) :: tail, (s1, e1, c1)) if s1 - e0 <= gapMicros =>
        (s0, math.max(e0, e1), c0 + c1) :: tail
      case (acc, iv) => iv :: acc
    }.reverse

  /** State for [[gapSessionsWatermarked]]: open session intervals as
    * (startMicros, endMicros, eventCount). */
  final case class GapIntervals(intervals: List[(Long, Long, Long)])

  /** One finished session: micro-exact bounds + its event count. */
  final case class ClosedSession(user_id: Long, session_start_us: Long,
      session_end_us: Long, events: Long)

  /** PRODUCTION-shape gap sessionization: the same interval-merge
    * state machine as [[gapSessions]], but UNBOUNDED-RUN safe — a
    * session is emitted (Append mode) and evicted from the state store
    * once the event-time watermark passes `end + gap`, at which point
    * no non-late event can extend it (an event that could would be
    * older than the watermark and is dropped at the source). An
    * event-time timeout re-invokes idle users so sessions close on
    * watermark progress alone, without waiting for the user's next
    * event. State per user = OPEN intervals only — in steady state a
    * handful of tuples, independent of history length, which is the
    * difference between this and the finite-drain variant (that one
    * keeps all intervals so a drain can report exact totals).
    *
    * Out-of-order arrivals WITHIN the allowed lateness merge exactly
    * like the drain variant (intervals re-merge on every batch);
    * arrivals beyond `lateness` are dropped by the watermark — the
    * standard streaming accuracy/state tradeoff, chosen here by the
    * caller via `lateness`. */
  def gapSessionsWatermarked(spark: SparkSession, events: DataFrame,
      gapMicros: Long = 30L * 60 * 1000000L,
      lateness: String = "1 hour"): Dataset[ClosedSession] = {
    import spark.implicits._
    events.withWatermark("ts", lateness).as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[GapIntervals, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[GapIntervals]) =>
          val prev = state.getOption.getOrElse(GapIntervals(Nil))
          val merged = mergeIntervals(
            prev.intervals ++ batch.map(pointInterval), gapMicros)
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (closed, open) = merged.partition(iv => iv._2 + gapMicros < wmUs)
          if (open.isEmpty) state.remove()
          else {
            state.update(GapIntervals(open))
            // fire at the EARLIEST close time among open intervals:
            // with several open intervals, keying the timeout off the
            // max would hold the earlier session in state until the
            // latest one's close time even though the watermark had
            // already passed its own end + gap. Strictly above the
            // watermark by construction (every open interval has
            // end + gap >= wm), and +1 ms breaks the tie.
            state.setTimeoutTimestamp(
              (open.map(_._2).min + gapMicros) / 1000L + 1L)
          }
          closed.iterator.map { case (s, e, c) =>
            ClosedSession(userId, s, e, c) }
      }
  }

  /** Driver-visible face of [[gapSessions]] (the `user_sessions_stream`
    * query): drain the event fixture through the streaming state
    * machine in real micro-batches and reduce the Update-mode snapshot
    * stream to each user's final state — hash-comparable against the
    * same LAG/SUM SQL oracle as `user_sessions_batch`. */
  def gapSessionsDrained(spark: SparkSession, events: DataFrame,
      files: Int = 4): DataFrame =
    drainEventsStaged(spark, events, files, OutputMode.Update)(stream =>
      gapSessions(spark, stream).toDF())(sink =>
      sink.groupBy(col("user_id"))
        .agg(max_by(col("sessions"), col("events")).as("sessions"),
          max(col("events")).as("events")))

  /** Streaming deduplication WITHIN the watermark horizon: keeps the
    * first document per 256-bit text digest among documents whose
    * event times fall inside the same `lateness` window. Uses
    * dropDuplicatesWithinWatermark so the state store evicts entries
    * past the watermark (plain dropDuplicates on a non-event-time key
    * keeps state forever despite the watermark) — the fundamental
    * streaming tradeoff: bounded state means a text recurring AFTER
    * the horizon is emitted again. For global exactness run the batch
    * Dedup.exactDuplicates over the accumulated output periodically.
    * Input needs (doc_id, text, ts). */
  def streamingExactDedup(docs: DataFrame, lateness: String = "1 hour"): DataFrame =
    docs
      .withColumn("text_sha", sha2(col("text"), 256))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("text_sha")

  /** Streaming near-duplicate ingestion — the steady-state corpus
    * loop (probe → keep → admit, [[ingestBatch]]) as one
    * `foreachBatch`: every micro-batch probes the PERSISTED signature
    * index (graft.operators.Dedup), hands the found (doc_new,
    * doc_indexed, jaccard) pairs to `onPairs` (route them to a
    * sink/table), and admits the batch's non-duplicate survivors into
    * the index so later batches deduplicate against them. Within one
    * micro-batch, documents are probed against the index as it stood
    * BEFORE the batch — compose `Dedup.exactDuplicates` upstream if
    * intra-batch duplicates matter. The index grows by plain parquet
    * appends; a failed batch retried by the engine re-probes before
    * re-admitting, so duplicate admission needs idempotent ids
    * upstream.
    *
    * `admitMatched` = audit mode: matched documents are indexed anyway
    * (the dedup decision is deferred downstream), so the index holds
    * the full corpus and the emitted pairs are exactly the cross-batch
    * true pairs — a deterministic set for a deterministic batch split,
    * whatever order the engine processes batches in. */
  def nearDupIngest(docs: DataFrame, idCol: String, textCol: String,
      indexPath: String, threshold: Double = 0.8,
      admitMatched: Boolean = false, maxIndexFiles: Int = 64)(
      onPairs: (DataFrame, Long) => Unit) = {
    import graft.operators.Dedup
    // index params read ONCE at stream start (the index exists before
    // ingestion begins — the probe contract), not twice per
    // micro-batch: at streaming cadence the per-batch sidecar opens
    // were pure fixed overhead
    val params @ (shingleN, _, _) =
      Dedup.readIndexParams(docs.sparkSession, indexPath)
    ingest(docs, admitMatched, onPairs, IngestFamily(
      // ONE tokenize+shingle-hash pass per micro-batch, staged and
      // shared by the probe and the admit
      stage = Dedup.signatures(_, idCol, textCol, shingleN),
      probe = sig => Dedup.incrementalNearDuplicatesOfSig(
        sig.select(col("doc").as("doc_new"), col("sh").as("sh_new")),
        indexPath, params, threshold),
      admit = Dedup.appendSigNoCompact(_, indexPath, params),
      compact = Dedup.compactNearDupIndex(_, indexPath, maxIndexFiles),
      ids = ("doc_new", "doc")))
  }

  /** What one streaming dedup family plugs into [[ingestBatch]]:
    * `stage` is the projection of a micro-batch that the loop
    * checkpoints once for both the probe and the admit; `probe` builds the staged batch's pair plan against the
    * persisted index; `admit` appends staged rows to the index without
    * compacting it; `compact` is the index's size-triggered rewrite;
    * `ids` = (probe id column, staged id column), the key dedup mode
    * anti-joins the probe's matches on. */
  private[graft] final case class IngestFamily(
      stage: DataFrame => DataFrame,
      probe: DataFrame => DataFrame,
      admit: DataFrame => Unit,
      compact: SparkSession => Unit,
      ids: (String, String))

  private def ingest(src: DataFrame, admitMatched: Boolean,
      onPairs: (DataFrame, Long) => Unit, f: IngestFamily) =
    src.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        onPairs(ingestBatch(f, admitMatched, batch.toDF(), batchId), batchId)
      }
      .start()

  /** One micro-batch of the probe → keep → admit loop, the same for
    * every [[IngestFamily]]; returns the batch's checkpointed pairs.
    *
    * The index rule every family relies on is stated here only: the
    * probe plan is BUILT before any append, so opening the index
    * ([[graft.sources.ParquetCompact.open]]) snapshots its file
    * listing and the probe sees the index as it stood before this
    * batch whatever runs when; appends only ADD files, so they may
    * run while the probe reads; compaction DELETES files, so it runs
    * only after the probe has finished.
    *
    * Dedup mode checkpoints the probe, then admits the staged rows
    * whose id it did not match — strictly sequential. Audit mode
    * (`admitMatched`) admits the whole staged batch, which does not
    * depend on the probe, so the probe jobs run on their own thread
    * CONCURRENTLY with the append (guide §2.6: half of each
    * micro-batch's wall was the other half's driver planning gaps). A
    * failed append still AWAITS the probe before propagating: the
    * drain's cleanup deletes the staging/index dirs, and racing that
    * delete against still-running probe jobs turns one failure into a
    * cascade. The staged batch's checkpoint blocks are released when
    * the batch ends, so a long stream holds only the pairs it returned. */
  private[graft] def ingestBatch(f: IngestFamily, admitMatched: Boolean,
      batch: DataFrame, batchId: Long): DataFrame = {
    val staged = f.stage(batch).localCheckpoint()
    try {
      val probe = f.probe(staged)
      val pairs = if (!admitMatched) {
        val p = probe.localCheckpoint()
        val (probeId, stagedId) = f.ids
        f.admit(staged.join(p.select(col(probeId).as(stagedId)).distinct(),
          Seq(stagedId), "left_anti"))
        p
      } else {
        val task = new java.util.concurrent.FutureTask(
          () => probe.localCheckpoint())
        val t = new Thread(task, s"graft-probe-batch-$batchId")
        t.setDaemon(true)
        t.start()
        try f.admit(staged)
        catch { case e: Throwable =>
          try task.get() catch { case _: Throwable => () }
          throw e
        }
        try task.get()
        catch { case e: java.util.concurrent.ExecutionException =>
          throw Option(e.getCause).getOrElse(e) }
      }
      f.compact(staged.sparkSession)
      pairs
    } finally Scale.releaseCheckpoint(staged)
  }

  /** Driver-visible face of [[nearDupIngest]] (the `stream_near_dup`
    * query): run documents through the REAL probe-then-admit streaming
    * loop and return the found pairs as a batch DataFrame. Documents
    * are staged as one parquet file per `doc_id % files` class and
    * streamed with `maxFilesPerTrigger=1`, so the drain executes
    * `files` genuine micro-batches against a growing persisted index.
    * Audit mode (admit-all) + direction-normalized output make the
    * result independent of the engine's file-processing order: a true
    * pair is emitted iff its documents land in DIFFERENT batches
    * (whichever arrives second reports the first), so the set is
    * exactly {(lo, hi, j): j ≥ threshold, lo % files ≠ hi % files} —
    * which the exact-Jaccard SQL oracle expresses directly. */
  def nearDupIngestDrained(spark: SparkSession, docs: DataFrame,
      threshold: Double = 0.8, files: Int = 4,
      maxIndexFiles: Int = 64): DataFrame = {
    import graft.operators.Dedup
    drainIngest(spark, docs.select(col("doc_id"), col("text")), "doc_id",
      files, "neardup", "doc_lo LONG, doc_hi LONG, jaccard DOUBLE")(
      prepare = (src, idx) =>
        Dedup.writeNearDupIndex(src.limit(0), "doc_id", "text", idx,
          shingleN = 3, k = 128, bands = 32))(
      start = (stage, idx, collect) => nearDupIngest(
        spark.readStream.schema("doc_id LONG, text STRING")
          .option("maxFilesPerTrigger", "1").parquet(stage),
        "doc_id", "text", idx, threshold, admitMatched = true,
        maxIndexFiles = maxIndexFiles)(collect))(
      normalize = _.select(
        least(col("doc_new"), col("doc_indexed")).as("doc_lo"),
        greatest(col("doc_new"), col("doc_indexed")).as("doc_hi"),
        col("jaccard")))
  }

  /** Shared scaffold of the drained ingest queries: stage `src` as one
    * parquet file per `keyCol % files` residue class (batch membership
    * is then a pure key property, deterministic whatever order the
    * file source picks the files up in), `prepare` an empty index of
    * `src`'s schema, run the `start`ed probe-then-admit query to
    * completion, union the per-batch pair frames (each already
    * checkpointed by the ingest loop) and direction-`normalize`. All
    * of it runs inside [[drain]], which owns the temp dirs. */
  private def drainIngest(spark: SparkSession, src: DataFrame,
      keyCol: String, files: Int, tag: String, emptyDdl: String)(
      prepare: (DataFrame, String) => Unit)(
      start: (String, String, (DataFrame, Long) => Unit) =>
        org.apache.spark.sql.streaming.StreamingQuery)(
      normalize: DataFrame => DataFrame): DataFrame =
    drain(spark, tag, Seq("stage", "index")) { (_, dirs) =>
      val Seq(stage, idx) = dirs
      // ONE staging job writing all residue files (was `files`
      // sequential filter+coalesce(1) jobs — one scan of src per
      // residue class, each paying full job latency). partitionBy
      // splits rows by the residue VALUE within the single coalesced
      // task, so exactly one data file lands per class — the batch-
      // membership contract (one parquet FILE per `keyCol % files`)
      // is unchanged. coalesce(1) is safe here by construction: the
      // drain stages a bounded fixture (this is the finite-drain test
      // harness, not the production ingest path, which reads a real
      // stream). The stream read below declares the data schema; the
      // discovered __res partition column is appended by the source
      // and ignored by every consumer (all select named columns).
      // This write is the only scan of `src`: both prepares read
      // `src.limit(0)`, which the optimizer folds to an empty relation.
      // NOTE: the single write gives every residue file the same
      // modification time, so FileStreamSource's timestamp-ordered
      // pickup no longer replays batches in residue order (the old
      // sequential writes did). Batch ORDER is therefore not
      // deterministic — correctness rests on admitMatched=true plus
      // direction-normalized pairs making the emitted SET a pure
      // property of the batch partition, order-independent by
      // construction. That invariant is load-bearing here.
      src.withColumn("__res", pmod(col(keyCol), lit(files)))
        .coalesce(1)
        .write.partitionBy("__res").mode("overwrite").parquet(stage)
      prepare(src, idx)
      val batches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      val q = start(stage, idx,
        (pairs, _) => batches.synchronized { batches += pairs })
      try q.processAllAvailable() finally q.stop()
      val all = batches.synchronized { batches.toSeq }
      all.reduceOption(_ unionByName _).map(normalize)
        .getOrElse(spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType.fromDDL(emptyDdl)))
    }

  /** Streaming SEMANTIC (embedding-space) near-dup ingestion — the
    * [[nearDupIngest]] loop for vectors: every micro-batch probes a
    * PERSISTED vector index within shared IVF cells, exact-verifies
    * candidate cosines, hands (vec_new, vec_indexed, cos) pairs to
    * `onPairs`, and admits the batch into the index (survivors only,
    * or everything in `admitMatched` audit mode).
    *
    * The probe is SYMMETRIC: both the index rows and the incoming
    * vectors carry their `probes` nearest cells, and a candidate pair
    * forms when the cell SETS intersect. Symmetry is what makes the
    * emitted pair set independent of arrival order — under an
    * asymmetric probe (index keeps one base cell, probe explodes
    * `probes`) a pair whose top cells overlap only one way would be
    * found or missed depending on which side streamed in first, so the
    * same corpus could yield different outputs run to run. Candidate
    * ids are deduped across shared cells BEFORE vectors are fetched —
    * each pair's exact cosine is computed once (the
    * [[graft.operators.Similarity.semanticDuplicates]] discipline).
    * `centroids` are FROZEN, trained offline
    * ([[graft.operators.Similarity.trainIvfCentroids]]) — the FAISS
    * steady-state contract: a quantizer retrain is a batch re-index,
    * never a streaming side effect. Input batches need
    * (idCol, vecCol: array<double>); index rows are
    * (vec_id, v, cells: array<int>). */
  def embeddingIngest(vecs: DataFrame, idCol: String, vecCol: String,
      indexPath: String, centroids: Array[Array[Double]],
      threshold: Double, probes: Int = 2,
      admitMatched: Boolean = false, maxIndexFiles: Int = 64)(
      onPairs: (DataFrame, Long) => Unit) = {
    import graft.operators.Similarity
    val v = Similarity.asDouble(col(vecCol))
    ingest(vecs, admitMatched, onPairs, IngestFamily(
      stage = _.select(col(idCol), v.as("__v"),
        graft.functions.IvfCells.cells(v, centroids, probes).as("__cells")),
      probe = b => {
        val idx = graft.sources.ParquetCompact.open(b.sparkSession, indexPath)
        val probeLeg = b.select(col(idCol).as("vec_new"),
          explode(col("__cells")).as("cell"))
        val idxLeg = idx.select(col("vec_id"), explode(col("cells")).as("cell"))
        val cand = probeLeg.join(idxLeg, Seq("cell"))
          .filter(col("vec_new") =!= col("vec_id"))
          .select(col("vec_new"), col("vec_id").as("vec_indexed"))
          .distinct()
        cand
          .join(b.select(col(idCol).as("vec_new"), col("__v").as("vn")),
            Seq("vec_new"))
          .join(idx.select(col("vec_id").as("vec_indexed"), col("v")),
            Seq("vec_indexed"))
          .select(col("vec_new"), col("vec_indexed"),
            Similarity.cosine(col("vn"), col("v")).as("__c"))
          .filter(col("__c") >= threshold)
          .select(col("vec_new"), col("vec_indexed"),
            round(col("__c"), 6).as("cos"))
      },
      admit = _.select(col(idCol).as("vec_id"), col("__v").as("v"),
          col("__cells").as("cells"))
        .write.mode("append").parquet(indexPath),
      // per-batch appends accumulate small files; past the cap the
      // index is rewritten coalesced (content-preserving, see
      // ParquetCompact) so probe cost tracks index SIZE, not age
      compact = graft.sources.ParquetCompact.compactIfNeeded(_, indexPath,
        maxIndexFiles),
      ids = ("vec_new", idCol)))
  }

  /** Driver-visible face of [[embeddingIngest]] (the
    * `stream_semantic_dup` query): same residue-class staging and
    * audit-mode/direction-normalization contract as
    * [[nearDupIngestDrained]] — the emitted set is the true
    * cosine-≥-threshold pairs whose vectors land in DIFFERENT
    * `vec_id % files` batches and share a probed cell; the symmetric
    * probe makes that set a pure property of the corpus, which the
    * exact-cosine SQL oracle expresses directly. Input needs
    * (vec_id, v: array<double>).
    *
    * `probes` defaults HIGHER than the operator's (3 of `nlist` cells
    * vs 2): the oracle is the exact cross-batch pair set, so the gate
    * implicitly demands 100% recall over the planted twins — a twin
    * pair is missed only if its probed cell sets are disjoint, which
    * at probes=3 requires the near-identical twins (cos ≈ 0.9998) to
    * disagree on ALL THREE nearest centroids. probes=2 left that
    * margin at two boundary flips; one extra probe buys the headroom
    * a centroid retune or new SF could otherwise erode.
    *
    * `certPairs` (pair_lo, pair_hi) is the cell-overlap CERTIFICATE:
    * pairs the caller asserts MUST be reachable through the probe —
    * i.e. both members present in `vecs` and their `probes`-cell sets
    * intersecting under the trained quantizer. The result then carries
    * a constant `cell_ok` boolean column (the sem_ok/lsh_ok pattern):
    * a planted pair whose cells drift apart at a new SF or centroid
    * retune trips `cell_ok` — one targeted red flag — instead of
    * silently missing a row and hash-mismatching the whole result. */
  def embeddingIngestDrained(spark: SparkSession, vecs: DataFrame,
      threshold: Double, files: Int = 4, nlist: Int = 16,
      probes: Int = 3, certPairs: Option[DataFrame] = None,
      maxIndexFiles: Int = 64): DataFrame = {
    import graft.operators.Similarity
    // set inside start (the quantizer is trained on the staged
    // relation); drainIngest runs start synchronously, so this is
    // assigned by the time the drained frame returns
    var cents: Array[Array[Double]] = null
    val out = drainIngest(spark, vecs.select(col("vec_id"), col("v")), "vec_id",
      files, "semdup", "vec_lo LONG, vec_hi LONG, cos DOUBLE")(
      prepare = (src, idx) =>
        // seed an empty index with the right schema; centroids are
        // trained below from the SAME staged relation
        src.limit(0)
          .select(col("vec_id"), col("v"), array().cast("array<int>").as("cells"))
          .write.mode("overwrite").parquet(idx))(
      start = (stage, idx, collect) => {
        // quantizer trained once on the staged corpus (deterministic
        // sample), frozen for every batch — the offline contract
        cents = Similarity.trainIvfCentroids(
          graft.sources.ParquetCompact.open(spark, stage), "vec_id", "v", nlist)
        embeddingIngest(
          spark.readStream.schema("vec_id LONG, v ARRAY<DOUBLE>")
            .option("maxFilesPerTrigger", "1").parquet(stage),
          "vec_id", "v", idx, cents, threshold, probes,
          admitMatched = true, maxIndexFiles = maxIndexFiles)(collect)
      })(
      normalize = _.select(
        least(col("vec_new"), col("vec_indexed")).as("vec_lo"),
        greatest(col("vec_new"), col("vec_indexed")).as("vec_hi"),
        col("cos")))
    certPairs match {
      case None => out
      case Some(cp) =>
        // cents is assigned inside the `start` closure, which
        // drainIngest runs synchronously before returning — but if
        // that contract ever changed (deferred/reordered start), the
        // IvfCells call below would NPE far from the cause; fail loud
        // at the source instead
        require(cents != null,
          "drainIngest returned without running start: the trained " +
            "quantizer is missing, so the cell-overlap certificate " +
            "cannot be built")
        // same frozen quantizer, same probe depth as the drained run;
        // a pair fails if either member is absent OR the cell sets
        // are disjoint (n_join counts presence, n_ov counts overlap).
        // Semi-join to the pair members FIRST: the certificate is
        // constant-size, so the corpus is scanned once (for the semi
        // join) and the IvfCells expression runs only on the members;
        // the checkpoint keeps the two pair-joins below from
        // re-evaluating the corpus plan per leg. NOTE the certificate
        // rides the emitted rows: a TOTAL recall loss (zero emitted
        // pairs) surfaces as the row-count mismatch itself, not as a
        // cell_ok=false row — the flag targets the partial-miss case.
        val members = cp.select(col("pair_lo").as("vec_id"))
          .unionByName(cp.select(col("pair_hi").as("vec_id"))).distinct()
        val withCells = vecs.join(members, Seq("vec_id"), "left_semi")
          .select(col("vec_id"),
            graft.functions.IvfCells.cells(
              Similarity.asDouble(col("v")), cents, probes).as("cells"))
          .localCheckpoint()
        val joined = cp
          .join(withCells.select(col("vec_id").as("pair_lo"),
            col("cells").as("cl")), Seq("pair_lo"))
          .join(withCells.select(col("vec_id").as("pair_hi"),
            col("cells").as("ch")), Seq("pair_hi"))
        val cert = cp.agg(count(lit(1)).as("tot")).crossJoin(
          joined.agg(count(lit(1)).as("n_join"),
            coalesce(sum(when(arrays_overlap(col("cl"), col("ch")), 1L)
              .otherwise(0L)), lit(0L)).as("n_ov")))
          .select((col("n_join") === col("tot") &&
            col("n_ov") === col("tot")).as("cell_ok"))
        out.crossJoin(cert)
    }
  }

  /** The setup and teardown every drain shares: reap orphaned staging
    * ([[sweepOrphanedStaging]]), name one temp dir per `kinds` entry
    * `graft_<tag>_<kind>_<pid>_<n>` (unique per process and call, so
    * concurrent verifies cannot collide), run `body(id, dirs)`, and
    * then — whatever happened — `release(id)` and delete the dirs. The
    * caller's whole drain, staging write included, runs inside `body`,
    * so a failure anywhere still cleans up; a cleanup failure is
    * attached as suppressed to the primary error instead of replacing
    * it, so the root cause propagates. */
  private[graft] def drain[T](spark: SparkSession, tag: String,
      kinds: Seq[String], release: String => Unit = _ => ())(
      body: (String, Seq[String]) => T): T = {
    sweepOrphanedStaging()
    val id = s"${ProcessHandle.current().pid()}_${drainCounter.incrementAndGet()}"
    val tmp = System.getProperty("java.io.tmpdir")
    val dirs = kinds.map(k =>
      new java.io.File(tmp, s"graft_${tag}_${k}_$id").getAbsolutePath)
    var primary: Throwable = null
    try body(id, dirs)
    catch {
      case t: Throwable => primary = t; throw t
    } finally {
      try {
        release(id)
        val fs = new org.apache.hadoop.fs.Path(tmp)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        dirs.foreach(d => fs.delete(new org.apache.hadoop.fs.Path(d), true))
      } catch {
        case c: Throwable =>
          if (primary != null) primary.addSuppressed(c) else throw c
      }
    }
  }

  private val drainCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Reap staging/index dirs abandoned by DEAD processes. Every drain
    * deletes its own dirs in a `finally`, but a SIGKILL'd verify or
    * bench run never reaches it — without a sweep those orphans
    * accumulate in the temp dir across runs forever. Dir names carry
    * the owning pid (`graft_<tag>_<kind>_<pid>_<n>`), so only dirs
    * whose process is gone are touched: a CONCURRENT live run's
    * staging is never deleted, and the current process's own live
    * dirs are skipped by pid. One flat tmpdir listing per drain —
    * noise next to the drain's own staging write. */
  private[graft] def sweepOrphanedStaging(): Unit = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val pat = "graft_[a-z]+_(?:stage|index)_(\\d+)_\\d+".r
    val self = ProcessHandle.current().pid()
    def deleteRecursively(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
      f.delete(); ()
    }
    Option(tmp.listFiles()).getOrElse(Array.empty).foreach { f =>
      f.getName match {
        case pat(pidStr) =>
          val pid = pidStr.toLong
          val alive = pid == self ||
            ProcessHandle.of(pid).map[java.lang.Boolean](_.isAlive)
              .orElse(java.lang.Boolean.FALSE).booleanValue()
          if (!alive) deleteRecursively(f)
        case _ => ()
      }
    }
  }

  /** The driver-visible face of the streaming layer: run the SAME
    * tumbling aggregation as batch `Windows.tumbling` THROUGH the
    * Structured Streaming engine and return the drained result as a
    * batch DataFrame — so the stream's own output can be
    * hash-compared against the batch SQL oracle (the
    * `stream_window_tumbling` query).
    *
    * The input frame is staged as a multi-file parquet directory and
    * streamed with `maxFilesPerTrigger=1`, so the drain executes
    * `files` real micro-batches with incremental state-store updates —
    * not one batch in disguise. Complete output mode + memory sink
    * hold the final aggregate; a watermarked append-mode variant (the
    * production shape, [[tumblingCounts]]) would never emit the
    * trailing windows on a finite drain, which is why this entry
    * point exists separately. Staging/sink names are unique per
    * (process, call) so concurrent verifies cannot collide. */
  def tumblingDrained(spark: SparkSession, events: DataFrame,
      width: String = "1 hour", files: Int = 4): DataFrame =
    drainEventsStaged(spark, events, files, OutputMode.Complete)(stream =>
      stream
        .groupBy(window(col("ts"), width).as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("val_sum"))
        .select(col("w.start").as("ws"), col("event_type"),
          col("cnt"), col("val_sum")))(identity)

  /** Shared drain harness: stage `events` as a `files`-file parquet
    * directory, stream it back with `maxFilesPerTrigger=1` (so `files`
    * REAL micro-batches hit the state store — not one batch in
    * disguise), run `plan` over the stream into a memory sink in
    * `mode`, and return `finish(sink)` checkpoint-detached from the
    * sink (results are bounded aggregate rows). [[drain]] deletes the
    * staged parquet copy and drops the catalog-registered memory table
    * (repeated verify runs would accumulate both); the view drop is a
    * no-op when the failure preceded sink creation, and on success it
    * runs after the result is checkpoint-detached. */
  private def drainEventsStaged(spark: SparkSession, events: DataFrame,
      files: Int, mode: OutputMode)(plan: DataFrame => DataFrame)(
      finish: DataFrame => DataFrame): DataFrame = {
    def sinkName(id: String) = s"graft_stream_drain_$id"
    drain(spark, "stream", Seq("stage"),
        release = id => spark.catalog.dropTempView(sinkName(id))) { (id, dirs) =>
      val Seq(stage) = dirs
      events.select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .repartition(files)
        .write.mode("overwrite").parquet(stage)
      val stream = spark.readStream
        .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
      val q = plan(stream).writeStream.format("memory").queryName(sinkName(id))
        .outputMode(mode).start()
      try q.processAllAvailable() finally q.stop()
      finish(spark.table(sinkName(id))).localCheckpoint()
    }
  }

  /** Wire a streaming frame to an in-memory sink (testing/debugging). */
  def toMemorySink(df: DataFrame, name: String, complete: Boolean = true) =
    df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(if (complete) OutputMode.Complete else OutputMode.Update)
      .start()
}
