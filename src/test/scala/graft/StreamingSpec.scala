package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.EventStream
import graft.streaming.EventStream.Event

/** Structured Streaming behavior: the windowed aggregation must match
  * its batch twin, and the custom session state must accumulate. */
class StreamingSpec extends SparkSpecBase {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  /** Read a timestamp field regardless of whether the plan produced
    * `TIMESTAMP` (java.sql.Timestamp) or `TIMESTAMP_NTZ`
    * (java.time.LocalDateTime) — the fixture's parquet annotation must
    * not decide whether this spec can read its rows. Naive values are
    * interpreted as UTC, the engine-wide contract ([[graft.functions.Ts]]). */
  private def anyTs(r: org.apache.spark.sql.Row, i: Int): java.time.Instant =
    r.get(i) match {
      case t: Timestamp => t.toInstant
      case ldt: java.time.LocalDateTime => ldt.toInstant(java.time.ZoneOffset.UTC)
      case inst: java.time.Instant => inst
      case other => fail(s"unexpected timestamp representation: ${other.getClass}")
    }

  test("streaming tumbling counts equal the batch aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val events = Seq(
      Event(1, ts(0), 1, "click", Some(1.0)),
      Event(2, ts(10), 1, "click", Some(2.0)),
      Event(3, ts(50), 2, "view", Some(3.0)),
      Event(4, ts(59), 2, "click", Some(4.0)))
    val q = EventStream.toMemorySink(
      EventStream.tumblingCounts(input.toDF(), "1 hour", "2 hours"),
      "stream_tumbling")
    try {
      input.addData(events: _*)
      q.processAllAvailable()
      val got = spark.table("stream_tumbling")
        .select("event_type", "cnt", "val_sum").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = events.toDF()
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum("value").as("val_sum"))
        .select("event_type", "cnt", "val_sum").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === batch)
      assert(got === Set(("click", 3L, 7.0), ("view", 1L, 3.0)))
    } finally q.stop()
  }

  test("file-source stream over the raw fixture matches batch (any ts annotation)") {
    // file streams need a directory; stage the fixture into one
    val dir = java.nio.file.Paths.get("target/stream_events")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val stream = EventStream.readEvents(spark, dir.toString)
    val q = EventStream.toMemorySink(
      EventStream.tumblingCounts(stream, "1 hour", "2 hours"), "stream_file")
    try {
      q.processAllAvailable()
      // pin the actual window TIMESTAMPS against the batch aggregation,
      // not just counts: a mis-declared streaming schema can hand back
      // raw micros that a nanos floor compresses 1000× — every event
      // then lands in 1970 and a count-only assert still passes
      val streamed = spark.table("stream_file")
        .collect().map(r => (anyTs(r, 0), r.getString(1), r.getLong(2))).toSet
      val batch = graft.queries.Tables.events(spark, sf)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start"), col("event_type"), col("cnt"))
        .collect().map(r => (anyTs(r, 0), r.getString(1), r.getLong(2))).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("tumblingDrained (driver-visible streaming query) equals batch tumbling") {
    // the stream_window_tumbling query's engine: multi-file staging →
    // several micro-batches → drained Complete-mode sink must equal
    // the batch operator row-for-row (same rounding)
    val ev = graft.queries.Tables.events(spark, sf)
    val streamed = EventStream.tumblingDrained(spark, ev)
      .collect().map(r => (anyTs(r, 0), r.getString(1),
        r.getLong(2), r.getDouble(3))).toSet
    val batch = graft.operators.Windows.tumbling(ev, "1 hour")
      .collect().map(r => (anyTs(r, 0), r.getString(1),
        r.getLong(2), r.getDouble(3))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("gap sessionization state machine is arrival-order-robust") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.toMemorySink(
      EventStream.gapSessions(spark, input.toDF()).toDF(),
      "stream_gap", complete = false)
    try {
      // user 1 truth: 10:00, 10:20, 11:30 → 2 sessions (20 min gap
      // continues, 70 min gap splits). Delivered OUT of time order
      // across micro-batches: the bridging 10:20 event arrives last.
      // user 2: exactly 30 min gap → SAME session (strict > contract).
      // user 3: 30 min + 1 s gap → two sessions.
      input.addData(Event(1, ts(0), 1, "click", Some(1.0)),
        Event(3, Timestamp.valueOf("2024-01-01 11:30:00"), 1, "view", Some(1.0)),
        Event(4, ts(0), 2, "click", Some(1.0)),
        Event(5, Timestamp.valueOf("2024-01-01 10:30:00"), 2, "view", Some(1.0)),
        Event(6, ts(0), 3, "click", Some(1.0)),
        Event(7, Timestamp.valueOf("2024-01-01 10:30:01"), 3, "view", Some(1.0)))
      q.processAllAvailable()
      input.addData(Event(2, ts(20), 1, "click", Some(1.0)))
      q.processAllAvailable()
      val last = spark.table("stream_gap")
        .groupBy(col("user_id"))
        .agg(max_by(col("sessions"), col("events")).as("sessions"),
          max(col("events")).as("events"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(last === Map(1L -> (2L, 3L), 2L -> (1L, 2L), 3L -> (2L, 2L)))
    } finally q.stop()
  }

  test("watermarked gap sessions close exactly when the watermark passes end+gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.gapSessionsWatermarked(spark, input.toDF(),
        lateness = "1 hour")
      .toDF().writeStream.format("memory").queryName("stream_gap_wm")
      .outputMode("append").start()
    try {
      def us(t: Timestamp): Long = {
        val i = t.toInstant; i.getEpochSecond * 1000000L + i.getNano / 1000L
      }
      val t1000 = ts(0); val t1010 = ts(10)
      // batch 1: user 1 session [10:00, 10:10]; nothing can close yet
      input.addData(Event(1, t1000, 1, "click", Some(1.0)),
        Event(2, t1010, 1, "click", Some(1.0)))
      q.processAllAvailable()
      assert(spark.table("stream_gap_wm").count() === 0)
      // batch 2 moves max event time to 20:00 → watermark 19:00 takes
      // effect NEXT batch; 19:00 > 10:10 + 30 min, so batch 3 closes
      // the first session (watermark progress via timeout or new data)
      input.addData(Event(3, Timestamp.valueOf("2024-01-01 20:00:00"), 1, "view", Some(1.0)))
      q.processAllAvailable()
      // batch 3's 23:00 event advances the watermark to 22:00, which
      // passes the [20:00, 20:00] interval's close time (20:30). The
      // state timeout fires off the EARLIEST open close time, so that
      // session closes right here — before the user's next event —
      // while [23:00, 23:00] stays open (23:30 > 22:00). A timeout
      // keyed off the max open close time would hold it until 23:30,
      // the laggard-session bug this pins against.
      input.addData(Event(4, Timestamp.valueOf("2024-01-01 23:00:00"), 1, "view", Some(1.0)))
      q.processAllAvailable()
      val t2000us = us(Timestamp.valueOf("2024-01-01 20:00:00"))
      val closed = spark.table("stream_gap_wm")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(closed === Set((1L, us(t1000), us(t1010), 2L),
        (1L, t2000us, t2000us, 1L)))
    } finally q.stop()
  }

  /** user_id → (sessions, events) of a sessions frame. */
  private def sessionsOf(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
    df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  /** The batch LAG sessionization: a gap over 30 min starts a session. */
  private def batchSessions(ev: org.apache.spark.sql.DataFrame) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"))
    sessionsOf(ev
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull ||
          graft.functions.Ts.epochMicros(col("ts")) -
            graft.functions.Ts.epochMicros(col("prev")) > 1800000000L, 1L)
          .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("new_s")).as("sessions"), count(lit(1)).as("events")))
  }

  test("gapSessionsDrained equals the batch LAG sessionization on the fixture") {
    val ev = graft.queries.Tables.events(spark, sf)
    val streamed = sessionsOf(EventStream.gapSessionsDrained(spark, ev))
    assert(streamed === batchSessions(ev))
    assert(streamed.nonEmpty)
  }

  test("a NULL event value drains through gapSessionsDrained like the batch sessions") {
    val ev = graft.queries.Tables.events(spark, sf)
    val first = ev.agg(min(col("event_id"))).head().getLong(0)
    val hostile = ev.withColumn("value", when(col("event_id") =!= first, col("value")))
    assert(hostile.filter(col("value").isNull).count() === 1)
    val streamed = sessionsOf(EventStream.gapSessionsDrained(spark, hostile))
    assert(streamed === batchSessions(hostile))
    assert(streamed.nonEmpty)
  }

  test("streaming split assignment equals batch (stateless sampling ops stream as-is)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sampling
    val input = MemoryStream[Long]
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val q = EventStream.toMemorySink(
      Sampling.assignSplits(input.toDF().withColumnRenamed("value", "doc_id"),
        "doc_id", splits),
      "stream_split", complete = false)
    try {
      input.addData(1L to 200L: _*)
      q.processAllAvailable()
      val got = spark.table("stream_split")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val batch = Sampling.assignSplits((1L to 200L).toDF("doc_id"),
          "doc_id", splits)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got === batch)
      assert(got.size === 200)
    } finally q.stop()
  }

  test("streaming exact dedup keeps one row per distinct text") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "ts")
    val q = EventStream.streamingExactDedup(docs)
      .writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    try {
      input.addData((1L, "alpha", ts(0)), (2L, "alpha", ts(1)), (3L, "beta", ts(2)))
      q.processAllAvailable()
      input.addData((4L, "alpha", ts(3)), (5L, "gamma", ts(4)))
      q.processAllAvailable()
      val kept = spark.table("stream_dedup").select("text").collect()
        .map(_.getString(0)).sorted.toSeq
      assert(kept === Seq("alpha", "beta", "gamma"))
    } finally q.stop()
  }

  test("nearDupIngest probes then admits per batch: later batches dedup against earlier ones") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val base = (1 to 20).map(i => s"tok$i").mkString(" ")
    val other = (1 to 20).map(i => s"word$i").mkString(" ")
    val idx = "target/test_stream_dedup_index"
    // seed the index with doc 1
    Dedup.writeNearDupIndex(Seq((1L, base)).toDF("doc_id", "text"),
      "doc_id", "text", idx)
    val input = MemoryStream[(Long, String)]
    val found = scala.collection.mutable.Set.empty[(Long, Long)]
    val q = EventStream.nearDupIngest(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", idx) {
      (pairs, _) => found ++= pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    try {
      // batch 1: doc 2 near-dups the seed; doc 3 is new and gets admitted
      input.addData((2L, base + " extra"), (3L, other))
      q.processAllAvailable()
      assert(found.contains((2L, 1L)), s"seed dup not found: $found")
      // batch 2: doc 4 near-dups doc 3 — only findable if 3 was admitted
      input.addData((4L, other + " extra"))
      q.processAllAvailable()
      assert(found.contains((4L, 3L)), s"cross-batch dup not found: $found")
      // the matched docs 2 and 4 were NOT admitted
      val indexed = spark.read.parquet(s"$idx/hashes")
        .select("doc").collect().map(_.getLong(0)).toSet
      assert(indexed === Set(1L, 3L), s"index contents: $indexed")
    } finally q.stop()
  }

  test("nearDupIngestDrained: cross-batch pairs exactly, order-normalized") {
    import spark.implicits._
    val base = (1 to 20).map(i => s"tok$i").mkString(" ")
    val other = (1 to 20).map(i => s"word$i").mkString(" ")
    // 0 ≡ 4 (mod 4): same batch → NOT emitted; 1 vs 2, 1 vs 3: cross
    val docs = Seq(
      (0L, base), (4L, base),            // same residue class
      (1L, other), (2L, other + " x"),   // different classes
      (3L, other + " y")).toDF("doc_id", "text")
    val (drained, jobs) = jobsDuring(graft.streaming.EventStream
      .nearDupIngestDrained(spark, docs, threshold = 0.8, files = 4))
    val got = drained.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!got.contains((0L, 4L)), "same-batch pair must be invisible to the stream")
    assert(got.contains((1L, 2L)) && got.contains((1L, 3L)) && got.contains((2L, 3L)),
      s"cross-batch pairs missing: $got")
    // job budget: 40 measured over the 4 micro-batches — per batch one
    // staging checkpoint, the probe's stages, the admit's anti-join and
    // its two appends, plus the staging write and the empty index's two
    // writes spread over the batches. Opening the index dirs starts none.
    assert(jobs / 4.0 <= 10.0, s"$jobs jobs over 4 micro-batches")
  }

  test("a drained ingest keeps only its per-batch pair checkpoints persisted") {
    import spark.implicits._
    // 16 docs over 4 residue files: every micro-batch stages its
    // signatures and admits new ones, so each batch checkpoints a
    // staged batch, an admit batch and its pairs; only the pairs, which
    // the drain unions into its result, may outlive the batch
    val docs = (0L until 16L).map(i =>
        (i, (1 to 20).map(t => s"w${(i + t) % 24}").mkString(" ")))
      .toDF("doc_id", "text")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val drained = EventStream.nearDupIngestDrained(spark, docs, threshold = 0.8, files = 4)
    val pairs = drained.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet
    assert(pairs.size === 4, s"one pair checkpoint per micro-batch, got $pairs")
    val held = sc.getPersistentRDDs.keySet -- before
    assert(held === pairs, s"checkpoints still persisted after the drain: ${held -- pairs}")
  }

  test("drained ingest with per-batch compaction equals the uncompacted run") {
    import spark.implicits._
    // 3x the usual batch count (12 vs 4) and maxIndexFiles=1, so the
    // index is rewritten after EVERY batch — the steady-state decay
    // guard exercised through the real probe-then-admit loop. The
    // emitted pair set is a pure property of the corpus + batch split,
    // so it must be identical with compaction off (the r9 baseline
    // behavior), compaction on, and across the 3x batch count.
    val base = (1 to 20).map(i => s"tok$i").mkString(" ")
    val other = (1 to 20).map(i => s"word$i").mkString(" ")
    val docs = (0L until 24L).map(i =>
        (i, (if (i % 2 == 0) base else other) + s" t$i x$i y$i"))
      .toDF("doc_id", "text")
    def run(maxIndexFiles: Int) = graft.streaming.EventStream
      .nearDupIngestDrained(spark, docs, threshold = 0.6, files = 12,
        maxIndexFiles = maxIndexFiles)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncompacted = run(0)
    val compacted = run(1)
    assert(uncompacted.nonEmpty, "fixture must produce cross-batch pairs")
    assert(compacted === uncompacted,
      "compaction must not change the emitted pair set")
    // same invariance for the vector-index loop
    def axis(d: Int, scale: Double = 1.0) =
      Seq.tabulate(8)(j => if (j == d) scale else 0.0)
    val vecs = (0L until 12L).map(i =>
        (i, axis((i % 2).toInt, 1.0 + i))).toDF("vec_id", "v")
    def runV(maxIndexFiles: Int) = graft.streaming.EventStream
      .embeddingIngestDrained(spark, vecs, threshold = 0.99, files = 6,
        nlist = 4, maxIndexFiles = maxIndexFiles)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val vUncompacted = runV(0)
    val vCompacted = runV(1)
    assert(vUncompacted.nonEmpty, "fixture must produce cross-batch twins")
    assert(vCompacted === vUncompacted)
  }

  test("embeddingIngest default mode: matched vectors are NOT admitted to the index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    def axis(d: Int, scale: Double = 1.0) =
      Seq.tabulate(8)(j => if (j == d) scale else 0.0)
    val idx = "target/test_stream_embed_index"
    val seed = Seq((1L, axis(0))).toDF("vec_id", "v")
    val cents = Similarity.trainIvfCentroids(seed, "vec_id", "v", nlist = 4)
    // seed the index with vector 1
    seed.select(col("vec_id"), col("v"),
        graft.functions.IvfCells.cells(col("v"), cents, 2).as("cells"))
      .write.mode("overwrite").parquet(idx)
    val input = MemoryStream[(Long, Seq[Double])]
    val found = scala.collection.mutable.Set.empty[(Long, Long)]
    val q = graft.streaming.EventStream.embeddingIngest(
        input.toDF().toDF("vec_id", "v"), "vec_id", "v", idx, cents,
        threshold = 0.99) { (pairs, _) =>
      found ++= pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    try {
      // batch 1: vec 2 duplicates the seed (NOT admitted); vec 3 is new
      input.addData((2L, axis(0, 2.0)), (3L, axis(5)))
      q.processAllAvailable()
      assert(found.contains((2L, 1L)), s"seed dup not found: $found")
      // batch 2: vec 4 duplicates vec 3 — findable only if 3 was
      // admitted; vec 5 duplicates the REJECTED vec 2's direction and
      // must match the surviving representative 1, not 2
      input.addData((4L, axis(5, 3.0)), (5L, axis(0, 0.5)))
      q.processAllAvailable()
      assert(found.contains((4L, 3L)), s"cross-batch dup not found: $found")
      assert(found.contains((5L, 1L)) && !found.contains((5L, 2L)),
        s"rejected duplicate leaked into the index: $found")
      val indexed = spark.read.parquet(idx)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(indexed === Set(1L, 3L), s"index contents: $indexed")
    } finally q.stop()
  }

  test("embeddingIngestDrained: cross-batch twins found, same-batch invisible") {
    import spark.implicits._
    // unit vectors along distinct axes; 0 ≡ 4 (mod 4) share a batch,
    // 1/2/3 are identical vectors in different batches
    def axis(d: Int, scale: Double = 1.0) =
      Seq.tabulate(8)(j => if (j == d) scale else 0.0)
    val vecs = Seq(
      (0L, axis(0)), (4L, axis(0, 2.0)),       // same residue: invisible
      (1L, axis(1)), (2L, axis(1, 3.0)),       // cross-batch twins
      (3L, axis(1, 0.5)),
      (7L, axis(5))).toDF("vec_id", "v")       // isolated direction
    val got = graft.streaming.EventStream
      .embeddingIngestDrained(spark, vecs, threshold = 0.99, files = 4,
        nlist = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!got.contains((0L, 4L)), "same-batch pair must be invisible")
    assert(got((1L, 2L)) && got((1L, 3L)) && got((2L, 3L)),
      s"cross-batch cosine-1.0 twins missing: $got")
    assert(!got.exists(p => p._1 == 7L || p._2 == 7L),
      "isolated vector must not pair")
  }

  test("embeddingIngestDrained cell-overlap certificate: disjoint cells trip cell_ok only") {
    import spark.implicits._
    def axis(d: Int, scale: Double = 1.0) =
      Seq.tabulate(8)(j => if (j == d) scale else 0.0)
    val neg = Seq.tabulate(8)(j => if (j == 0) -1.0 else 0.0)
    // two opposite clusters (±e0) plus an isolated direction; with
    // probes=1 a cross-cluster pair can never share its single
    // nearest centroid, while same-direction twins always do
    val vecs = Seq(
      (1L, axis(0)), (2L, axis(0, 2.0)),       // cross-batch twins, +e0
      (3L, neg), (6L, neg.map(_ * 2.0)),       // cross-batch twins, -e0
      (5L, axis(3))).toDF("vec_id", "v")
    def run(pairs: Seq[(Long, Long)]) = graft.streaming.EventStream
      .embeddingIngestDrained(spark, vecs, threshold = 0.99, files = 4,
        nlist = 4, probes = 1,
        certPairs = Some(pairs.toDF("pair_lo", "pair_hi")))
      .collect()
    // positive: both twin pairs share their probed cell → cert green
    val ok = run(Seq((1L, 2L), (3L, 6L)))
    assert(ok.nonEmpty && ok.forall(_.getBoolean(3)),
      s"overlapping planted pairs must certify green: ${ok.mkString(",")}")
    // negative: a cross-cluster pair has disjoint cells → cert trips,
    // but the emitted pair set itself is unchanged
    val bad = run(Seq((1L, 3L)))
    assert(bad.nonEmpty && bad.forall(!_.getBoolean(3)),
      s"disjoint-cell pair must trip the certificate: ${bad.mkString(",")}")
    assert(ok.map(r => (r.getLong(0), r.getLong(1))).toSet ===
      bad.map(r => (r.getLong(0), r.getLong(1))).toSet,
      "certificate must not alter the emitted pair rows")
    // a pair member absent from the corpus also trips (presence is
    // part of the claim, n_join < tot)
    val missing = run(Seq((1L, 999L)))
    assert(missing.nonEmpty && missing.forall(!_.getBoolean(3)),
      "absent pair member must trip the certificate")
  }

  test("audit-mode ingest: a failed admit waits for the running probe, then rethrows the admit's error") {
    import spark.implicits._
    IngestProbeGate.reset()
    // the probe's row signals that it runs, then keeps running well
    // past the admit's failure
    val slow = udf { (id: Long) =>
      IngestProbeGate.started.countDown()
      Thread.sleep(1500)
      IngestProbeGate.done = true
      id
    }
    val boom = new IllegalStateException("admit failed")
    var compacted = false
    val family = EventStream.IngestFamily(
      stage = identity,
      probe = _.select(slow(col("id")).as("id_new")),
      admit = _ => {
        assert(IngestProbeGate.started.await(60, java.util.concurrent.TimeUnit.SECONDS),
          "probe never started")
        throw boom
      },
      compact = _ => compacted = true,
      ids = ("id_new", "id"))
    val caught = intercept[Throwable] {
      EventStream.ingestBatch(family, admitMatched = true,
        Seq(1L).toDF("id"), batchId = 0L)
    }
    assert(caught eq boom, s"caller saw $caught instead of the admit's own error")
    assert(IngestProbeGate.done, "the loop rethrew while the probe was still running")
    assert(!compacted, "compaction must not follow a failed admit")
  }

  test("drain scaffold: the body's error wins, cleanup failures ride as suppressed") {
    val boom = new IllegalStateException("drain failed")
    var made = Seq.empty[java.io.File]
    def failingDrain(release: String => Unit) = intercept[IllegalStateException] {
      EventStream.drain(spark, "spec", Seq("stage", "index"), release) { (_, dirs) =>
        made = dirs.map(new java.io.File(_))
        made.foreach(d => assert(d.mkdir(), s"could not create $d"))
        throw boom
      }
    }
    assert(failingDrain(_ => ()) eq boom)
    assert(made.size == 2 && made.forall(!_.exists), s"drain dirs left behind: $made")
    val released = new IllegalStateException("release failed")
    val caught = failingDrain(_ => throw released)
    assert(caught eq boom, s"cleanup replaced the primary error: $caught")
    assert(caught.getSuppressed.toSeq == Seq(released))
    made.foreach(_.delete())
  }

  test("mapGroupsWithState session accumulates per-user counts across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val sessions = EventStream.userSessions(spark, input.toDF())
    val q = sessions.writeStream.format("memory")
      .queryName("stream_sessions")
      .outputMode("update").start()
    try {
      input.addData(Event(1, ts(0), 7, "click", Some(1.0)), Event(2, ts(1), 7, "view", Some(2.0)))
      q.processAllAvailable()
      // a NULL value counts as an event and sums as 0.0
      input.addData(Event(3, ts(2), 7, "click", Some(4.0)), Event(4, ts(3), 7, "view", None))
      q.processAllAvailable()
      val last = spark.table("stream_sessions")
        .filter(col("user_id") === 7)
        .orderBy(col("events").desc).limit(1).collect().head
      assert(last.getAs[Long]("events") === 4L)
      assert(last.getAs[Double]("value_sum") === 7.0)
    } finally q.stop()
  }

  test("drained streams leave no staging dirs; orphans of dead processes are reaped") {
    import spark.implicits._
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def graftDirs: Set[String] = Option(tmp.listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filter(_.matches("graft_[a-z]+_(stage|index)_\\d+_\\d+")).toSet
    // plant an orphan owned by a provably dead pid and a live dir
    // owned by THIS process: the sweep must reap the first and must
    // not touch the second (a concurrent drain's staging)
    val dead = new ProcessBuilder("true").start()
    dead.waitFor()
    val orphan = new java.io.File(tmp, s"graft_semdup_stage_${dead.pid()}_1")
    assert(orphan.mkdir())
    java.nio.file.Files.writeString(
      new java.io.File(orphan, "part-0.parquet").toPath, "x")
    val mine = new java.io.File(tmp,
      s"graft_semdup_index_${ProcessHandle.current().pid()}_999999")
    assert(mine.mkdir())
    try {
      val before = graftDirs
      val events = Seq(
        (1L, ts(0), 1L, "click", 1.0), (2L, ts(10), 1L, "click", 2.0),
        (3L, ts(50), 2L, "view", 3.0), (4L, ts(59), 2L, "click", 4.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      val out = EventStream.tumblingDrained(spark, events, "1 hour", files = 2)
      assert(out.count() > 0)
      val after = graftDirs
      assert(!after.contains(orphan.getName),
        "dead process's staging dir must be reaped by the drain sweep")
      assert(after.contains(mine.getName),
        "a live process's dir must survive the sweep")
      // the drain's own staging is gone too (finally-cleanup)
      assert(!after.exists(_.startsWith("graft_stream_stage_")),
        s"drain leaked its own staging dir: $after (before: $before)")
    } finally {
      new java.io.File(orphan, "part-0.parquet").delete()
      orphan.delete()
      mine.delete()
    }
  }
}

/** Signals from the await-before-propagate spec's probe UDF, which runs
  * on a task thread of the same local-mode JVM as the test. */
object IngestProbeGate {
  @volatile var started = new java.util.concurrent.CountDownLatch(1)
  @volatile var done = false
  def reset(): Unit = {
    started = new java.util.concurrent.CountDownLatch(1)
    done = false
  }
}
