package graft

import org.apache.spark.sql.SparkSession

import graft.queries.PipelineQueries

/** Benchmark main (driver contract): runs the headline queries against
  * `SPARK_GRAFT_SF_DIR` and prints exactly one JSON line on stdout —
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Failures are NOT folded into timings (the round-1 bug): a failed
  * query is reported under `"errors"` with its message and is excluded
  * from the total — a regression can never masquerade as a fast run.
  * The exit code stays 0 even then (round-13 lesson: a nonzero rc made
  * the driver record `parsed: null`, erasing the round's perf record
  * entirely). FAILURE CONTRACT for consumers that can't parse JSON:
  * a run with errors writes `target/bench.FAILED` (one errored query
  * per line) and a clean run deletes it — rc-only callers should test
  * for that file; JSON consumers check `"errors"`, which is exactly
  * what tools/release_check.sh does.
  *
  * SCALE: the harness is SF-agnostic, so a larger input is just
  * another `SPARK_GRAFT_SF_DIR`. At sf0.1 every row is dominated by
  * fixed per-job/driver overhead (micro-batch planning, AQE stage
  * scheduling, parquet footer reads) — the r21 measurement found NO
  * row reaching even half the ideal core ratio — so a low-core re-run
  * at that scale separates overhead-bound rows from compute-bound
  * ones but cannot certify an operator as serial. For a larger input,
  * derive one with [[ScaleFixture]] (`runMain graft.ScaleFixture
  * <sfDir> <reps> <outDir>`, a closed-form `reps`× replica) and point
  * `SPARK_GRAFT_SF_DIR` at it.
  */
object Bench {

  /** Headline queries: the flagship flow plus one representative per
    * operator family (aggregation, alignment, relational join, dedup,
    * similarity, text, windows, io).
    *
    * Cross-round comparability notes: `dedup_minhash_lsh` since round 5
    * runs the CHECKED variant (LSH + the exact prefix-filter sweep +
    * in-query certificate — the deterministic-gate restructure), so its
    * timing is not comparable to rounds ≤ 4 which timed the LSH path
    * alone (~0.8 s vs ~2.2 s at sf0.1). `overlap_recall_cert` (added
    * round 5) times the winnowing inverted-index self-join — the
    * newest heavy join previously absent from the bench — plus its
    * certificate's planted-pair sweep. Round 6 added FOUR rows:
    * `embed_ann_sq8` (int8-quantized scan + exact rerank),
    * `embed_ann_ivf_sq8` (cell-pruned quantized scan),
    * `decontaminate_bloom_cert` (Bloom decontamination scan + its
    * exact-join certificate) and `shuffle_order` (deterministic
    * training-order permutation). Round 7 adds `dedup_paragraph`
    * (span-level exact dedup), `dedup_semantic` (IVF-cell cosine sweep
    * + planted-pair certificate — timing includes its brute-force
    * exact leg, like the other checked variants), `media_features`
    * (the real PNG/WAV/GIF decode pass), `stream_near_dup` (the
    * 4-micro-batch probe-then-admit streaming ingest drain) and
    * `stream_semantic_dup` (the same loop over a persisted IVF-celled
    * vector index). Round 8 adds `media_transcode` (watches the JPEG
    * writer constant: real decode→RGB→JPEG re-encode per image) and
    * `dedup_incremental` (index-probe throughput: build a persisted
    * minhash index once, probe the corpus against it); round 8 also
    * BOUNDED `dedup_semantic`'s exact-certificate leg (all-pairs BNLJ →
    * constant-size subset sweep), so its timing drops vs round 7 by
    * design. Round 10 adds `overlap_topk` (the capped per-doc
    * partial-overlap variant — same inverted winnow join as
    * `overlap_recall_cert` but O(N·k) output: the pair the two rows
    * make is the quadratic-output vs capped-output comparison).
    * Round 12 adds `embed_ann_ivf_pq` (the full FAISS IndexIVFPQ
    * composition: cell-pruned scan × residual-PQ ADC scoring).
    * Round 15 adds `select_importance` (DSIR Gumbel-top-k resampling —
    * the scoring map + partial top-k; its ratio trainer is staged as
    * the `isr_stage_train` cold row), `sample_cluster_balanced`
    * (sketch-cell balanced cap via the bounded TopKAgg),
    * `decontaminate_fuzzy` (eval-bounded cross Jaccard prefix join)
    * and `media_phash_dup` (encode+dHash+band-join over the synthetic
    * image corpus — the image-dedup throughput row). */
  val Headline: Seq[String] = Seq(
    "groupby_sum", "scan_events_onehot", "add_outer", "join_axis1_outer",
    "take_rows", "todense_pivot", "io_roundtrip",
    "q1_agg", "q3_join", "price_quantiles", "label_centroids",
    "dedup_exact", "dedup_paragraph", "dedup_minhash_lsh",
    "dedup_survivors", "dedup_semantic", "dedup_incremental",
    "text_stats", "token_count", "token_count_bpe", "lm_perplexity",
    "chunk_documents", "fingerprint_rolling",
    "overlap_recall_cert", "overlap_topk", "decontaminate_bloom_cert",
    "decontaminate_fuzzy",
    "embed_cosine_topk", "embed_ann_sq8", "embed_ann_ivf_sq8",
    "embed_ann_pq", "embed_ann_ivf_pq",
    "embed_nearest_dup_lsh", "media_features", "media_transcode",
    "media_phash_dup",
    "window_tumbling", "distinct_users_approx", "stream_near_dup",
    "stream_semantic_dup",
    "asof_join", "range_join", "sample_split", "sample_cluster_balanced",
    "shuffle_order", "select_importance",
    "pack_sequences", "pipeline_training_mix")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val queries = SparkEntry.queries
    val names = Headline.filter(queries.contains)

    // JVM/codegen warmup: run every headline query once against the
    // sibling smallest scale factor (different data, not timed) so the
    // measured pass reflects steady-state execution rather than
    // first-call JIT/codegen compilation. Falls back to sfDir itself
    // when no sibling exists (then the warmup shares data — noted so
    // nobody mistakes that for a cold single-pass number).
    val warmDir = {
      val p = java.nio.file.Paths.get(sfDir)
      Option(p.getParent).map(_.resolve("sf0.001"))
        .filter(s => java.nio.file.Files.isDirectory(s) &&
          s.toString != p.toString)
        .map(_.toString)
        .getOrElse(sfDir)
    }
    // Force = the plan as written ([[Force.count]]) — see that object
    // for why .count() must NOT be used here.
    def force(df: org.apache.spark.sql.DataFrame): Unit = Force.count(df)
    names.foreach { name =>
      try force(queries(name)(spark, warmDir))
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
      }
    }
    // the warm-up filled the stage registry; when it ran on sfDir itself
    // the cold rows below would time a memo hit instead of the build
    PipelineQueries.evictStaged(spark)

    // Repetitions: best-of-3 by default (env-overridable). Single-pass
    // timings in a shared single-JVM sandbox proved too noisy to steer
    // optimization: round 4 measured a near-uniform 1.1-1.65x
    // inflation on queries whose code was untouched, while the queries
    // actually optimized improved — best-of damps that environmental
    // load plus JIT/page-cache jitter so per-query deltas are
    // actionable again. A malformed env value must not turn the bench
    // into an exit-1 with no JSON line.
    val reps = scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt).getOrElse {
      System.err.println("[bench] malformed SPARK_GRAFT_BENCH_REPS, using 3")
      3
    }.max(1)
    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Inflation forensics IN THE ARTIFACT (r18 judge's round-19 ask,
    // completed round 20 — r19 captured `detail` but never emitted it):
    // per-query rep times, GC delta and the 1-min load average sampled
    // right before the query are recorded in `detail` and serialized
    // as the "attr" block of the full-precision target/bench.json
    // ({"reps":[...],"gc_ms":N,"ld":X,"floor":F}); the compact driver
    // line carries the over-floor summary alone ("attr":{name:
    // [best,floor,ld]} for rows whose best-of exceeds AttrRatio x
    // floor), so a reader of the driver artifact can separate ambient
    // load (high "ld", several rows over floor, flat GC) from a real
    // regression (quiet "ld", one row's floor moved). Floors are the
    // recorded quiet-band minima in tools/bench_floors.json
    // (regenerate: python3 tools/gen_bench_floors.py — sources are the
    // committed BENCH_r{N}.json artifacts plus the quiet release-gate
    // lines under tools/bench_gate_refs/).
    import scala.jdk.CollectionConverters._
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gcBeans.map(_.getCollectionTime).sum
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    // name -> (rep times in run order, gc ms across reps, loadavg
    // sampled immediately before the first rep)
    val detail = scala.collection.mutable.LinkedHashMap
      .empty[String, (Seq[Double], Long, Double)]
    // Quiet-band floors; a missing/corrupt file degrades to no floors
    // (attr still carries reps/gc/ld) rather than failing the bench.
    // Floors are recorded at one scale factor (_meta.sf) — a run
    // against any other dir ignores them, so a sf0.01 smoke run can't
    // flag rows against sf0.1 minima.
    val floors: Map[String, Double] = try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("tools/bench_floors.json")), "UTF-8")
      import org.json4s.{JObject, JString, JDouble, JInt, JDecimal}
      org.json4s.jackson.JsonMethods.parse(txt) match {
        case JObject(top) =>
          val metaSf = top.collectFirst {
            case ("_meta", JObject(m)) => m.collectFirst {
              case ("sf", JString(s)) => s
            }
          }.flatten
          // normalize both sides before comparing (r21, ADVICE): a
          // trailing slash or redundant path segment must not silently
          // disable floors; an ABSENT/unreadable _meta.sf is treated
          // as a mismatch rather than applying floors to any dir
          def norm(p: String): String =
            try java.nio.file.Paths.get(p).toAbsolutePath.normalize.toString
            catch { case _: Throwable => p }
          if (!metaSf.map(norm).contains(norm(sfDir))) {
            System.err.println(s"[bench] floors recorded at " +
              s"${metaSf.getOrElse("<no _meta.sf>")}, " +
              s"run is $sfDir — attr floors disabled")
            Map.empty[String, Double]
          } else top.collectFirst {
            case ("floors", JObject(fs)) => fs.collect {
              case (k, JDouble(v)) => k -> v
              case (k, JInt(v)) => k -> v.toDouble
              case (k, JDecimal(v)) => k -> v.toDouble
            }.toMap
          }.getOrElse(Map.empty[String, Double])
        case _ => Map.empty[String, Double]
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] no floors (${e.getMessage}); attr will omit them")
      Map.empty[String, Double]
    }
    // A best-of reading this far over its quiet floor gets named in the
    // compact attr block. 1.4x sits above the documented +-50ms jitter
    // plus the observed warm-band spread on sub-second rows, below the
    // 2-4x ambient inflation the block exists to attribute.
    val AttrRatio = 1.4

    // One timed row: best of `passes` runs of `body`, with its rep
    // times, GC delta and pre-row loadavg kept for the attr block.
    // GC-settle OUTSIDE the timed region: in a single-JVM bench a query
    // otherwise pays the previous query's garbage (round 3's
    // distinct_users_approx "regression" was exactly this — 0.55 s
    // single-pass right after the heaviest query vs 0.19-0.21 s
    // steady-state in isolation).
    def timedRow(name: String, passes: Int, note: String)(body: => Unit): Unit =
      try {
        System.gc()
        val gc0 = gcMs
        val load = osBean.getSystemLoadAverage
        val times = (0 until passes).map { _ =>
          val t0 = System.nanoTime()
          body
          (System.nanoTime() - t0) / 1e9
        }
        val gc = gcMs - gc0
        System.err.println(String.format(java.util.Locale.ROOT,
          "[bench] %-28s reps=%s gc=%dms load=%.1f%s", name,
          times.map(t => String.format(java.util.Locale.ROOT, "%.3f", Double.box(t)))
            .mkString(","),
          Long.box(gc), Double.box(load), note))
        timings(name) = times.min
        detail(name) = (times, gc, load)
      } catch {
        case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("\\s+", " ").take(200)
      }

    // One cold pass (reps would just hit the memo) per registered stage
    // that feeds a headline query — otherwise its build would vanish
    // into the first consumer's discarded cold rep. Each staged row
    // joined the series in its own round; BASELINE.md records which to
    // subtract for older totals.
    for (st <- PipelineQueries.Stages; row <- st.row if names.exists(row.feeds))
      timedRow(row.name, 1, s" cold (${row.desc})") {
        PipelineQueries.stage(spark, sfDir, st)
      }
    names.foreach(name => timedRow(name, reps, "") {
      force(queries(name)(spark, sfDir))
    })

    // OBSERVED cert metrics (round 15): the floored booleans in the
    // cert queries only fail on a cliff; emitting the measured values
    // here makes a slow recall slide visible round-over-round in the
    // BENCH_r{N} series. Not timed rows — computed once after the
    // loop, excluded from "value".
    val certs: Seq[(String, Double)] =
      try PipelineQueries.certObserved(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] certObserved failed: ${e.getMessage}")
        Seq.empty
      }
    certs.foreach { case (k, v) =>
      System.err.println(String.format(java.util.Locale.ROOT,
        "[bench] cert %-24s %.4f", k, Double.box(v)))
    }

    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Locale.ROOT: "%.4f" under a comma-decimal default locale would
    // print "1,2345" and break the driver's JSON parse.
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    val qs = timings.map { case (k, v) => s"${jstr(k)}:${num(v)}" }
      .mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    val cs = certs.map { case (k, v) => s"${jstr(k)}:${num(v)}" }
      .mkString("{", ",", "}")
    val total = timings.values.sum
    // Pinned cross-round subtotals (r18 ask #5 / r19 ask #3): "r2_18q"
    // is the 18-row set shared with the r2 recorded baseline
    // (BASELINE.md "18-query subtotal" — the long-lived ≤2×-gate
    // comparison); "ex_staged" is every timed row minus the staged
    // cold rows, i.e. the number comparable across rounds without the
    // per-row subtraction litany.
    val R2Set = Set(
      "add_outer", "dedup_exact", "dedup_minhash_lsh",
      "distinct_users_approx", "embed_cosine_topk", "groupby_sum",
      "io_roundtrip", "join_axis1_outer", "label_centroids",
      "price_quantiles", "q1_agg", "q3_join", "scan_events_onehot",
      "take_rows", "text_stats", "todense_pivot", "token_count",
      "window_tumbling")
    val StagedRows = PipelineQueries.Stages.flatMap(_.row.map(_.name)).toSet
    val subR2 = timings.collect { case (k, v) if R2Set(k) => v }.sum
    val subExStaged = timings.collect {
      case (k, v) if !StagedRows(k) => v }.sum
    def hsOf(n: Double => String): String =
      s""""headline_subtotal":{"r2_18q":${n(subR2)},"ex_staged":${n(subExStaged)}}"""
    // Full-precision attr: every timed row's rep times, GC delta and
    // pre-query loadavg, plus its quiet floor where recorded.
    val attrFull = detail.map { case (k, (ts, gc, ld)) =>
      val floorPart = floors.get(k).map(f => s""","floor":${num(f)}""").getOrElse("")
      s"${jstr(k)}:{" +
        s""""reps":[${ts.map(num).mkString(",")}],""" +
        s""""gc_ms":$gc,"ld":${num(ld)}$floorPart}"""
    }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":${num(total)},"unit":"sec",""" +
        s""""queries":$qs,"errors":$es,"certs":$cs,"reps":$reps,""" +
        s"""${hsOf(num)},"attr":$attrFull,"sf":${jstr(sfDir)}}"""
    println(line)
    // sbt decorates stdout with "[info] ", which defeats the driver's
    // line parse — also drop the bare line where it can be read back
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("target/bench.json"),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write target/bench.json: ${e.getMessage}")
    }
    spark.stop()
    // one broken query must not null the whole round's perf artifact:
    // errors live in the JSON line; rc stays 0 so the line gets parsed.
    // For rc-only consumers the sentinel is target/bench.FAILED —
    // written on error, removed on a clean run (see scaladoc contract).
    val failMarker = java.nio.file.Paths.get("target/bench.FAILED")
    try {
      if (errors.nonEmpty)
        java.nio.file.Files.write(failMarker,
          errors.keys.mkString("", "\n", "\n").getBytes("UTF-8"))
      else java.nio.file.Files.deleteIfExists(failMarker)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] marker update failed: ${e.getMessage}")
    }
    if (errors.nonEmpty)
      System.err.println(s"[bench] ${errors.size} queries errored (recorded in JSON): " +
        errors.keys.mkString(", "))

    // DRIVER TAIL CONTRACT (round 16): the driver keeps only the LAST
    // ~2000 chars of the run's combined output and parses a JSON line
    // out of it. The full-precision line above is ~2.5 KB — it can
    // NEVER fit in that window even with zero trailing noise, which is
    // why BENCH_r{1..15}.json all read "parsed": null. So the very
    // last output action is a COMPACT re-emit: 2-decimal timings
    // (plenty for a seconds-scale perf record), certs only if the line
    // stays comfortably under the window. Everything that could write
    // after it is silenced first: spark.stop() has already flushed its
    // unpersist WARN burst, log4j is turned OFF for any shutdown-hook
    // stragglers, and stderr is flushed before stdout so interleaving
    // can't land a late buffer after the line. Full precision + certs
    // always remain in target/bench.json.
    try org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.OFF)
    catch { case _: Throwable => () }
    def num2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val qs2 = timings.map { case (k, v) => s"${jstr(k)}:${num2(v)}" }
      .mkString("{", ",", "}")
    val cs2 = certs.map { case (k, v) => s"${jstr(k)}:${num2(v)}" }
      .mkString("{", ",", "}")
    // Over-floor summary for the compact line: [best-of, floor,
    // pre-query loadavg] for each row whose best-of exceeded
    // AttrRatio x its quiet floor — empty on a quiet run.
    val overFloor = detail.collect {
      case (k, (ts, _, ld)) if ts.nonEmpty && floors.get(k)
        .exists(f => ts.min > AttrRatio * f) =>
        s"${jstr(k)}:[${num2(ts.min)},${num2(floors(k))},${num2(ld)}]"
    }
    val attr2 = overFloor.mkString("{", ",", "}")
    // When the per-row list can't fit (a loud box flags dozens of
    // rows at once — exactly the ambient-load signature), degrade to
    // a count + the max pre-query loadavg instead of dropping the
    // attribution entirely: "38 rows over floor at ld 5.2" IS the
    // ambient-load verdict.
    val ldMax = detail.values.map(_._3).foldLeft(0.0)(math.max)
    val attrSummary =
      s"""{"over_floor":${overFloor.size},"ld_max":${num2(ldMax)}}"""
    // degradation ladder: the line MUST fit the window even on an
    // errored run (error messages alone can add ~225 chars each) —
    // try certs+attr+errors, then drop the attr block, then truncated
    // error messages, then error NAMES only, then drop the per-query
    // map entirely (an errored run is red regardless; the driver
    // parsing total+errors beats "parsed": null). The subtotals ride
    // in every candidate (they cost ~55 chars and are the pinned
    // cross-round comparison). First candidate under the budget wins.
    def esOf(msgLen: Int): String =
      errors.map { case (k, v) => s"${jstr(k)}:${jstr(v.take(msgLen))}" }
        .mkString("{", ",", "}")
    def baseWith(es2: String): String =
      s"""{"metric":"total","value":${num2(total)},"unit":"sec",""" +
        s""""queries":$qs2,"errors":$es2,"reps":$reps,${hsOf(num2)},""" +
        s""""sf":${jstr(sfDir)}"""
    val candidates = Seq(
      baseWith(esOf(200)) + s""","certs":$cs2,"attr":$attr2}""",
      baseWith(esOf(200)) + s""","certs":$cs2,"attr":$attrSummary}""",
      baseWith(esOf(200)) + s""","certs":$cs2}""",
      baseWith(esOf(200)) + "}",
      baseWith(esOf(40)) + "}",
      baseWith(esOf(0)) + "}",
      s"""{"metric":"total","value":${num2(total)},"unit":"sec",""" +
        s""""queries":{},"errors":${esOf(0)},"reps":$reps,${hsOf(num2)},""" +
        s""""sf":${jstr(sfDir)}}""")
    // Budget: the driver keeps the run's LAST 2000 chars; sbt's
    // trailing "[success] Total time: ..." line costs ~75 of them, so
    // the line survives intact up to ~1925. 1750 (r21, ADVICE: was
    // 1800) keeps ~175 chars of margin for any shutdown straggler
    // longer than the assumed sbt trailer — the ladder preserves the
    // subtotals either way.
    val compact = candidates.find(_.length <= 1750).getOrElse(candidates.last)
    System.err.flush()
    println(compact)
    System.out.flush()
  }
}
