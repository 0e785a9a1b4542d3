package perfbench

/** Per-layer metrics of a traced run. Layer times are span seconds per
  * timed request; `spark.*` sums the engine counters of every job issued
  * inside a request; `streaming.*` sums the micro-batch phases; counts
  * are per request and repeat exactly for a seed. Layers a workload
  * does not call read 0. */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.planning_s" -> "s", "spark.exec_s" -> "s", "spark.task_s" -> "s",
    "spark.parallel_eff" -> "ratio", "spark.task_skew" -> "ratio",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.gc_s" -> "s", "spark.storage_mb" -> "MB",
    "core.onehot_s" -> "s", "core.group_sum_s" -> "s", "core.align_s" -> "s",
    "core.slice_s" -> "s", "core.dense_s" -> "s", "core.out_nnz" -> "count",
    "sources.write_s" -> "s", "sources.read_s" -> "s",
    "sources.bytes_per_cell" -> "B", "sources.files_written" -> "count",
    "sources.shards_s" -> "s", "sources.index_files_max" -> "count",
    "sources.index_bytes_per_doc" -> "B",
    "functions.shingle_hash_ns" -> "ns", "functions.minhash_bands_ns" -> "ns",
    "functions.bloom_ns" -> "ns", "functions.lm_score_ns" -> "ns",
    "functions.sq8_cosine_ns" -> "ns", "functions.pq_adc_ns" -> "ns",
    "operators.dedup_exact_s" -> "s", "operators.dedup_near_s" -> "s",
    "operators.lsh_candidates" -> "count", "operators.lsh_precision" -> "ratio",
    "operators.quality_s" -> "s", "operators.lm_s" -> "s",
    "operators.decontam_s" -> "s", "operators.decontam_false_pos" -> "count",
    "operators.select_s" -> "s", "operators.pack_s" -> "s", "operators.pack_fill" -> "ratio",
    "operators.ann_train_s" -> "s", "operators.ann_index_s" -> "s",
    "operators.ann_probe_s" -> "s", "operators.ann_candidates_per_query" -> "count",
    "streaming.batches" -> "count", "streaming.add_batch_s" -> "s",
    "streaming.planning_s" -> "s", "streaming.commit_s" -> "s",
    "streaming.engine_overhead_s" -> "s")

  /** Layers timed once per set-up rather than per request; reported
    * as the median over set-ups. */
  val setupLayers = Set("operators.ann_train", "operators.ann_index")

  private val MB = 1024.0 * 1024.0

  def report(env: Env, passRoots: Seq[Int], timed: Double,
      counts: Seq[Map[String, Double]], probes: Map[String, Double]): Seq[(String, Double, String)] = {
    val tracer = env.tracer
    val n = math.max(1, passRoots.size).toDouble
    val inPass = tracer.subtree(passRoots)
    val (perSpan, stageTasks) = env.collector.perSpan()
    val eng = perSpan.iterator.collect { case (s, t) if inPass(s) => t }
      .foldLeft(EngineTotals())(_ + _)
    val spans = tracer.all
    val v = scala.collection.mutable.Map.empty[String, Double]

    v("spark.jobs") = eng.jobs / n
    v("spark.stages") = eng.stages / n
    v("spark.tasks") = eng.tasks / n
    v("spark.planning_s") = eng.planningMs / 1e3 / n
    v("spark.exec_s") = eng.execNs / 1e9 / n
    v("spark.task_s") = eng.taskMs / 1e3 / n
    v("spark.parallel_eff") = if (timed > 0) eng.taskMs / 1e3 / (timed * env.cores) else 0.0
    // worst stage by max/median task time, among stages with a task per
    // core and at least 0.2 s of task time (tiny stages are all noise)
    v("spark.task_skew") = stageTasks.iterator
      .collect { case (s, ts) if inPass(s) && ts.size >= env.cores && ts.sum >= 200 =>
        ts.max.toDouble / math.max(1.0, Main.median(ts.map(_.toDouble))) }
      .maxOption.getOrElse(1.0)
    v("spark.shuffle_write_mb") = eng.shuffleWrite / MB / n
    v("spark.shuffle_read_mb") = eng.shuffleRead / MB / n
    v("spark.spill_mb") = eng.spill / MB / n
    v("spark.gc_s") = eng.gcMs / 1e3 / n

    val layerNames = units.map(_._1).filter(_.endsWith("_s"))
      .filterNot(k => k.startsWith("spark.") || k.startsWith("streaming.")).map(_.stripSuffix("_s"))
    layerNames.foreach { l =>
      val ss = spans.filter(_.name == l)
      v(s"${l}_s") =
        if (setupLayers(l)) Main.median(ss.map(_.seconds)) match { case x if x.isNaN => 0.0; case x => x }
        else ss.filter(s => inPass(s.id)).map(_.seconds).sum / n
    }

    val mb = env.collector.batches.filter(b => inPass(b.span) && b.inputRows > 0)
    def phase(k: String) = mb.map(_.durations.getOrElse(k, 0L)).sum / 1e3 / n
    v("streaming.batches") = mb.size / n
    v("streaming.add_batch_s") = phase("addBatch")
    v("streaming.planning_s") = phase("queryPlanning")
    v("streaming.commit_s") = phase("walCommit") + phase("commitOffsets")
    v("streaming.engine_overhead_s") = phase("triggerExecution") - phase("addBatch")

    val keys = counts.flatMap(_.keys).distinct
    keys.foreach(k => v(k) = counts.map(_.getOrElse(k, 0.0)).sum / math.max(1, counts.size))
    v ++= probes
    units.map { case (k, u) => (k, v.getOrElse(k, 0.0), u) }
  }

  /** Print each span name's self time per request. */
  def printSelfTimes(tracer: Tracer, passes: Int): Unit = {
    val self = tracer.selfSeconds
    val rows = tracer.all.groupBy(_.name).toSeq.map { case (name, ss) =>
      (name, ss.size, ss.map(s => self(s.id)).sum) }.sortBy(-_._3)
    println(f"# self time by span over ${tracer.all.size}%d spans ($passes%d timed requests)")
    rows.foreach { case (name, c, t) => println(f"#   $name%-28s $c%6d spans $t%10.3f s self") }
  }
}
