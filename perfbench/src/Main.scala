package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Command-line options of one benchmark run. */
final case class Opts(workload: String = "", seed: Long = 1L, seconds: Double = 10,
    trace: Boolean = false, work: String = "", traceDir: String = "", scale: Double = 1.0)

object Opts {
  def parse(args: Array[String]): Opts = {
    val it = args.iterator.buffered
    var o = Opts()
    while (it.hasNext) {
      val k = it.next()
      def v = { require(it.hasNext, s"$k needs a value"); it.next() }
      o = k match {
        case "--workload" => o.copy(workload = v)
        case "--seed" => o.copy(seed = v.toLong)
        case "--seconds" => o.copy(seconds = v.toDouble)
        case "--trace" => o.copy(trace = v == "1")
        case "--work" => o.copy(work = v)
        case "--trace-dir" => o.copy(traceDir = v)
        case "--scale" => o.copy(scale = v.toDouble)
        case other => throw new IllegalArgumentException(s"unknown option $other")
      }
    }
    require(o.work.nonEmpty, "--work is required")
    o
  }
}

/** What one workload run can reach: the session, the tracer and the
  * collector, its scratch directory and its core count. */
final class Env(val opts: Opts, val tracer: Tracer, val collector: Collector) {
  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())
  /** Every generator writes this many files. */
  val files: Int = 2 * cores
  val work: File = new File(opts.work).getAbsoluteFile
  /** An input size at this run's scale (1.0 for every measured run). */
  def scaled(n: Int): Int = math.max(1, math.round(n * opts.scale).toInt)
  var spark: SparkSession = _

  def start(): Unit = {
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.checkpointLocation", new File(work, "checkpoints").getPath)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tracer.bind(spark.sparkContext)
    spark.streams.addListener(collector.streamListener)
    if (tracer.enabled) {
      spark.sparkContext.addSparkListener(collector.sparkListener)
      spark.listenerManager.register(collector.queryListener)
    }
  }

  /** This run's session at `factor` times its input size. */
  def rescaled(factor: Double): Env = {
    val e = new Env(opts.copy(scale = opts.scale * factor), tracer, collector)
    e.spark = spark
    e
  }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null; kept.clear() }

  /** Drop every persisted block, the set-up's kept inputs too. */
  def releaseAll(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    kept.clear()
  }

  def drainEvents(): Unit = PerfbenchBridge.drainListenerBus(spark.sparkContext)

  /** Materialize a step's output once, so each layer is timed on its
    * own work and later steps read the staged rows. */
  def stage(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(eager = true)
    if (tracer.enabled) storagePeak = math.max(storagePeak, storageHeld())
    out
  }

  /** Bytes of persisted and checkpointed blocks currently held. */
  def storageHeld(): Long =
    spark.sparkContext.getRDDStorageInfo.iterator.map(i => i.memSize + i.diskSize).sum
  var storagePeak = 0L

  /** Persisted inputs the set-up keeps across requests. */
  val kept = mutable.Set.empty[Int]
  def keep(): Unit = kept ++= spark.sparkContext.getPersistentRDDs.keys

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** Outcome of one closed-loop request. `batches` are read after the
  * request's wall clock stopped (they may wait for listener events);
  * empty means the request is its own batch. `check` runs untimed and
  * returns the failed closed-form checks. `counts` are per-request
  * layer counts. Each corruption re-runs the check on a deliberately
  * damaged copy of the outputs; the self-test requires every one to
  * fail. */
final case class PassResult(rows: Long, batches: () => Seq[Double],
    check: () => Seq[String], counts: () => Map[String, Double] = () => Map.empty,
    corruptions: Seq[(String, () => Seq[String])] = Nil)

trait Prepared {
  def pass(): PassResult
  /** Traced-run measurements taken once after the timed loop. */
  def probes(): Map[String, Double] = Map.empty
  /** Checks over the whole run (after every pass). */
  def runChecks(): Seq[String] = Nil
  /** End-to-end figures beyond the fixed metric set, for the report. */
  def extra(): Seq[(String, Double, String)] = Nil
  def describe: String
}

trait Workload {
  def name: String
  /** Untimed requests before the timed region. */
  def warmups: Int
  /** Write the seeded inputs under `dir`. */
  def generate(env: Env, dir: File): Unit
  /** Everything a request needs beyond the inputs (graft-side set-up
    * such as an index, and the closed-form expectations). */
  def prepare(env: Env, dir: File): Prepared
}

object Main {
  val workloads: Seq[Workload] = Seq(SparseAlgebra, Curation, StreamIngest, AnnSearch)
  val setupReps = 3
  val warmScale = 0.1

  def main(args: Array[String]): Unit = {
    val code =
      try run(Opts.parse(args))
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    Runtime.getRuntime.halt(code)
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def run(o: Opts): Int = {
    val wl = workloads.find(_.name == o.workload).getOrElse(
      throw new IllegalArgumentException(
        s"unknown workload '${o.workload}' (${workloads.map(_.name).mkString(", ")})"))
    val runId = s"${wl.name}-s${o.seed}-t${if (o.trace) 1 else 0}-${ProcessHandle.current().pid()}"
    val tracer = new Tracer(o.trace, runId)
    val collector = new Collector(tracer)
    val env = new Env(o, tracer, collector)
    env.work.mkdirs()
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    def record(tag: String, fails: Seq[String]): Unit = {
      attempted += 1
      if (fails.nonEmpty) {
        failed += 1
        fails.foreach(f => failures += s"$tag: $f")
      }
    }

    // set-up: session start, a cold warm-up at reduced size and input
    // generation once; preparation `setupReps` times (the last one is
    // kept); then full-size warm-up requests.
    // setup_s = session + generation + median(preparation) + warm-ups.
    val t0 = System.nanoTime()
    tracer.span("setup")(env.start())
    val sessionS = secs(t0)
    // cold warm-up: one request on the workload's own inputs at
    // `warmScale` of the size pays the cold costs (class loading, code
    // generation, the first JIT tiers) at a fraction of a full request
    val t2 = System.nanoTime()
    val coldWarm = tracer.span("setup") {
      val small = env.rescaled(warmScale)
      val smallDir = new File(env.work, "warm-inputs")
      wl.generate(small, smallDir)
      wl.prepare(small, smallDir).pass()
    }
    val smallS = secs(t2)
    record("warm-up", tracer.span("check")(coldWarm.check()))
    cleanup(env)
    val dir = new File(env.work, "inputs")
    val t1 = System.nanoTime()
    tracer.span("setup")(wl.generate(env, dir))
    val genS = secs(t1)
    val prepTimes = mutable.ArrayBuffer.empty[Double]
    var prepared: Prepared = null
    for (rep <- 0 until setupReps) {
      if (rep > 0) env.releaseAll()
      val t = System.nanoTime()
      prepared = tracer.span("setup")(wl.prepare(env, dir))
      prepTimes += secs(t)
    }
    // full-size warm-up: a fixed number of requests, so every run
    // starts its timed region at the same point of the JIT's warm-up
    // curve
    var warmS = smallS
    for (_ <- 0 until wl.warmups) {
      val t = System.nanoTime()
      val warm = tracer.span("setup")(prepared.pass())
      warmS += secs(t)
      record("warm-up", tracer.span("check")(warm.check()))
      cleanup(env)
    }
    val setupS = sessionS + genS + median(prepTimes.toSeq) + warmS

    // timed region: closed loop, requests back to back; the previous
    // request's staged blocks are freed (untimed) just before the next
    // one starts, so the last request's are still held after the loop
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val passRoots = mutable.ArrayBuffer.empty[Int]
    var last: PassResult = null
    val batches = mutable.ArrayBuffer.empty[Double]
    val counts = mutable.ArrayBuffer.empty[Map[String, Double]]
    var rows = 0L
    var timed = 0.0
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    while (System.nanoTime() < deadline) {
      cleanup(env)
      val t0 = System.nanoTime()
      val outcome =
        try Right(tracer.span("pass") {
          if (tracer.enabled) passRoots += tracer.current
          env.storagePeak = 0L
          prepared.pass()
        })
        catch { case e: Exception => Left(e) }
      val wall = secs(t0)
      outcome match {
        case Right(r) =>
          val fails = tracer.span("check")(r.check())
          record(s"request ${attempted + 1}", fails)
          if (fails.isEmpty) {
            last = r
            timed += wall
            rows += r.rows
            val b = r.batches()
            batches ++= (if (b.isEmpty) Seq(wall) else b)
            counts += r.counts() + ("spark.storage_mb" -> env.storagePeak / (1024.0 * 1024.0))
          }
        case Left(e) => record(s"request ${attempted + 1}", Seq(s"raised $e"))
      }
    }
    // heap: the sum of the heap pools' peaks over the timed region
    // (reported; it follows the collector's young-generation sizing
    // more than the program), and the live set at the end of the last
    // request, its staged blocks still held, after full collections
    // outside the timed region (gated: what the program retains)
    val peakMb = heapPools.map(_.getPeakUsage.getUsed).sum / MB
    val liveMb = liveHeapMb()
    // the last request's outputs stay reachable until here, so Spark's
    // cleaner keeps their blocks for the reading above
    java.lang.ref.Reference.reachabilityFence(last)
    cleanup(env)
    val runFails = prepared.runChecks()
    runFails.foreach(f => failures += s"run: $f")

    val rowsPerS = if (timed > 0) rows / timed else 0.0
    println(s"# workload ${wl.name}  seed ${o.seed}  cores ${env.cores}  trace ${if (o.trace) 1 else 0}")
    println(s"# input ${prepared.describe}")
    println(f"# requests $attempted%d attempted, $failed%d failed, ${batches.size}%d batches, timed wall $timed%.3f s")
    failures.foreach(f => println(s"# FAILED $f"))

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val e2e = Seq(
          ("setup_s", setupS, "s"),
          ("rows_per_s", rowsPerS, "1/s"),
          ("batch_p50_s", percentile(batches.toSeq, 0.5), "s"),
          ("batch_p90_s", percentile(batches.toSeq, 0.9), "s"),
          ("live_heap_mb", liveMb, "MB"))
        e2e.foreach { case (k, v, u) => println(f"$k%-32s $v%14.6f $u") }
        println(f"${"error_rate"}%-32s ${if (attempted > 0) failed.toDouble / attempted else 0.0}%14.6f ratio ($failed%d of $attempted%d requests)")
        println(f"${"peak_heap_mb"}%-32s $peakMb%14.6f MB (sum of heap pool peaks in the timed region)")
        println(s"batch seconds ${batches.map(b => f"$b%.3f").mkString(" ")}")
        println(f"${"setup_s parts"}%-32s session $sessionS%.3f + generation $genS%.3f + preparation ${prepTimes.map(t => f"$t%.3f").mkString("/")} (median) + warm-up $warmS%.3f (reduced-size $smallS%.3f)")
        prepared.extra().foreach { case (k, v, u) => println(f"$k%-32s $v%14.6f $u") }
        e2e
      } else {
        env.drainEvents()
        val layers = Layers.report(env, passRoots.toSeq, timed, counts.toSeq, prepared.probes())
        val traceFile = new File(o.traceDir, s"$runId.jsonl")
        tracer.write(traceFile)
        Layers.printSelfTimes(tracer, passRoots.size)
        println(s"# spans written to $traceFile")
        println(f"${"trace.rows_per_s"}%-32s $rowsPerS%14.6f 1/s (traced; compare rows_per_s of an untraced run)")
        layers.foreach { case (k, v, u) => println(f"$k%-32s $v%14.6f $u") }
        layers :+ (("trace.rows_per_s", rowsPerS, "1/s"))
      }
    env.stop()
    deleteTree(env.work)

    val correct = failed == 0 && runFails.isEmpty && batches.nonEmpty
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    0
  }

  /** Free what a request staged: every persisted block but those the
    * set-up keeps, so each request starts from the same storage. */
  private def cleanup(env: Env): Unit =
    env.spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!env.kept.contains(id)) rdd.unpersist(blocking = true)
    }

  private val MB = 1024.0 * 1024.0

  /** Heap still in use after full collections, in MB. Collections
    * repeat, with a pause for Spark's cleaner to drop what the previous
    * one found unreachable, until two readings agree within 1 MB. */
  def liveHeapMb(): Double = {
    def collect(): Double = {
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB
    }
    var last = collect()
    var next = collect()
    var rounds = 2
    while (math.abs(next - last) > 1.0 && rounds < 10) {
      last = next
      next = collect()
      rounds += 1
    }
    next
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
