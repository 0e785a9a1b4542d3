package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval around a call into a layer. Times are
  * nanoTime for durations and epoch millis for matching engine events. */
final case class Span(id: Int, name: String, parent: Int, run: String,
    startNs: Long, startMs: Long, var endNs: Long = -1L, var endMs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans are opened and closed on the thread
  * that runs the workload; the open span is published to Spark
  * as a thread-local property and a job tag, so every job and SQL
  * execution it issues (also from threads it starts) carries its id.
  * With tracing off `span` is a plain call. */
final class Tracer(val enabled: Boolean, val runId: String) {
  import Tracer._
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile private var sc: SparkContext = _

  def bind(context: SparkContext): Unit = sc = context

  def current: Int = stack.headOption.map(_.id).getOrElse(0)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size + 1, name, current, runId,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      publish(stack.headOption, Some(s))
      stack = s :: stack
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        stack = stack.tail
        publish(Some(s), stack.headOption)
      }
    }

  private def publish(from: Option[Span], to: Option[Span]): Unit =
    if (sc != null) {
      from.foreach(s => sc.removeJobTag(tag(s.id)))
      to.foreach(s => sc.addJobTag(tag(s.id)))
      sc.setLocalProperty(SpanProp, to.map(_.id.toString).orNull)
    }

  def all: Seq[Span] = spans.toSeq

  /** The ids of `roots` and all their descendants. */
  def subtree(roots: Seq[Int]): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    val out = mutable.Set.empty[Int]
    def walk(id: Int): Unit = if (out.add(id)) kids.getOrElse(id, Nil).foreach(k => walk(k.id))
    roots.foreach(walk)
    out.toSet
  }

  /** Innermost span open at epoch millis `t`, for engine events that
    * carry no span id. */
  def openAt(t: Long): Int =
    spans.iterator.filter(s => s.startMs <= t && (s.endMs < 0 || t <= s.endMs))
      .maxByOption(_.startNs).map(_.id).getOrElse(0)

  /** Self time of every span: its duration minus its children's. */
  def selfSeconds: Map[Int, Double] = {
    val childSum = spans.groupBy(_.parent).view.mapValues(_.map(_.seconds).sum).toMap
    spans.iterator.map(s => s.id -> (s.seconds - childSum.getOrElse(s.id, 0.0))).toMap
  }

  def write(file: File): Unit = {
    file.getParentFile.mkdirs()
    val w = new PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"run":"${s.run}","id":${s.id},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs}}""")
    } finally w.close()
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  def tag(id: Int): String = s"perfbench-span-$id"
}

/** Engine counters of one span (or a sum over spans). */
final case class EngineTotals(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskMs: Long = 0, gcMs: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0,
    planningMs: Long = 0, execNs: Long = 0) {
  def +(o: EngineTotals): EngineTotals = EngineTotals(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks, taskMs + o.taskMs,
    gcMs + o.gcMs, shuffleWrite + o.shuffleWrite, shuffleRead + o.shuffleRead,
    spill + o.spill, planningMs + o.planningMs, execNs + o.execNs)
}

/** One micro-batch as the streaming engine reported it. */
final case class BatchProgress(span: Int, durations: Map[String, Long],
    inputRows: Long)

/** The benchmark's own engine-side collector: a SparkListener (jobs,
  * stages, tasks), a QueryExecutionListener (planning vs execution)
  * and a StreamingQueryListener (micro-batch phases), each event
  * attributed to the span that issued it. The streaming listener is
  * always installed, because the untraced run times micro-batches
  * with it; the other two only when tracing. */
final class Collector(tracer: Tracer) {
  private val lock = new Object
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val jobTime = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val stageTotals = mutable.Map.empty[Int, EngineTotals]
  private val execTags = mutable.Map.empty[Long, (Set[String], Long)]
  private val queries = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  private val queryStart = mutable.Map.empty[java.util.UUID, Int]
  private val progress = mutable.ArrayBuffer.empty[BatchProgress]
  @volatile var onProgress: BatchProgress => Unit = _ => ()

  private def spanOfTags(tags: Set[String], t: Long): Int =
    tags.iterator.filter(_.startsWith("perfbench-span-"))
      .map(_.stripPrefix("perfbench-span-").toInt).maxOption
      .getOrElse(tracer.openAt(t))

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val prop = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      prop.foreach(p => jobSpan(e.jobId) = p.toInt)
      jobTime(e.jobId) = e.time
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
        val t = EngineTotals(tasks = 1, taskMs = m.executorRunTime, gcMs = m.jvmGCTime,
          shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
          shuffleRead = m.shuffleReadMetrics.totalBytesRead,
          spill = m.memoryBytesSpilled + m.diskBytesSpilled)
        stageTotals(e.stageId) = stageTotals.getOrElse(e.stageId, EngineTotals()) + t
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        execTags(s.executionId) = (s.jobTags, s.time)
      }
      case _ => ()
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planningMs = qe.tracker.phases.valuesIterator.map(p => p.endTimeMs - p.startTimeMs).sum
      lock.synchronized { queries += ((qe.id, planningMs, durationNs)) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    // onQueryStarted runs synchronously inside start(), on the thread
    // that started the query, so the open span is the caller's
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      lock.synchronized { queryStart(e.id) = tracer.current }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = mutable.Map.empty[String, Long]
      p.durationMs.forEach((k, v) => d(k) = v.longValue)
      val b = lock.synchronized {
        val b = BatchProgress(queryStart.getOrElse(p.id, 0), d.toMap, p.numInputRows)
        progress += b
        b
      }
      onProgress(b)
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Micro-batches reported so far, in order. */
  def batches: Seq[BatchProgress] = lock.synchronized(progress.toSeq)

  /** Engine totals per span id, and the task times of every stage
    * with its span, for skew. Call after the listener bus drained. */
  def perSpan(): (Map[Int, EngineTotals], Seq[(Int, Seq[Long])]) = lock.synchronized {
    val spanOfJob = jobTime.keysIterator.map { j =>
      j -> jobSpan.getOrElse(j, tracer.openAt(jobTime(j)))
    }.toMap
    val out = mutable.Map.empty[Int, EngineTotals]
    def add(span: Int, t: EngineTotals): Unit =
      out(span) = out.getOrElse(span, EngineTotals()) + t
    spanOfJob.foreach { case (_, s) => add(s, EngineTotals(jobs = 1)) }
    val stageSpan = stageJob.iterator.flatMap { case (st, j) =>
      spanOfJob.get(j).map(st -> _) }.toMap
    stageTotals.foreach { case (st, t) =>
      add(stageSpan.getOrElse(st, 0), t.copy(stages = 1)) }
    queries.foreach { case (id, planMs, ns) =>
      val span = execTags.get(id).map { case (tags, t) => spanOfTags(tags, t) }.getOrElse(0)
      add(span, EngineTotals(planningMs = planMs, execNs = ns))
    }
    val skew = stageTasks.iterator.map { case (st, ts) =>
      stageSpan.getOrElse(st, 0) -> ts.toSeq }.toSeq
    (out.toMap, skew)
  }
}
