package graft

import org.apache.spark.ListenerCount
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, reused). */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session
  lazy val sf: String = "/root/testdata/sf0.001"

  /** `body`'s result, the Spark jobs it started and the shuffle bytes
    * their tasks wrote, counted by a listener with the bus drained
    * before and after. */
  def workDuring[T](body: => T): (T, Int, Long) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => shuffled.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    ListenerCount.waitUntilEmpty(sc)
    sc.addSparkListener(counter)
    try {
      val out = body
      ListenerCount.waitUntilEmpty(sc)
      (out, jobs.get, shuffled.get)
    } finally sc.removeSparkListener(counter)
  }

  /** `body`'s result and the Spark jobs it started. */
  def jobsDuring[T](body: => T): (T, Int) = workDuring(body) match {
    case (out, jobs, _) => (out, jobs)
  }

  /** `body`'s result and every query it executed, in completion order,
    * captured by a QueryExecutionListener with the bus drained before
    * and after. */
  def plansDuring[T](body: => T): (T, Seq[QueryExecution]) = {
    val done = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        done.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerCount.waitUntilEmpty(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val out = body
      ListenerCount.waitUntilEmpty(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      (out, done.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Every node of an executed plan, inside adaptive plans and
    * subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  /** The parquet scans of `dir` in `qes`' executed plans, with the
    * files each read (its `numFiles` metric, counted after partition
    * pruning). */
  def scansOf(qes: Seq[QueryExecution], dir: String): Seq[(FileSourceScanExec, Long)] = {
    val root = new java.io.File(dir).toURI.getPath.stripSuffix("/")
    qes.flatMap(qe => planNodes(qe.executedPlan)).collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toUri.getPath.stripSuffix("/") == root) =>
        (s, s.metrics("numFiles").value)
    }
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = SparkEntry.localSession(4, "ERROR")
}
