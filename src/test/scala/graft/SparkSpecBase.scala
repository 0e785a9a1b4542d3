package graft

import org.apache.spark.ListenerCount
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, reused). */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session
  lazy val sf: String = "/root/testdata/sf0.001"

  /** `body`'s result and the Spark jobs it started, counted by a
    * listener with the bus drained before and after. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerCount.waitUntilEmpty(sc)
    sc.addSparkListener(counter)
    try {
      val out = body
      ListenerCount.waitUntilEmpty(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(counter)
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = SparkEntry.localSession(4, "ERROR")
}
