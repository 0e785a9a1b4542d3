package graft

import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Values held per (session, key) for the life of the session's
  * application. The session is compared by reference (tuple equality
  * on the session object), so a fresh session never sees another's
  * values. When a context's application ends, every map drops its
  * sessions' entries, handing each to `release`. */
private[graft] final class SessionMap[K, V <: AnyRef](release: V => Unit = (_: V) => ()) {
  private val entries = new ConcurrentHashMap[(SparkSession, K), V]
  SessionMap.maps.add(this)

  /** The value held for (`s`, `key`), built on a miss; concurrent
    * callers of one key wait for the one build. */
  def getOrBuild(s: SparkSession, key: K)(build: => V): V = {
    SessionMap.hook(s.sparkContext)
    entries.computeIfAbsent((s, key), _ => build)
  }

  def get(s: SparkSession, key: K): Option[V] = Option(entries.get((s, key)))

  def put(s: SparkSession, key: K, value: V): Unit = {
    SessionMap.hook(s.sparkContext)
    entries.put((s, key), value)
  }

  def remove(s: SparkSession, key: K): Unit = entries.remove((s, key))

  /** Drop, and release, every entry of a session `owned` selects. */
  def evictWhere(owned: SparkSession => Boolean): Unit =
    entries.entrySet().removeIf { e =>
      val mine = owned(e.getKey._1)
      if (mine) release(e.getValue)
      mine
    }

  /** Entries currently held for `s`. */
  def count(s: SparkSession): Int =
    entries.keySet().stream().filter(_._1 eq s).count().toInt
}

private[graft] object SessionMap {
  private val maps = new CopyOnWriteArrayList[SessionMap[_, _]]()
  private val hookedContexts = ConcurrentHashMap.newKeySet[SparkContext]()

  /** One listener per context, shared by every map: when its
    * application ends, every session of it loses its entries. */
  private def hook(sc: SparkContext): Unit =
    if (hookedContexts.add(sc))
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          maps.forEach(_.evictWhere(_.sparkContext eq sc))
          hookedContexts.remove(sc)
        }
      })
}
