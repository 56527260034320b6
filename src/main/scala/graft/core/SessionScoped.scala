package graft.core

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** One value per live session, made on first use and dropped when the
  * session's SparkContext stops (every session of a stopped context is
  * unusable, so its values are garbage). `Tables`' resolved relations
  * and `LlmText`'s staging memos both live here.
  *
  * Values are keyed by a minted per-session id, NOT the session object:
  * a `WeakHashMap[SparkSession, DataFrame]` never collects, because a
  * cached DataFrame strongly references its session — the classic
  * value→key anti-pattern. The id map's value is a plain string, so its
  * weak key can still collect. */
final class SessionScoped[V](init: () => V) {
  private val values = new ConcurrentHashMap[String, V]
  SessionScoped.all.add(this)

  def apply(s: SparkSession): V =
    values.computeIfAbsent(SessionScoped.id(s), _ => init())

  def remove(s: SparkSession): Option[V] =
    Option(values.remove(SessionScoped.id(s)))
}

object SessionScoped {
  private val all =
    new java.util.concurrent.CopyOnWriteArrayList[SessionScoped[_]]
  private val ids = new java.util.WeakHashMap[SparkSession, String]

  /** This session's id; Spark 4's `sessionUUID` is private[sql]. */
  def id(s: SparkSession): String = ids.synchronized {
    var id = ids.get(s)
    if (id == null) {
      id = java.util.UUID.randomUUID().toString
      ids.put(s, id)
      val sid = id
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          all.forEach(_.values.remove(sid))
      })
    }
    id
  }
}
