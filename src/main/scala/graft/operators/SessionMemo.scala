package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Per-(session, key) memo for expensive lineage-truncated relations
  * that several queries share (TextPack.bpeChain's pattern, reusable):
  * the builder runs once per session per key; an applicationEnd listener
  * clears a stopped context's entries so checkpoint-backed DataFrames of
  * dead sessions are not retained.
  *
  * Staleness contract: assumes the data behind `key` is immutable for
  * the session's lifetime (true for the gate's read-only testdata);
  * call [[invalidate]] if it changes mid-session. */
private[graft] final class SessionMemo[V] {
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), SessionMemo.Lazy[V]]()
  private val armed =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SparkContext]()

  /** The map holds a lazy holder and the builder runs outside the map's
    * lock, when the holder is forced: a builder may `get` another key of
    * this memo (a nested `computeIfAbsent` on the same map is forbidden and
    * throws `Recursive update` when both keys share a bin). Concurrent
    * callers of one key wait on its holder; a builder that throws takes
    * its holder out, so the next `get` builds again. */
  def get(s: SparkSession, key: String)(build: => V): V = {
    arm(s)
    val k = (s, key)
    val holder = memo.computeIfAbsent(k, _ => new SessionMemo.Lazy(() => build))
    try holder.value
    catch { case e: Throwable => memo.remove(k, holder); throw e }
  }

  /** Drop entries: for one (session, key) when `key` is given, else every
    * entry of the session. */
  def invalidate(s: SparkSession, key: Option[String] = None): Unit =
    memo.keySet().removeIf(k => k._1 == s && key.forall(_ == k._2))

  /** One listener per SparkContext clears the entries of all its sessions
    * when it stops. */
  private def arm(s: SparkSession): Unit = {
    val sc = s.sparkContext
    if (armed.add(sc)) {
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          memo.keySet().removeIf(_._1.sparkContext eq sc)
          armed.remove(sc)
        }
      })
    }
  }
}

private object SessionMemo {
  final class Lazy[V](build: () => V) {
    lazy val value: V = build()
  }
}
