package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The one registry of per-session build artifacts: relations and values
  * derived from the data under a dir that several queries share (the
  * reply-tree fixpoint, the pair relations, the BPE chain, the ANN
  * searches, trained models, …) and that are expensive enough to build
  * once. Each is keyed by (session, dir, name) and built on first use.
  *
  * Staleness contract: an artifact assumes the data under its `dir` is
  * immutable for the session's lifetime (true for read-only testdata and
  * for a snapshot-per-dir deployment). After changing data under a dir,
  * call `invalidate(s, Some(dir))`. Because every artifact derived from a
  * dir is keyed by that dir, dropping the dir drops the artifacts built
  * from other artifacts too. A stopped SparkContext's entries are cleared
  * by one application-end listener per context, so checkpoint-backed
  * DataFrames of dead sessions are not retained.
  *
  * `name` must carry every other input that changes the contents (a
  * session conf such as the hot-shingle cap, an algorithm variant). */
private[graft] object Artifacts {
  private final class Lazy(build: () => Any) {
    lazy val value: Any = build()
  }

  private val memo = new ConcurrentHashMap[(SparkSession, String, String), Lazy]()
  private val armed = ConcurrentHashMap.newKeySet[SparkContext]()

  /** The map holds a lazy holder and the builder runs outside the map's
    * lock, when the holder is forced: a builder may `get` another
    * artifact (a nested `computeIfAbsent` on the same map is forbidden and
    * throws `Recursive update` when both keys share a bin). Concurrent
    * callers of one key wait on its holder, so the builder runs once; a
    * builder that throws takes its holder out, so the next `get` builds
    * again. */
  def get[V](s: SparkSession, dir: String, name: String)(build: => V): V = {
    arm(s)
    val k = (s, dir, name)
    val holder = memo.computeIfAbsent(k, _ => new Lazy(() => build))
    try holder.value.asInstanceOf[V]
    catch { case e: Throwable => memo.remove(k, holder); throw e }
  }

  /** Drop every artifact of `dir` in session `s`, or every artifact of the
    * session when `dir` is None. */
  def invalidate(s: SparkSession, dir: Option[String] = None): Unit =
    memo.keySet().removeIf(k => (k._1 eq s) && dir.forall(_ == k._2))

  private def arm(s: SparkSession): Unit = {
    val sc = s.sparkContext
    if (armed.add(sc)) {
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          memo.keySet().removeIf(_._1.sparkContext eq sc)
          armed.remove(sc)
        }
      })
    }
  }
}
