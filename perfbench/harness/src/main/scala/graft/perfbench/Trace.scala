package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** A traced interval at a layer boundary. `parent` is the span that caused
  * it (0 for a root). Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Raw Spark task figures, as the listener bus reports them. */
final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long,
                         runMs: Long, cpuMs: Double, gcMs: Long,
                         schedDelayMs: Long, inBytes: Long, inRecords: Long,
                         outBytes: Long, outRecords: Long,
                         shWriteBytes: Long, shRecords: Long, shReadBytes: Long,
                         fetchWaitMs: Long, spillBytes: Long, failed: Boolean)

final case class JobRec(jobId: Int, startMs: Long, stageIds: Seq[Int],
                        parentSpan: Long, streamQuery: String, batchId: String) {
  @volatile var endMs: Long = -1L
}

/** Records spans and raw listener events in memory; everything is
  * aggregated after the run. Spark-side events reach it through Spark's
  * public listener interfaces only. */
final class Tracer {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  /** (phase, startMs, endMs, round-robin exchanges in the executed plan) */
  val planning = new ConcurrentLinkedQueue[(String, Long, Long, Int)]()
  val droppedBlocks = new AtomicLong(0)
  private val events = new AtomicLong(0)

  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def newId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = spans.add(s)

  /** Run `body` inside a new span; Spark jobs it submits from this thread
    * name the span as their parent through a local property. */
  def span[T](spark: SparkSession, layer: String, name: String, parent: Long = 0L)(body: => T): T = {
    val id = newId()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val t0 = nowMs
    try body
    finally {
      add(Span(id, parent, layer, name, t0, nowMs))
      sc.setLocalProperty(Tracer.SpanKey, prev)
    }
  }

  /** Spark job spans, with their parents resolved. */
  def jobSpans(streamParent: (String, String) => Long): Seq[Span] =
    jobs.values.asScala.toSeq.filter(_.endMs >= 0).map { j =>
      val parent =
        if (j.parentSpan != 0L) j.parentSpan
        else if (j.streamQuery != null) streamParent(j.streamQuery, j.batchId)
        else 0L
      Span(-j.jobId - 1L, parent, "spark", s"job ${j.jobId}", j.startMs.toDouble, j.endMs.toDouble)
    }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      val p = Option(e.properties)
      def prop(k: String) = p.map(_.getProperty(k)).orNull
      val span = Option(prop(Tracer.SpanKey)).map(_.toLong).getOrElse(0L)
      jobs.put(e.jobId, JobRec(e.jobId, e.time, e.stageIds, span,
        prop("sql.streaming.queryId"), prop("streaming.sql.batchId")))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      events.incrementAndGet()
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val i = e.taskInfo
      val m = e.taskMetrics
      if (i != null && m != null) {
        val total = i.finishTime - i.launchTime
        val overhead = m.executorDeserializeTime + m.resultSerializationTime
        val sched = math.max(0L, total - m.executorRunTime - overhead - i.gettingResultTime)
        val sr = m.shuffleReadMetrics
        val sw = m.shuffleWriteMetrics
        tasks.add(TaskRec(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
          m.executorCpuTime / 1e6, m.jvmGCTime, sched,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
          sw.bytesWritten, sw.recordsWritten, sr.remoteBytesRead + sr.localBytesRead,
          sr.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled, i.failed))
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && !b.storageLevel.isValid) droppedBlocks.incrementAndGet()
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      events.incrementAndGet()
      val rr = Tracer.roundRobinExchanges(qe.executedPlan)
      qe.tracker.phases.foreach { case (name, p) =>
        planning.add((name, p.startTimeMs, p.endTimeMs, rr))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  @volatile private var on = false

  def register(spark: SparkSession): Unit = if (!on) {
    on = true
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def unregister(spark: SparkSession): Unit = if (on) {
    on = false
    drain(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Wait until the asynchronous listener buses have delivered what the
    * run produced: every started job has ended and no event arrived for a
    * quiet period (bounded). */
  def drain(spark: SparkSession): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var last = -1L
    while (System.nanoTime() < deadline &&
      (events.get() != last || jobs.values.asScala.exists(_.endMs < 0))) {
      last = events.get()
      Thread.sleep(200)
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  private object Plans extends AdaptiveSparkPlanHelper {
    def roundRobin(p: SparkPlan): Int = collectWithSubqueries(p) {
      case s: ShuffleExchangeLike if s.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => 1
    }.size
  }

  def roundRobinExchanges(p: SparkPlan): Int =
    try Plans.roundRobin(p) catch { case _: Throwable => 0 }

  /** One JSON object per line: id, parent (the span that caused it; 0 for
    * a root), layer, name, start and end (epoch ms). */
  def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val lines = spans.sortBy(_.startMs).map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "layer": ${graft.Jsons.quote(s.layer)}, """ +
        s""""name": ${graft.Jsons.quote(s.name)}, "start_ms": ${Json.num(s.startMs)}, "end_ms": ${Json.num(s.endMs)}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }

  /** Self time of each span: its duration minus the part of it that its
    * children cover. Returns layer -> total self time (ms). */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0.0; var curA = Double.NaN; var curB = Double.NaN
        kids.foreach { case (a, b) =>
          if (curA.isNaN) { curA = a; curB = b }
          else if (a <= curB) curB = math.max(curB, b)
          else { covered += curB - curA; curA = a; curB = b }
        }
        if (!curA.isNaN) covered += curB - curA
        math.max(0.0, s.durMs - covered)
      }.sum
    }
  }
}
