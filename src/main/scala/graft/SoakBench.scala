package graft

import graft.jobs.{ActivityDetectionJob, PostStatisticsJob, RecommendationsJob}
import graft.sources.{KeyedUpsertSink, ReplaySource}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** Sustained-replay soak of the THREE analytic job mains running
  * concurrently in one session — the reference's headline stability claim
  * (BASELINE.md: all three jobs at a sustained 10 000× simulated-time
  * speedup; reference application.conf:23-41) measured end to end:
  *
  *   - wall time to replay the full event-time span (~30 days of sf data)
  *     at the configured speedup, all jobs keeping pace;
  *   - per-job state-store plateau: max vs final `numRowsTotal` and
  *     whether eviction was observed (a strict decrease) — the "state is
  *     watermark-bounded, not monotonically growing" property
  *     (StatePlateauSpec pins the same property as a test);
  *   - per-batch state commit latency (p50/p95 of commitTimeMs) — the
  *     checkpointing cost under sustained load, comparable across state
  *     backends (`SPARK_GRAFT_STATE=rocksdb` switches the provider, the
  *     reference's optional RocksDB checkpointing, application.conf:106-114).
  *
  * Usage: SPARK_GRAFT_SF_DIR=… [SPARK_GRAFT_STATE=rocksdb]
  *        sbt "runMain graft.SoakBench [speedup]"
  * Prints one JSON line per job plus a summary line. */
object SoakBench {

  private final case class Sample(batchId: Long, inputRows: Long,
                                  batchMs: Long, stateRows: Long,
                                  commitMs: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val backend = sys.env.getOrElse("SPARK_GRAFT_STATE", "hdfs")
    val speedup = args.lift(0).map(_.toDouble).getOrElse(10000.0)
    val spark = Sessions.local("soak-bench")
    if (backend == "rocksdb")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    val totalEvents = Tables.events(spark, sfDir).count()
    val span = Tables.events(spark, sfDir)
      .agg(min(unix_timestamp(col("ts"))), max(unix_timestamp(col("ts"))))
      .head()
    val spanSec = span.getLong(1) - span.getLong(0)

    // per-query progress samples, keyed by query id
    val samples = mutable.Map.empty[java.util.UUID, mutable.ArrayBuffer[Sample]]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        samples.synchronized {
          val p = e.progress
          val ops = p.stateOperators
          samples.getOrElseUpdate(p.id, mutable.ArrayBuffer.empty) += Sample(
            p.batchId, p.numInputRows, p.batchDuration,
            if (ops.isEmpty) 0L else ops.map(_.numRowsTotal).sum,
            if (ops.isEmpty) 0L else ops.map(_.commitTimeMs).max)
        }
    }
    spark.streams.addListener(listener)

    def tmp(prefix: String): String =
      java.nio.file.Files.createTempDirectory(prefix).toString + "/store"
    val o1 = tmp("soak1_out"); val c1 = tmp("soak1_ckpt")
    val o2 = tmp("soak2_out"); val c2 = tmp("soak2_ckpt")
    val o3 = tmp("soak3_out"); val c3 = tmp("soak3_ckpt")

    def replayed = ReplaySource.stream(spark, sfDir, speedup.toString)

    val t0 = System.nanoTime()
    val q1 = PostStatisticsJob.runResolved(spark, replayed, o1, c1)
    val q2 = RecommendationsJob.run(spark, replayed, sfDir, o2, c2)
    val (m3, cl3) = ActivityDetectionJob.run(spark, replayed, None, o3, c3)
    val jobs = Seq("task1_post_stats" -> q1, "task2_recommendations" -> q2,
      "task3_model" -> m3, "task3_classify" -> cl3)

    // drive until every query's replay frontier (the source OFFSET, in
    // event-time micros) saturates past the max event time — the scaled
    // clock has replayed the whole span. Hard cap at 3× the ideal wall so
    // a stall surfaces as a visible shortfall instead of a hang.
    val maxMicros = span.getLong(1) * 1000000L
    def frontier(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      Option(q.lastProgress).flatMap(_.sources.headOption)
        .map(_.endOffset.replaceAll("\"", "").toLong).getOrElse(Long.MinValue)
    val deadline = System.nanoTime() + (3e9 * spanSec / speedup).toLong +
      120L * 1000 * 1000 * 1000
    while (jobs.exists { case (_, q) => frontier(q) < maxMicros } &&
           System.nanoTime() < deadline) {
      jobs.foreach(_._2.processAllAvailable())
      Thread.sleep(200)
    }
    jobs.foreach(_._2.processAllAvailable())
    val wallS = (System.nanoTime() - t0) / 1e9
    jobs.foreach(_._2.stop())

    def pct(xs: Seq[Long], p: Double): Long =
      if (xs.isEmpty) 0L else xs.sorted.apply(math.min(xs.length - 1,
        (p * xs.length).toInt))
    def store(dir: String) = KeyedUpsertSink.read(spark, dir).get
    val windows1 = store(o1).select("wstart").distinct().count()
    val windows2 = store(o2).select("wstart").distinct().count()
    val models3 = store(s"$o3/models").count()

    jobs.foreach { case (name, q) =>
      val ss = samples.synchronized(samples.get(q.id).map(_.toVector).getOrElse(Vector.empty))
      val withState = ss.filter(_.stateRows > 0)
      val maxRows = if (withState.isEmpty) 0L else withState.map(_.stateRows).max
      val finRows = withState.lastOption.map(_.stateRows).getOrElse(0L)
      val decreased = withState.sliding(2).exists {
        case Vector(a, b) => b.stateRows < a.stateRows
        case _ => false
      }
      val commits = ss.map(_.commitMs).filter(_ > 0)
      println(s"""{"job":"$name","backend":"$backend","batches":${ss.length},""" +
        s""""input_rows":${ss.map(_.inputRows).sum},"state_rows_max":$maxRows,""" +
        s""""state_rows_final":$finRows,"state_evicted":$decreased,""" +
        s""""commit_ms_p50":${pct(commits, 0.5)},"commit_ms_p95":${pct(commits, 0.95)},""" +
        s""""batch_ms_p95":${pct(ss.map(_.batchMs), 0.95)}}""")
    }
    println(f"""{"measure":"soak","backend":"$backend","sf_dir":"$sfDir","speedup":$speedup,""" +
      f""""events":$totalEvents,"span_sec":$spanSec,"ideal_wall_s":${spanSec / speedup}%.1f,""" +
      f""""wall_s":$wallS%.1f,"task1_windows":$windows1,"task2_windows":$windows2,""" +
      f""""task3_models":$models3}""")
    spark.stop()
  }
}
