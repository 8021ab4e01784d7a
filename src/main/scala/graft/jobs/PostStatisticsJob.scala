package graft.jobs

import graft.sources.{KeyedUpsertSink, ReplaySource}
import graft.streaming.StreamOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The reference's Task 1 as a runnable streaming main (reference:
  * jobs/activeposts/ActivePostStatisticsJob.scala:20-92 — consume the
  * replayed event streams, resolve each comment to its root post, compute
  * 12 h / 30 min sliding per-post statistics, and continuously upsert them
  * into the result store keyed so that newer statistics never lose to
  * older ones).
  *
  * Spark assembly: scaled replay source (S1/S3) → watermark → reply-tree
  * resolution → [[StreamOps.slidingStats]] keyed by `root_id` (the SAME
  * transform batch query q21's family uses — batch/stream parity by
  * construction) in append mode → per-micro-batch [[KeyedUpsertSink]]
  * merge keyed by (wstart, root_id).
  *
  * Ordering (the reference's W11 concern — it partitions its Kafka topic
  * by post id so ES sees per-post order, ActivePostStatisticsJob.scala
  * :69-80): here `n_events` is the upsert VERSION, so replayed or
  * reordered micro-batches can never overwrite newer statistics with
  * older ones, and re-running a batch is idempotent (W10).
  *
  * Scale: state is the resolver's and the sliding-window aggregation's
  * (both bounded by the watermark); the upsert is one shuffle on the key
  * per micro-batch. In production the sink is a Delta/Iceberg MERGE
  * (KeyedUpsertSink's documented swap point) and the trigger interval
  * amortizes it.
  */
object PostStatisticsJob {

  /** The reference's FULL Task-1 chain (ActivePostStatisticsJob.scala:48-66):
    * the comment stream is first resolved to its transitive root post by
    * the reply-tree builder, the resolved events rejoin the root events,
    * and the sliding statistics are computed PER ROOT POST — so a reply
    * deep in a thread counts toward its post's statistics, not its own id.
    * Injectable for tests; `main` wires the replay source.
    *
    * Spark assembly: watermark → derive the edge relation (q45's
    * deterministic parent rule: 'click' events are replies) →
    * [[graft.streaming.ReplyTreeOp.resolveScaleOut]] (roots resolve to
    * themselves, replies transitively; dangling replies drop at the
    * watermark like the reference's side-output drop; the resolved map is
    * hash-partitioned across state partitions, with the same resolved and
    * dropped sets as the single-group `resolveEvicting`,
    * ScaleOutReplyTreeSpec) → the resolved stream carries each event's own
    * payload, so the SAME slidingStats transform runs keyed by `root_id`,
    * exactly the reference's process-function pipeline shape.
    *
    * A query holding several flatMapGroupsWithState operators must run in
    * append mode, so each (window, root) is written once, when the
    * watermark closes the window — the reference's own firing semantics
    * (Flink event-time windows fire on watermark passage). A bounded
    * stream therefore emits only the windows its final watermark has
    * closed. */
  def runResolved(spark: SparkSession, events: DataFrame, outDir: String,
                  checkpointDir: String, watermark: String = "1 hour"): StreamingQuery = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val edges = events.withWatermark("ts", watermark)
      .select(col("event_id"), col("ts"),
        when(col("event_type") === "click",
          col("event_id") - 1
            - (regexp_extract(col("props"), "(\\d+)", 1).cast("long") % 4))
          .otherwise(lit(null).cast("long")).as("parent_id"),
        col("user_id"), col("event_type"))
      .as[graft.streaming.EdgeEventT]
    // RE-DECLARE the watermark on the resolver's output: the simulation
    // does not propagate the input watermark through a fMGWS (its output
    // event times are arbitrary), so without this node the downstream
    // aggregation's eviction watermark stays frozen at 0 and its state
    // grows monotonically — unbounded under sustained replay (caught by
    // the SoakBench plateau metric; pinned in StatePlateauSpec). The
    // resolver's probe rows fire EXACTLY when the watermark passes them,
    // i.e. at-or-behind it — an equal downstream delay would drop every
    // slow-path row from the statistics, so the stats window gets double
    // the delay (covers any probe lag up to one batch of
    // event-time stride; beyond that is the documented allowed-lateness
    // drop).
    val resolved = graft.streaming.ReplyTreeOp.resolveScaleOut(edges)
      .filter(!col("dropped"))
      .select(col("ts"), col("root_id"), col("event_type"))
      .withWatermark("ts", doubled(watermark))
    // Spark rejects stateful-after-stateful by default because the upstream
    // operator may emit rows behind the global watermark. Here that is the
    // INTENDED semantics and the loss window is already bounded: the
    // resolver evicts any pending reply the watermark has passed (so a
    // reply can resolve at most one trigger behind the watermark), and the
    // reference accepts exactly the same drop through its own allowed
    // lateness (BuildReplyTreeProcessFunction's watermark eviction +
    // side output). Scope the opt-out to this query's startup
    // (StreamOps.startUnchecked), and run the query interpreted
    // (StreamOps.startInterpreted: its micro-batches are too small to
    // repay compiling generated code).
    StreamOps.startUnchecked(spark)(StreamOps.startInterpreted(spark) {
      StreamOps.slidingStats(resolved, "root_id")
        .writeStream.outputMode("append")
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          KeyedUpsertSink.upsert(batch.sparkSession, outDir, batch,
            Seq("wstart", "root_id"), "n_events")
        }
        .start()
    })
  }

  /** "N unit" → "2N unit" (e.g. "1 hour" → "2 hour"); non-trivial interval
    * strings pass through unchanged. */
  private[jobs] def doubled(w: String): String = w.trim.split("\\s+", 2) match {
    case Array(n, unit) if n.nonEmpty && n.forall(_.isDigit) =>
      s"${n.toLong * 2} $unit"
    case _ => w
  }

  /** CLI: PostStatisticsJob <sfDir> <outDir> <checkpointDir> [speedup] [runSeconds]
    * — runs the per-post chain ([[runResolved]]). */
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, ckpt) = (args(0), args(1), args(2))
    val speedup = args.lift(3).getOrElse("10000")
    val runSec = args.lift(4).map(_.toLong).getOrElse(Long.MaxValue)
    val spark = graft.Sessions.local("post-statistics")
    val q = runResolved(spark, ReplaySource.stream(spark, sfDir, speedup), outDir, ckpt)
    try Jobs.await(spark, runSec) finally { q.stop(); spark.stop() }
  }
}

/** Shared wiring for the three streaming job mains. */
private[jobs] object Jobs {
  /** Wait `runSec` seconds on every query of `spark`'s session, or
    * forever when the product would overflow the millisecond clamp
    * (runSeconds omitted = run-forever default). The first query to end
    * ends the wait, and one that failed rethrows its error here
    * (`awaitAnyTermination`), so a failed job exits non-zero. */
  def await(spark: SparkSession, runSec: Long): Unit =
    if (runSec >= Long.MaxValue / 1000L) spark.streams.awaitAnyTermination()
    else spark.streams.awaitAnyTermination(runSec * 1000L)
}
