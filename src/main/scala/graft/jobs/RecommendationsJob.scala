package graft.jobs

import graft.operators.RecommendationPack
import graft.sources.{KeyedUpsertSink, ReplaySource}
import graft.streaming.StreamOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The reference's Task 2 as a runnable streaming main (reference:
  * jobs/recommendations/RecommendationsJob.scala:23-196 — per-person
  * activity collected in sliding windows; for each ACTIVE person the
  * windowed activity features are unioned with the person's static
  * features, re-MinHashed, LSH candidates looked up in the precomputed
  * store, known persons excluded, and the top-5 by estimated similarity
  * upserted).
  *
  * Spark assembly: the batch-built static store
  * ([[RecommendationPack.staticStore]] — band inverted index + stored
  * signatures over STATIC features, the reference's indexes from
  * LoadStaticDataJob) is cached once; the streaming side windows the
  * replayed events per user collecting the window's ACTIVITY features
  * (reference's activity window, RecommendationsJob.scala:342-356) and,
  * per micro-batch, runs the full online recompute
  * ([[RecommendationPack.onlineRecommend]]): composite activity∪static
  * features → MinHash → LSH candidate lookup → exclude known → top-5 —
  * so recommendations genuinely CHANGE with streaming activity, the
  * reference's defining Task-2 behavior.
  *
  * Update mode (not append): the reference emits recommendations at every
  * window fire including early/updated ones. The store keys by user and
  * holds the full recommendation LIST (the reference's person-id →
  * List[(person, sim)] document, atomically replaced per fire); the
  * version is monotonic in (window start, micro-batch), so a later fire of
  * the SAME window — carrying a more complete activity set — supersedes
  * the earlier one, a newer window supersedes any older one, and replays
  * are idempotent.
  *
  * Scale: activity-window state is bounded by the watermark; per-fire work
  * is |active users| × 16 band probes against the pre-bucketed static
  * index (AQE broadcasts the fired batch — the small side). At 100 TB the
  * static store is PrepJob's persisted bucketed tables, not executor
  * cache.
  */
object RecommendationsJob {

  /** Batch ids occupy the low bits of the upsert version; window starts
    * the high bits — (wstart, batchId) lexicographic order in one long.
    * 2^20 batches ≫ any run; epoch-seconds × 2^20 ≈ 1.8e15 ≪ Long.Max. */
  private val VerScale = 1L << 20

  /** Compose the job over an arbitrary (streaming) events frame —
    * injectable for tests; `main` wires the replay source. */
  def run(spark: SparkSession, events: DataFrame, sfDir: String, outDir: String,
          checkpointDir: String, watermark: String = "1 hour",
          windowSize: String = "4 hours"): StreamingQuery = {
    val store = RecommendationPack.staticStore(spark, sfDir)

    val fired = events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowSize).as("w"), col("user_id"))
      .agg(collect_set(col("event_type")).as("acts"))
      .select(unix_timestamp(col("w.start")).as("wstart"), col("user_id"), col("acts"))

    // interpreted (StreamOps.startInterpreted); the static store above was
    // built compiled, on the caller's session
    StreamOps.startInterpreted(spark)(fired.writeStream.outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // The recompute references the fired frame from several plan
        // branches (composite join, sig self-join, final left join).
        // Re-planning a foreachBatch/RDD-backed relation under that
        // self-referencing plan is hazardous — branch deduplication can
        // silently rebind one branch's attributes (observed: the activity
        // branch collapsing into the static one) — so pin ONE consistent,
        // re-readable snapshot of the tiny fired frame as parquet first
        // (bounded by active users per fire), exactly like the reference
        // persists window fires before its async lookup chain.
        val spark = batch.sparkSession
        // staged under the checkpoint dir: scratch state lives with the
        // query's other transient state, not beside the result store
        val stage = s"$checkpointDir/fired_stage"
        // a batch can carry several fired windows for one user; only the
        // LATEST determines the stored list (older ones are superseded in
        // the same merge anyway — skip their recompute entirely)
        batch.withColumn("rn", row_number().over(
            Window.partitionBy(col("user_id")).orderBy(col("wstart").desc)))
          .filter(col("rn") === 1).drop("rn")
          .write.mode("overwrite").parquet(stage)
        val latest = spark.read.parquet(stage)
        if (!latest.isEmpty) {
          val recs = RecommendationPack.onlineRecommend(latest, store)
            .withColumn("ver", col("wstart") * VerScale + lit(math.min(batchId, VerScale - 1)))
          KeyedUpsertSink.upsert(spark, outDir, recs, Seq("user_id"), "ver")
        }
      }
      .start())
  }

  /** CLI: RecommendationsJob <sfDir> <outDir> <checkpointDir> [speedup] [runSeconds] */
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, ckpt) = (args(0), args(1), args(2))
    val speedup = args.lift(3).getOrElse("10000")
    val runSec = args.lift(4).map(_.toLong).getOrElse(Long.MaxValue)
    val spark = graft.Sessions.local("recommendations")
    val q = run(spark, ReplaySource.stream(spark, sfDir, speedup), sfDir, outDir, ckpt)
    try Jobs.await(spark, runSec) finally { q.stop(); spark.stop() }
  }
}
