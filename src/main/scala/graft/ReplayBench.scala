package graft

import org.apache.spark.sql.functions._

/** Replay-ingest throughput measurement — the direct comparison point for
  * the reference's headline numbers (BASELINE.md: ~240 K events/s reading
  * 662 890 like events in ~3 s at effective-unbounded speedup, and the
  * sliding-window job sustaining 10 000× speedup; reference:
  * jobs/preparation/measure/ReadLikeEventsFromKafkaJob.scala:27-42).
  *
  * Two measurements on `events.parquet` of `SPARK_GRAFT_SF_DIR`:
  *  1. raw drain: ReplaySource at extreme speedup → count-only sink —
  *     the reference's "read everything as fast as possible" experiment;
  *  2. windowed job: the same stream through the q21-shaped sliding
  *     aggregation (approx-distinct form) — the reference's sustained
  *     per-job pipeline.
  * Prints one JSON line per measurement: events, wall seconds, events/s.
  */
object ReplayBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("replay-bench")

    val totalEvents = Tables.events(spark, sfDir).count()

    def runOnce(name: String, stream: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val counter = new java.util.concurrent.atomic.AtomicLong(0L)
      val t0 = System.nanoTime()
      val q = stream.writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          counter.addAndGet(df.count()): Unit
        }
        .outputMode(if (name.endsWith("_drain")) "append" else "update")
        .start()
      // drain: process until additional micro-batches change nothing
      var last = -1L
      var stable = 0
      while (stable < 3) {
        q.processAllAvailable()
        val c = counter.get()
        if (c == last) stable += 1 else { stable = 0; last = c }
      }
      // Spark's own per-batch rate (rows / batch runtime) — excludes query
      // start/stop and the empty drain-confirmation batches; the wall
      // figure keeps the end-to-end truth beside it
      val peakRate = q.recentProgress
        .filter(_.numInputRows > 0).map(_.processedRowsPerSecond)
        .foldLeft(0.0)(math.max)
      q.stop()
      ((System.nanoTime() - t0) / 1e9, peakRate)
    }

    // best-of-3: a sub-second drain is dominated by micro-batch scheduling
    // noise (observed ±2x on identical code); the min wall / max batch
    // rate is the steady-state capability, same policy as Bench's timed reps
    def run(name: String, reps: Int = 3)(stream: => org.apache.spark.sql.DataFrame): Unit = {
      val runs = Seq.fill(reps)(runOnce(name, stream))
      val secs = runs.map(_._1).min
      val peakRate = runs.map(_._2).max
      println(f"""{"measure":"$name","events":$totalEvents,"wall_s":$secs%.3f,"events_per_s":${(totalEvents / secs).toLong},"peak_batch_rows_per_s":${peakRate.toLong}}""")
    }

    def replay() = graft.sources.ReplaySource.stream(spark, sfDir, "1e15")

    // warmup: pays one-time session/codegen/stream-machinery init so the
    // timed drains measure ingest, as the reference's warm-Kafka read does
    run("warmup_drain", reps = 1)(replay().select(col("event_id")))
    run("raw_drain")(replay().select(col("event_id")))
    // SPARK_GRAFT_STATE=rocksdb switches the state backend (the
    // reference's optional RocksDB checkpointing, application.conf:106-114)
    if (sys.env.get("SPARK_GRAFT_STATE").contains("rocksdb"))
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    run("sliding_job")(graft.streaming.StreamOps.slidingStats(replay()))

    spark.stop()
  }
}
