package graft.streaming

import graft.operators.CurationPack
import graft.sources.KeyedUpsertSink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Online continuation of the distributed batch perceptron
  * ([[CurationPack.trainPerceptron]]): each micro-batch runs a few more
  * declarative training epochs seeded with the carried weights, so the
  * model keeps learning as labeled data streams in — the mini-batch SGD
  * shape on the same no-driver-state aggregation plan.
  *
  * Model persistence follows the clustering job's store pattern
  * (jobs/ActivityDetectionJob.modelQuery; reference restores its model
  * from checkpointed state, reference: jobs/clustering/
  * ClassifyEventsFunction.scala:16-47): every batch's weights upsert into
  * `<outDir>/weights` keyed by a version that stays monotonic across
  * restarts (bootstrapped base + batchId), and [[bootstrap]] re-seeds
  * the driver-side ref from `max(version)` after a restart so training
  * CONTINUES instead of silently resetting to zero. The driver-side
  * weight ref holds nx longs — model-sized by design, like the k-means
  * model ref.
  */
object OnlineClassifier {

  /** (version, weights) — the latest trained state. */
  type WRef = java.util.concurrent.atomic.AtomicReference[Option[(Long, Vector[Long])]]
  def newWRef: WRef =
    new java.util.concurrent.atomic.AtomicReference(None)

  /** Recover the newest weights from the durable store (None on a cold
    * start; a corrupt store logs and falls back to cold — the same
    * visibility rule as the clustering bootstrap). Only the max-version
    * ROW reaches the driver ([[KeyedUpsertSink.latest]]): the store retains
    * one row per trained batch over the job's lifetime, so collecting it
    * whole would make driver memory/startup cost grow without bound. */
  def bootstrap(spark: SparkSession, outDir: String, nx: Int): Option[(Long, Vector[Long])] =
    KeyedUpsertSink.latest(spark, s"$outDir/weights", "version").map { df =>
      val r = df.head()
      (r.getAs[Long]("version"), Vector.tabulate(nx)(j => r.getAs[Long](s"w$j")))
    }

  /** Start the training query over a streaming feature relation (columns
    * y ∈ {+1,−1} and x0..x{nx-1}, all BIGINT — the
    * [[CurationPack.trainPerceptron]] contract). Seed `latest` from
    * [[bootstrap]] before calling to survive restarts. */
  def run(spark: SparkSession, feats: DataFrame, nx: Int, outDir: String,
          checkpointDir: String, latest: WRef,
          epochsPerBatch: Int = 1): StreamingQuery = {
    // base+batchId stays monotonic across restarts in every case, and a
    // same-checkpoint replay recomputes its first delivery's version
    // (KeyedUpsertSink.versionBase).
    val base = KeyedUpsertSink.versionBase(spark, checkpointDir, s"$outDir/weights")
    feats.writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val version = base + batchId
        // Replay guard (exactly-once model CONTENT, not just monotonic
        // versions): a same-checkpoint replay recomputes the same version,
        // and the live/bootstrapped ref already holds it — retraining
        // would fold the batch into weights that already include it.
        if (!batch.isEmpty && latest.get().forall(_._1 < version)) {
          val s = batch.sparkSession
          val prev = latest.get().map(_._2).getOrElse(Vector.fill(nx)(0L))
          val start = s.range(1).select(
            prev.zipWithIndex.map { case (v, j) => lit(v).as(s"w$j") }: _*)
          val row = CurationPack
            .trainPerceptronFrom(batch, start, nx, epochsPerBatch)
            .collect().head // 1 row of nx longs — model-sized by design
          val ws = Vector.tabulate(nx)(j => row.getLong(j))
          latest.set(Some((version, ws)))
          val update = s.range(1).select(
            lit(version).as("version") +:
              ws.zipWithIndex.map { case (v, j) => lit(v).as(s"w$j") }: _*)
          KeyedUpsertSink.upsert(s, s"$outDir/weights", update,
            Seq("version"), "version")
        }
      }
      .start()
  }
}
