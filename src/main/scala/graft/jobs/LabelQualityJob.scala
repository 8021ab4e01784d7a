package graft.jobs

import graft.operators.CurationPack
import graft.sources.KeyedUpsertSink
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming labeling-campaign quality monitor — the live form of
  * q134/q136. Rating events fold into a durable (item_id, label, c)
  * count store each micro-batch, and the campaign scorecard (per-item
  * observed agreement, corpus Fleiss' kappa — q136's exact-integer
  * arithmetic via [[CurationPack.fleissScorecard]]) is re-derived from
  * the store, never from the raw stream: counts are the sufficient
  * statistic, so the scorecard pass is item-count-sized regardless of
  * how many rating events have flowed.
  *
  * Exactly-once without an idempotent aggregate: each batch's counts go
  * through [[KeyedUpsertSink.addCounts]] under a checkpoint-bound
  * version ([[KeyedUpsertSink.versionBase]]), so a batch replayed after a
  * crash loses the version tie and the store is byte-identical to a
  * single delivery (LabelQualityJobSpec restarts mid-campaign and asserts
  * parity with the batch recomputation).
  */
object LabelQualityJob {

  /** Start the monitor on a streaming events frame: per micro-batch,
    * fold counts into `store` and overwrite `scoreOut` with the one-row
    * scorecard (overwrite is naturally idempotent). */
  def run(spark: SparkSession, events: DataFrame, store: String,
          scoreOut: String, ckpt: String): StreamingQuery = {
    val base = KeyedUpsertSink.versionBase(spark, ckpt, store)
    events.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) =>
        KeyedUpsertSink.addCounts(spark, store, CurationPack.ratingCountsOf(b),
          Seq("item_id", "label"), base + id)
        CurationPack.fleissScorecard(
            KeyedUpsertSink.read(spark, store).get.select("item_id", "label", "c"))
          .localCheckpoint(true)
          .write.mode(SaveMode.Overwrite).parquet(scoreOut)
      }.start()
  }
}
