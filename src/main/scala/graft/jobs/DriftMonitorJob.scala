package graft.jobs

import graft.operators.SimilarityPack
import graft.sources.KeyedUpsertSink
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming embedding-drift (PSI) monitor — the live form of q156, the
  * table a production embedding pipeline watches after every model/data
  * refresh. The OLD snapshot is static: its 2^BITS-bucket histogram is
  * computed once ([[SimilarityPack.driftBaseline]]) and pinned. NEW
  * vectors arrive on a stream; each micro-batch's bucket counts (the
  * same fixed sign-projection quantization as the batch query —
  * [[SimilarityPack.driftSigs]], so a vector's bucket is bit-identical
  * to its batch one) fold into a durable (sig, c) store, and the PSI
  * table is re-derived from store + baseline via
  * [[SimilarityPack.psiOf]] — never from the raw stream: the bucket
  * counts are the sufficient statistic, so the re-derive pass is
  * 2^BITS-sized regardless of how many vectors have flowed.
  *
  * Exactly-once (LabelQualityJob's pattern): each batch's bucket counts
  * go through [[KeyedUpsertSink.addCounts]] under a checkpoint-bound
  * version, so a replayed batch loses the version tie and the store is
  * byte-identical to a single delivery (DriftStreamSpec restarts
  * mid-stream and asserts the final PSI table equals batch q156).
  *
  * Scale: the per-batch delta agg is a map-side partial agg down to
  * ≤ 2^BITS rows; the store, baseline, and PSI table are all
  * 2^BITS-sized, so fold + re-derive cost is independent of corpus and
  * stream volume. */
object DriftMonitorJob {

  /** Current PSI table from the standing new-side store and the static
    * baseline: full-outer on sig (a bucket seen by only one side still
    * contributes its smoothed term, mirroring the batch groupBy's row
    * set), zero-filled, through the shared [[SimilarityPack.psiOf]]. */
  def psiSnapshot(spark: SparkSession, store: String,
                  baseline: DataFrame): DataFrame = {
    val cb = KeyedUpsertSink.read(spark, store).get.select(col("sig"), col("c").as("c_b"))
    val cnt = baseline.join(cb, Seq("sig"), "full_outer")
      .select(col("sig"), coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"))
    SimilarityPack.psiOf(cnt)
  }

  /** Start the monitor on a streaming embeddings frame (vec_id,
    * embedding): per micro-batch, fold bucket counts into `store` and
    * overwrite `psiOut` with the current PSI table (overwrite is
    * naturally idempotent). `baseline` is materialized once up front —
    * it is 2^BITS rows however large the old snapshot was. */
  def run(spark: SparkSession, newVecs: DataFrame, baseline: DataFrame,
          store: String, psiOut: String, ckpt: String): StreamingQuery = {
    val base = KeyedUpsertSink.versionBase(spark, ckpt, store)
    val bl = baseline.localCheckpoint(true)
    newVecs.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) =>
        val delta = SimilarityPack.driftSigs(b)
          .groupBy(col("sig")).agg(count(lit(1)).cast("long").as("c"))
        KeyedUpsertSink.addCounts(spark, store, delta, Seq("sig"), base + id)
        psiSnapshot(spark, store, bl)
          .localCheckpoint(true)
          .write.mode(SaveMode.Overwrite).parquet(psiOut)
      }.start()
  }
}
