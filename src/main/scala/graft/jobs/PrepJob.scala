package graft.jobs

import graft.Tables
import graft.operators.RecommendationPack
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Batch feature-store preparation — the reference's data-prep job
  * (reference: jobs/preparation/LoadStaticDataJob.scala:16-137, which
  * loads person/forum features, MinHash signatures, LSH buckets, and
  * known-person lists into ElasticSearch before the streaming jobs run).
  * Here the store is BUCKETED PARQUET TABLES: the streaming/batch
  * consumers join them on their bucket key with zero shuffle on the
  * store side — the role ES point-lookups played, served by co-location
  * instead of a remote KV store (SURVEY §2.4 J2–J8 → native joins).
  *
  * Tables written (all under `<prefix>_`):
  *   user_features  (user_id, features sorted-csv, n_features) — bucketed
  *                  by user_id                                  [A4/U2]
  *   user_minhash   (user_id, sig array<bigint>)   — bucketed by user_id
  *                  — the 64-slot signature from the SAME MinHasher the
  *                  online pipeline uses: the reference's batch/stream
  *                  MinHash determinism contract (README.md:112) [F6]
  *   lsh_buckets    (band, bandkey, user_id)       — bucketed by bandkey
  *                  (the inverted index, one row per membership) [A5/F7]
  *   last_activity  (user_id, last_ts)             — bucketed by user_id
  *                  (J12's recency store / A8 rolling max)      [A8]
  *
  * At 100 TB, bucket counts scale with data (buckets ≈ store size /
  * target file size); consumers that join on the bucket key skip both
  * exchange AND sort (bucketBy + sortBy), exactly BucketingSpec's
  * measured zero-exchange plan.
  */
object PrepJob {

  def run(spark: SparkSession, sfDir: String, warehousePath: String,
          prefix: String = "prep", buckets: Int = 8): Unit = {
    def save(df: org.apache.spark.sql.DataFrame, name: String, key: String): Unit =
      df.write.mode(SaveMode.Overwrite)
        .bucketBy(buckets, key).sortBy(key)
        .option("path", s"$warehousePath/$name")
        .saveAsTable(s"${prefix}_$name")

    save(RecommendationPack.features(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(array_join(sort_array(collect_list(col("feature"))), ",").as("features"),
        count(lit(1)).as("n_features")),
      "user_features", "user_id")

    val sig = RecommendationPack.sig(spark, sfDir)
    save(sig, "user_minhash", "user_id")

    save(sig.select(col("user_id"), RecommendationPack.mh.bandsOf(col("sig")))
      .select(col("band"), col("bandkey"), col("user_id")),
      "lsh_buckets", "bandkey")

    save(Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(max(unix_timestamp(col("ts"))).as("last_ts")),
      "last_activity", "user_id")
  }

  /** Replay-optimized events layout — the ReplaySource scale advice
    * (ReplaySource.scala:44-49) made executable: rewrite `events.parquet`
    * TS-SORTED with bounded row groups into `<outDir>/events.parquet`, so
    * each replay micro-batch's pushed ts-range predicate prunes to the few
    * row groups whose footer statistics overlap the batch window instead
    * of re-decoding the whole file (row groups of an unsorted file all
    * span ~the full ts range — nothing prunes). `rowGroupBytes` sets
    * `parquet.block.size`: ~128 MB at cluster scale; tests shrink it to
    * observe multi-group pruning on small data. Timestamps are written
    * as annotated INT64 micros (the Ev reader's wire contract — INT96
    * carries no logical-type annotation to detect). */
  def prepReplayEvents(spark: SparkSession, sfDir: String, outDir: String,
                       rowGroupBytes: Long = 128L << 20): Unit = {
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val prevTs = spark.conf.getOption(tsKey)
    spark.conf.set(tsKey, "TIMESTAMP_MICROS")
    val tmp = s"$outDir/_events_sorted_tmp"
    try
      Tables.events(spark, sfDir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"))
        // one output file (the replay source's single-file contract);
        // within it, ts-ascending rows → ts-disjoint row groups
        .repartition(1)
        .sortWithinPartitions(col("ts"))
        .write.mode(SaveMode.Overwrite)
        .option("parquet.block.size", rowGroupBytes)
        .parquet(tmp)
    finally prevTs match {
      case Some(v) => spark.conf.set(tsKey, v)
      case None    => spark.conf.unset(tsKey)
    }
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*")).head.getPath
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$outDir/events.parquet"))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true): Unit
  }

  /** CLI entry: PrepJob <sfDir> <warehousePath> */
  def main(args: Array[String]): Unit = {
    val Array(sfDir, out) = args
    val spark = graft.Sessions.local("prep")
    run(spark, sfDir, out)
    spark.stop()
  }
}
