package graft.jobs

import graft.Tables
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Event-log shard layout writer — the data-layout half of the 100 TB
  * story that PrepJob's bucketed feature store doesn't cover: the big
  * APPEND-ONLY fact table (events) laid out hive-partitioned by event-time
  * period, clustered within files by (user_id, ts).
  *
  * Why this layout at 100 TB:
  *  - **Partition pruning**: a time-bounded query (every reference job is
  *    one — reference: application.conf:23-41 replays a bounded event-time
  *    span) scans only the matching `period=` directories; Catalyst prunes
  *    at planning time from the filter alone (guarded in ShardJobSpec —
  *    `PartitionFilters` in the scan + fewer input files).
  *  - **Row-group pruning**: `sortWithinPartitions(user_id, ts)` gives
  *    parquet min/max stats that let a per-user read skip row groups.
  *  - **Bounded file counts**: `repartition(period)` clusters each
  *    partition's rows before the write so a partition is one file
  *    (plus `maxRecordsPerFile` splits), not one file per task —
  *    the small-files problem is a layout decision, not luck.
  *
  * The period is a day — the standard fact-table granularity (the local
  * fixtures span ~30 event-time days, so ~30 directories).
  */
object ShardJob {
  /** Write `events` hive-partitioned by day, clustered by (user, ts). */
  def writePartitioned(spark: SparkSession, sfDir: String, outPath: String,
                       maxRecordsPerFile: Long = 1000000L): Unit =
    Tables.events(spark, sfDir)
      .withColumn("period", date_format(col("ts"), "yyyy-MM-dd"))
      .repartition(col("period"))
      .sortWithinPartitions(col("user_id"), col("ts"))
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("period")
      .parquet(outPath)

  /** CLI entry: ShardJob <sfDir> <outPath> */
  def main(args: Array[String]): Unit = {
    val Array(sfDir, out) = args
    val spark = graft.Sessions.local("shard")
    writePartitioned(spark, sfDir, out)
    spark.stop()
  }
}
