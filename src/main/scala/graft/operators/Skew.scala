package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities for hot keys — the 100 TB contingency the
  * plan-level docs keep citing (SURVEY §4.1 "state-size control", TextPack
  * scale notes). AQE's skew-join handling covers sort-merge joins
  * automatically; this covers the shape AQE does not: aggregation skew
  * (q48).
  *
  * Pattern (MMDS-style two-phase aggregation): salt the hot key with a
  * random shard id, pre-aggregate per (key, shard) — map-side combine
  * shrinks every shard to one row — then aggregate the shards. The result
  * is EXACTLY the unsalted aggregate (tested in SkewSpec); only the
  * shuffle layout changes: a key that once landed on one reducer now
  * spreads over `shards`.
  */
object Skew {

  /** Two-phase count/sum aggregation over possibly-skewed `key`:
    * equivalent to `df.groupBy(key).agg(count(*), sum(valueCol))`. */
  def saltedCountSum(df: DataFrame, key: String, valueCol: String,
                     shards: Int = 32): DataFrame =
    df
      .withColumn("__shard", pmod(spark_partition_id() + monotonically_increasing_id(), lit(shards)))
      .groupBy(col(key), col("__shard"))
      .agg(count(lit(1)).as("__n"), sum(col(valueCol)).as("__s"))
      .groupBy(col(key))
      .agg(sum(col("__n")).as("n"), sum(col("__s")).as("sum_value"))
}
