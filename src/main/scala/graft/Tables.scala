package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * All tables live as `<dir>/<name>.parquet`. The reference engine loads its
  * static tables from pipe-separated CSV (reference:
  * `src/main/scala/org/mvrs/dspa/jobs/preparation/LoadStaticDataJob.scala:20-25`);
  * here the driver supplies parquet, which is also the format a 100 TB
  * deployment would use (columnar scan + predicate pushdown + column pruning).
  */
object Tables {
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.parquet carries TIMESTAMP(NANOS) which Spark 4 rejects by
    // default; read nanos as Long and normalize in events() below. Set
    // once per session: a conf write on every load is a wasted call.
    if (spark.conf.get(NanosAsLong, "false") != "true")
      spark.conf.set(NanosAsLong, "true")
    spark.read.parquet(s"$dir/$name.parquet")
  }

  /** Gated scan parallelizer (guide §2.5 "input skew — one huge
    * unsplittable file … repartition immediately after the read"). The
    * testdata parquet is written as ONE row group per table, so byte-range
    * splitting cannot parallelize the scan and all per-row map work
    * (tokenize, shingle, hash, join probe) runs on a single core however
    * many the machine has. When the planned scan has fewer partitions than
    * the session's core count, round-robin it to defaultParallelism —
    * a shuffle of the scan's (column-pruned) output, cheap at the sizes
    * where the gate fires. When the input already plans >= cores
    * partitions (many files / many row groups — the production case) the
    * df is returned unchanged, so nothing here is tuned to local mode.
    * The planned-partition probe runs once per (session, dir, table), not
    * once per query invocation. */
  private[graft] def parallel(df: DataFrame, dir: String, table: String): DataFrame = {
    val s = df.sparkSession
    val cores = s.sparkContext.defaultParallelism
    val n = graft.operators.Artifacts.get(s, dir, s"scanParts|$table")(df.rdd.getNumPartitions)
    if (n >= cores) df else df.repartition(cores)
  }

  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  /** `ts` has shipped in two physical forms across testdata generations:
    * TIMESTAMP(NANOS) (surfaced as nanos-since-epoch Long under
    * `nanosAsLong`, see load()) and plain TIMESTAMP(MICROS) (a native
    * TimestampType). Normalize both to µs-precision TimestampType — the
    * same truncation DuckDB applies when reading TIMESTAMP(NANOS) into its
    * µs TIMESTAMP, so oracle comparisons see identical instants. Integer
    * `div` (not `/`) because ns values ~1.7e18 exceed Double's 2^53
    * exact-integer range.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // isAdjustedToUTC=false parquet surfaces as NTZ; the session runs in
      // UTC, so the cast re-labels the same instant (exactly how DuckDB
      // reads the naive value) and downstream ops see one timestamp type
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
