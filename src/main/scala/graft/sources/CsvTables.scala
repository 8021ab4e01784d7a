package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Pipe-separated CSV ingestion with the reference's parse semantics
  * (reference: utils/FlinkUtils.readCsv:171-174 — S6; utils/ParseUtils
  * .scala:18-45 — F1/F2/F3: ISO-8601 → UTC timestamps, `[a, b]` tag-set
  * literals, empty string → NULL).
  *
  * Schemas are explicit (the reference's are code-declared too, SURVEY
  * §1.4) — no inference pass over 100 TB of input. FAILFAST surfaces bad
  * rows at ingest, matching the reference's kantan decode-or-throw.
  *
  * The Kafka-based streaming ingestion surface of the reference (S2:
  * `KafkaTopic[T].consumer`) maps to `spark.readStream.format("kafka")` +
  * a deserializer; this environment ships no kafka connector jar, so file
  * sources + MemoryStream stand in for tests (StreamingSpec).
  */
object CsvTables {

  /** S6: batch pipe-CSV scan with explicit schema; empty cells → NULL (F3),
    * ISO-8601 timestamps parsed in the session timezone (UTC) (F1). */
  def readPipeCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("sep", "|")
      .option("header", "true")
      .option("nullValue", "")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss[.SSS]XXX")
      .option("mode", "FAILFAST")
      .schema(schema)
      .csv(path)

  /** F2: `"[12, 34]"` tag-set literal → array<int>; empty/blank → empty
    * array (reference: ParseUtils.toSet:18-26, Events.scala:161-170). */
  def parseTagSet(c: Column): Column =
    when(length(trim(regexp_replace(c, "[\\[\\]]", ""))) === 0,
      array().cast("array<int>"))
      .otherwise(transform(split(regexp_replace(c, "[\\[\\] ]", ""), ","),
        s => s.cast("int")))
}

/** Keyed upsert sink — the engine's result contract (reference K2/K3: ES
  * bulk `docAsUpsert` by deterministic doc id, e.g. `postId#windowEnd`,
  * db/ActivePostStatisticsIndex.scala:17-18) with the reference's ordering
  * guarantee W11 strengthened: instead of relying on Kafka partition order
  * (ActivePostStatisticsJob.scala:69-80), a MONOTONIC merge condition —
  * an update wins only if its version column is higher — which is
  * order-independent (SURVEY §7.4.6).
  *
  * Scale: the merge is one shuffle on the key; last-writer selection is
  * `max_by(struct)` (single agg, no window sort). In production this is a
  * Delta/Iceberg MERGE; here a parquet swap with the same semantics.
  */
object KeyedUpsertSink {

  /** Merge `updates` into the table at `dir` keyed by `keys`: for each key
    * keep the row with the highest `version` (ties: existing wins).
    *
    * The merged table is written once, to `dir__tmp`, and swapped in:
    * `dir` is renamed to `dir__old`, `dir__tmp` to `dir`, and `dir__old`
    * deleted. At every point of a crash either `dir` holds a whole table or
    * it is missing and `dir__tmp` holds the merged one (`_SUCCESS` written);
    * the next upsert then finishes the swap before it merges. */
  def upsert(spark: SparkSession, dir: String, updates: DataFrame,
             keys: Seq[String], version: String): Unit = {
    val path = new Path(dir)
    val (tmp, old) = (new Path(dir + "__tmp"), new Path(dir + "__old"))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path) && fs.exists(new Path(tmp, "_SUCCESS"))) swap(fs, tmp, path)
    val existing: Option[DataFrame] =
      if (fs.exists(path)) Some(spark.read.parquet(dir)) else None

    val all = existing match {
      case Some(e) => e.withColumn("__new", lit(0))
          .unionByName(updates.withColumn("__new", lit(1)))
      case None => updates.withColumn("__new", lit(1))
    }
    val valueCols = all.columns.filterNot(keys.contains)
    // last-writer-wins by (version, NOT new): existing row wins a version tie
    // => replaying the same batch is idempotent (W10 exactly-once contract)
    val picked = all
      .groupBy(keys.map(col): _*)
      .agg(max_by(struct(valueCols.toIndexedSeq.map(col): _*),
        struct(col(version), -col("__new"))).as("__row"))
      .select(keys.map(col) ++ valueCols.filter(_ != "__new").map(c => col(s"__row.$c")): _*)

    picked.write.mode("overwrite").parquet(tmp.toString)
    fs.delete(old, true)
    if (fs.exists(path)) swap(fs, path, old)
    swap(fs, tmp, path)
    fs.delete(old, true)
  }

  /** `from` → `to`; `to` must not exist (a rename onto a directory moves
    * `from` into it). */
  private def swap(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new java.io.IOException(s"upsert: cannot rename $from to $to")
}
