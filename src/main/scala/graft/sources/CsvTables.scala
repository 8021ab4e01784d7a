package graft.sources

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
