package graft

import graft.sources.KeyedUpsertSink
import graft.streaming.{EdgeEventT, ReplyTreeOp, TreeOut}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end Task 1 (reference: ActivePostStatisticsJob, SURVEY §3.1) as
  * the reference's own two-job architecture:
  *
  *   job 1: raw events → reply-tree resolution (stateful) → enriched
  *          mapping store (parquet append — the reference's
  *          mvrs-post-for-comment index / intermediate Kafka topic)
  *   job 2: file-stream over the mapping store → sliding per-root window
  *          aggregation (update mode) → keyed upsert sink, version =
  *          n_events (monotonic per key, so last-write-wins is correct
  *          out of order — W11)
  *
  * The final upsert table must equal the batch recomputation from the
  * batch reply-tree fixpoint — full-pipeline correctness, not per-operator.
  */
class PipelineSpec extends GraftSuite {

  test("active-root statistics pipeline: streaming two-job result equals batch recomputation") {
    import spark.implicits._
    implicit val sq = spark.sqlContext

    val base = Files.createTempDirectory("graft_pipeline").toString
    val mappingDir = s"$base/resolved"
    val statsDir = s"$base/stats"

    val eventsInfo = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("event_type"))

    // ---- job 1: resolution → mapping store ----
    val edges = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"),
        when(col("event_type") === "click",
          col("event_id") - 1 - (regexp_extract(col("props"), "(\\d+)", 1).cast("long") % 4))
          .otherwise(lit(null)).as("parent_id"))
      .collect().map(r => EdgeEventT(r.getLong(0), r.getTimestamp(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq

    // a watermark delay longer than the input's event-time span: nothing
    // evicts, so every reply waits for its parent
    val stream1 = MemoryStream[EdgeEventT]
    val job1 = ReplyTreeOp.resolveEvicting(stream1.toDS().withWatermark("ts", "3650 days"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[TreeOut], _: Long) =>
        batch.filter(!col("dropped")).select("event_id", "root_id")
          .join(eventsInfo, "event_id") // enrich with ts/type (stream-static)
          .select("event_id", "root_id", "ts", "event_type")
          .write.mode("append").parquet(mappingDir)
      }.start()
    // reverse order: children arrive before parents across 3 micro-batches
    try {
      edges.reverse.grouped(edges.length / 3 + 1)
        .foreach { c => stream1.addData(c); job1.processAllAvailable() }
    } finally job1.stop()

    // ---- job 2: mapping-store stream → sliding stats → keyed upsert ----
    val schema = spark.read.parquet(mappingDir).schema
    val resolvedStream = spark.readStream.schema(schema).parquet(mappingDir)
    val stats = resolvedStream
      .groupBy(window(col("ts"), "12 hours", "30 minutes").as("w"), col("root_id"))
      .agg(count(lit(1)).as("n_events"),
        count(when(col("event_type") === "click", 1)).as("n_replies"))
      .select(unix_timestamp(col("w.start")).as("wstart"), col("root_id"),
        col("n_events"), col("n_replies"))
    val job2 = stats.writeStream.outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        KeyedUpsertSink.upsert(spark, statsDir, batch,
          Seq("wstart", "root_id"), "n_events")
      }.start()
    try job2.processAllAvailable() finally job2.stop()

    // ---- batch expectation from the batch fixpoint ----
    val expected = graft.operators.GraphPack.queries("q45_reply_tree_roots")(spark, sf)
      .select(col("event_id"), col("root_id"))
      .join(eventsInfo, "event_id")
      .groupBy(window(col("ts"), "12 hours", "30 minutes").as("w"), col("root_id"))
      .agg(count(lit(1)).as("n_events"),
        count(when(col("event_type") === "click", 1)).as("n_replies"))
      .select(unix_timestamp(col("w.start")).as("wstart"), col("root_id"),
        col("n_events"), col("n_replies"))
      .orderBy(col("wstart"), col("root_id")).collect()

    val got = spark.read.parquet(statsDir)
      .orderBy(col("wstart"), col("root_id")).collect()
    assert(got.length == expected.length,
      s"row count: got ${got.length}, expected ${expected.length}")
    assert(got.sameElements(expected))
  }
}
