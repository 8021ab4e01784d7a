package graft

import graft.sources.KeyedUpsertSink
import org.apache.spark.sql.functions._
import java.nio.file.Files

class IoSpec extends GraftSuite {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("keyed upsert sink: last-write-wins by version, stale writes ignored, replay idempotent") {
    import spark.implicits._
    val dir = tmpDir("graft_upsert") + "/stats"
    val b1 = Seq((1L, 100L, 5L), (2L, 100L, 7L)).toDF("post_id", "window_end", "n")
    KeyedUpsertSink.upsert(spark, dir, b1, Seq("post_id"), "window_end")

    // newer window for post 1, stale (older) for post 2
    val b2 = Seq((1L, 200L, 9L), (2L, 50L, 1L)).toDF("post_id", "window_end", "n")
    KeyedUpsertSink.upsert(spark, dir, b2, Seq("post_id"), "window_end")

    val got = spark.read.parquet(dir).orderBy("post_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(got == List((1L, 200L, 9L), (2L, 100L, 7L)))

    // exact replay of b2 must not change anything (idempotence, W10)
    KeyedUpsertSink.upsert(spark, dir, b2, Seq("post_id"), "window_end")
    val again = spark.read.parquet(dir).orderBy("post_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(again == got)
  }

  test("ORC round-trip preserves the events table (columnar sink beyond parquet)") {
    val dir = tmpDir("graft_orc") + "/events"
    val src = Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "value")
    src.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema == src.schema)
    assert(back.count() == src.count())
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("JSON-lines round-trip with explicit schema (semi-structured interchange)") {
    val dir = tmpDir("graft_json") + "/events"
    val src = Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "value", "props")
    src.write.mode("overwrite").json(dir)
    val back = spark.read.schema(src.schema).json(dir)
    assert(back.count() == src.count())
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }
}
