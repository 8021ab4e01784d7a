package graft

import graft.sources.KeyedUpsertSink
import graft.streaming.{ControlParams, Ev, StreamOps}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Sinks + control-stream + late-data semantics (SURVEY §2.2 K2, §2.9
  * W5/W8/W10, §2.1 S5, §2.8 F13). */
class StreamingSinksSpec extends GraftSuite {

  test("foreachBatch keyed upsert: streaming micro-batches land as last-write-wins (K2/W10)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("graft_stream_upsert").toString + "/out"
    val stream = MemoryStream[(Long, Long, Long)]
    val q = stream.toDF().toDF("post_id", "window_end", "n")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        KeyedUpsertSink.upsert(spark, dir, batch, Seq("post_id"), "window_end")
      }
      .start()
    try {
      stream.addData((1L, 100L, 5L), (2L, 100L, 7L)); q.processAllAvailable()
      stream.addData((1L, 200L, 9L), (2L, 50L, 1L)); q.processAllAvailable()
      val got = spark.read.parquet(dir).orderBy("post_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
      assert(got == List((1L, 200L, 9L), (2L, 100L, 7L)))
    } finally q.stop()
  }

  test("upsert finishes a swap a crash interrupted between removing the store and renaming the merge") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_upsert_swap")
    val dir = base.resolve("out")
    val tmp = base.resolve("out__tmp")
    def rows = spark.read.parquet(dir.toString).orderBy("post_id").as[(Long, Long, Long)].collect().toList
    KeyedUpsertSink.upsert(spark, dir.toString, Seq((1L, 100L, 5L), (2L, 100L, 7L)).toDF("post_id", "window_end", "n"),
      Seq("post_id"), "window_end")
    // the crash: the merged table is complete in out__tmp, out is gone
    Files.move(dir, tmp)
    assert(Files.exists(tmp.resolve("_SUCCESS")) && !Files.exists(dir))
    // a reader sees the merged table in out__tmp and renames nothing
    assert(KeyedUpsertSink.read(spark, dir.toString)
      .map(_.orderBy("post_id").as[(Long, Long, Long)].collect().toList)
      .contains(List((1L, 100L, 5L), (2L, 100L, 7L))))
    assert(!Files.exists(dir) && Files.exists(tmp))
    assert(KeyedUpsertSink.read(spark, base.resolve("none").toString).isEmpty)
    KeyedUpsertSink.upsert(spark, dir.toString, Seq((1L, 200L, 9L)).toDF("post_id", "window_end", "n"),
      Seq("post_id"), "window_end")
    assert(rows == List((1L, 200L, 9L), (2L, 100L, 7L)))
    assert(!Files.exists(tmp) && !Files.exists(base.resolve("out__old")))

    // a crash while the merge was being written: out is whole and wins
    Files.createDirectories(tmp)
    Files.writeString(tmp.resolve("part-00000.parquet"), "truncated")
    KeyedUpsertSink.upsert(spark, dir.toString, Seq((3L, 100L, 1L)).toDF("post_id", "window_end", "n"),
      Seq("post_id"), "window_end")
    assert(rows == List((1L, 200L, 9L), (2L, 100L, 7L), (3L, 100L, 1L)))
  }

  test("control file stream: params picked up per micro-batch, errors routed (S5/F13/R2)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_control").toString
    Files.writeString(java.nio.file.Path.of(dir, "c1.txt"),
      "k=4\ndecay=0.2\n# comment\nlabel:2=anomalous\nnonsense line\n")
    val lines = spark.readStream.format("text").load(dir).as[String]
    val parsed = lines.flatMap(l => ControlParams.parse(l).toSeq.map {
      case ControlParams.K(v)          => ("k", v.toString)
      case ControlParams.Decay(v)      => ("decay", v.toString)
      case ControlParams.Label(i, t)   => ("label", s"$i=$t")
      case ControlParams.ParseError(l2, r) => ("error", s"$l2|$r")
    }).toDF("kind", "value")
    val q = parsed.writeStream.format("memory").queryName("control_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // a second control file arrives mid-stream
      Files.writeString(java.nio.file.Path.of(dir, "c2.txt"), "k=6\n")
      q.processAllAvailable()
      val rows = spark.table("control_out").collect()
        .map(r => (r.getString(0), r.getString(1))).toList
      assert(rows.count(_._1 == "k") == 2)
      assert(rows.contains(("k", "4")) && rows.contains(("k", "6")))
      assert(rows.contains(("decay", "0.2")))
      assert(rows.contains(("label", "2=anomalous")))
      assert(rows.count(_._1 == "error") == 1) // 'nonsense line'; comment dropped
    } finally q.stop()
  }

  test("watermark drops late rows from append-mode windowed aggregation (W5)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def ev(id: Long, t: String, u: Long) =
      Ev(id, java.sql.Timestamp.valueOf(t), u, "click", 1.0)
    val stream = MemoryStream[Ev]
    val agg = stream.toDF()
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("wstart"), col("user_id"), col("n"))
    val q = agg.writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    try {
      stream.addData(ev(1, "2024-01-01 10:10:00", 1), ev(2, "2024-01-01 10:20:00", 1))
      q.processAllAvailable()
      // advance watermark far past the 10:00 window
      stream.addData(ev(3, "2024-01-01 13:00:00", 2))
      q.processAllAvailable()
      // late arrival for the closed 10:00 window → dropped
      stream.addData(ev(4, "2024-01-01 10:30:00", 1))
      q.processAllAvailable()
      // close remaining windows
      stream.addData(ev(5, "2024-01-01 16:00:00", 3))
      q.processAllAvailable()
      val rows = spark.table("late_out").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getLong(2))).toList
      val w10 = rows.filter(_._1.startsWith("2024-01-01 10:"))
      assert(w10 == List(("2024-01-01 10:00:00.0", 1L, 2L)),
        s"late event must not reopen the closed window: $rows")
    } finally q.stop()
  }
}
