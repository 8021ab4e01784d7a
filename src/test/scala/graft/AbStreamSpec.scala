package graft

import graft.operators.WindowPack
import graft.streaming.{Ev, StreamOps}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** q146's streaming twin: the A/B delta stream must sum to the batch
  * per-variant counts under any arrival order — including the hard cases
  * where a late first view moves the conversion window and flips a
  * user's conversion off (window shrank past their purchase) or on
  * (their purchase now postdates the first view). */
class AbStreamSpec extends GraftSuite {

  private val DAY_US = 86400000000L

  private def eventsTyped = {
    import spark.implicits._
    Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Ev].collect().sortBy(e => (e.ts.getTime, e.event_id))
  }

  private def sumDeltas(rows: Array[(Long, Long, Long)]): Map[Long, (Long, Long)] =
    rows.groupBy(_._1).view
      .mapValues(rs => (rs.map(_._2).sum, rs.map(_._3).sum))
      .filter { case (_, (n, c)) => n != 0L || c != 0L }.toMap

  test("delta stream sums to the batch counts under reverse-chunk arrival; verdict identical") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val all = eventsTyped
    val stream = MemoryStream[Ev]
    val q = StreamOps.abDeltas(stream.toDS(), DAY_US)
      .writeStream.format("memory").queryName("ab_deltas")
      .outputMode("append").start()
    try {
      // reversed chunks: purchases routinely precede their user's first
      // view, and later chunks rewind fv — the rewind path runs for real
      all.grouped(all.length / 3 + 1).toSeq.reverse
        .foreach { c => stream.addData(c); q.processAllAvailable() }
      val deltas = spark.table("ab_deltas").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val got = sumDeltas(deltas)
      val b = WindowPack.abEval(all.toSeq.toDF(), DAY_US).collect().head
      val want = Map(
        0L -> (b.getAs[Long]("n_a"), b.getAs[Long]("c_a")),
        1L -> (b.getAs[Long]("n_b"), b.getAs[Long]("c_b")))
        .filter { case (_, (n, c)) => n != 0L || c != 0L }
      assert(got == want, s"$got vs $want")
      // the shared scorecard turns the folded counts into the exact
      // batch verdict row
      val folded = got.toSeq.map { case (v, (n, c)) => (v, n, c) }
        .toDF("variant", "n", "c")
      val live = WindowPack.abScore(folded).collect().head
      assert(live.toSeq == b.toSeq, s"${live.toSeq} vs ${b.toSeq}")
    } finally q.stop()
  }

  test("a late earlier view flips a conversion off (-1) and another on (+1)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val W = 60000000L // 60 s window
    def ev(id: Long, sec: Long, uid: Long, tpe: String) =
      Ev(id, new java.sql.Timestamp(sec * 1000L), uid, tpe, 0.0)
    val stream = MemoryStream[Ev]
    val q = StreamOps.abDeltas(stream.toDS(), W)
      .writeStream.format("memory").queryName("ab_flip")
      .outputMode("append").start()
    try {
      // user 2 (flip-off): purchase@100s first, view@50s converts it
      // (100 in (50, 110]), then view@0s shrinks the window to (0, 60]
      // user 4 (flip-in): view@100s + purchase@90s (no: 90 <= 100), then
      // view@40s makes 90 fall inside (40, 100]
      stream.addData(Seq(ev(1, 100, 2, "purchase"),
        ev(2, 100, 4, "view"), ev(3, 90, 4, "purchase")))
      q.processAllAvailable()
      stream.addData(Seq(ev(4, 50, 2, "view"))); q.processAllAvailable()
      stream.addData(Seq(ev(5, 0, 2, "view"), ev(6, 40, 4, "view")))
      q.processAllAvailable()
      val deltas = spark.table("ab_flip").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // both users are variant 0; final truth: both in n, user 4 converts
      assert(sumDeltas(deltas) == Map(0L -> (2L, 1L)))
      assert(deltas.exists(_._3 == -1L), "the flip-off must retract")
      assert(deltas.count(_._3 == 1L) >= 2, "initial conv + the flip-in")
    } finally q.stop()
  }

  test("A/B chain restarts from checkpoint; the post-restart rewind still retracts") {
    // The purchase that the late view must invalidate arrives BEFORE the
    // stop/restart: the -1 can only be emitted if the per-user purchase
    // buffer recovered from the checkpoint. Sink = the keyed upsert store
    // on the chained abCounts fold (fMGWS -> streaming sum, update mode).
    import graft.sources.KeyedUpsertSink
    import spark.implicits._
    val W = 60000000L
    def ev(id: Long, sec: Long, uid: Long, tpe: String) =
      Ev(id, new java.sql.Timestamp(sec * 1000L), uid, tpe, 0.0)
    val base = java.nio.file.Files.createTempDirectory("graft_ab_rec").toString
    val in = s"$base/in"; val ckpt = s"$base/ckpt"; val out = s"$base/out"
    def runOnce(chunk: Seq[Ev]): Unit = {
      chunk.toDS().write.mode("append").parquet(in)
      val sch = spark.read.parquet(in).schema
      val q = StreamOps.abCounts(
          spark.readStream.schema(sch).parquet(in).as[Ev], W)
        .writeStream.option("checkpointLocation", ckpt)
        .outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          KeyedUpsertSink.upsert(spark, out, b.withColumn("version", lit(id)),
            Seq("variant"), "version")
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    // before the "crash": user 2 converts (view@50, purchase@100 in (50,110])
    runOnce(Seq(ev(1, 100, 2, "purchase"), ev(2, 50, 2, "view")))
    // restart: view@0 shrinks the window to (0, 60] — conversion retracts
    runOnce(Seq(ev(3, 0, 2, "view")))
    val got = spark.read.parquet(out)
      .collect().map(r => r.getAs[Long]("variant") ->
        (r.getAs[Long]("n"), r.getAs[Long]("c"))).toMap
    assert(got == Map(0L -> (1L, 0L)), s"$got")
  }
}
