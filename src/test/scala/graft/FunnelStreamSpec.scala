package graft

import graft.operators.WindowPack
import graft.streaming.{Ev, StreamOps}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** q91's streaming twin: sessions closed by event-time timers must be
  * row-identical to the batch per-session staging. */
class FunnelStreamSpec extends GraftSuite {

  private def eventsTyped = {
    import spark.implicits._
    Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Ev].collect().sortBy(e => (e.ts.getTime, e.event_id))
  }

  test("closed streaming sessions equal the batch staging, gap-straddling batches included") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val all = eventsTyped
    val stream = MemoryStream[Ev]
    val q = StreamOps.sessionFunnel(
        stream.toDS().withWatermark("ts", "1 second"))
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode("append").start()
    try {
      // in-order chunks (session assembly is watermark-bounded; order
      // WITHIN a chunk is irrelevant — the buffer sorts at close)
      all.grouped(all.length / 3 + 1)
        .foreach { c => stream.addData(c); q.processAllAvailable() }
      // two far-future sentinels advance the watermark and fire the timers
      val sentinelTs = new java.sql.Timestamp(all.last.ts.getTime + 30L * 86400 * 1000)
      stream.addData(Ev(999999999L, sentinelTs, -1L, "signup", 0.0))
      q.processAllAvailable()
      stream.addData(Ev(999999998L,
        new java.sql.Timestamp(sentinelTs.getTime + 86400000L), -1L, "signup", 0.0))
      q.processAllAvailable()

      val got = spark.table("funnel_stream")
        .filter(col("user_id") =!= -1L).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .sortBy(t => (t._1, t._2))
      val want = WindowPack.funnelSessions(Tables.events(spark, sf))
        .select(col("user_id"), col("sess_start"), col("n_events"),
          when(col("tp").isNotNull, 3).when(col("tc").isNotNull, 2)
            .when(col("tv").isNotNull, 1).otherwise(0).as("stage"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .sortBy(t => (t._1, t._2))
      assert(got.length == want.length,
        s"${got.length} streamed sessions vs ${want.length} batch sessions")
      assert(got.sameElements(want))
      assert(want.exists(_._4 >= 1), "data exercises at least the view stage")
      // the streamed sessions reconcile with q91's cohort totals: sessions,
      // and sessions that reached view, click and purchase
      val q91 = WindowPack.queries("q91_funnel")(spark, sf).collect()
      def tot(i: Int) = q91.map(_.getLong(i)).sum
      assert(got.length.toLong === tot(1))
      assert(got.count(_._4 >= 1).toLong === tot(2))
      assert(got.count(_._4 >= 2).toLong === tot(3))
      assert(got.count(_._4 == 3).toLong === tot(4))
    } finally q.stop()
  }

  test("synthetic full funnel: closes are watermark-gated, never data-gated") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val t0 = 1700000000000L
    def ev(id: Long, ms: Long, et: String) =
      Ev(id, new java.sql.Timestamp(ms), 42L, et, 1.0)
    val stream = MemoryStream[Ev]
    val q = StreamOps.sessionFunnel(
        stream.toDS().withWatermark("ts", "0 seconds"))
      .writeStream.format("memory").queryName("funnel_synth")
      .outputMode("append").start()
    try {
      // batch 1 already straddles a gap — but the watermark is still at 0
      // while it processes, so NOTHING may close yet (an admissible late
      // event could still bridge the straddle)
      stream.addData(Seq(
        ev(1, t0, "view"), ev(2, t0 + 60000, "click"),
        ev(3, t0 + 120000, "purchase"),
        ev(4, t0 + 1800000 + 120000, "click")))
      q.processAllAvailable()
      assert(spark.table("funnel_synth").isEmpty,
        "no close may precede the watermark")
      // batch 2 advances the watermark to t0+10000s; processAllAvailable
      // drains the follow-up timer batch too, so both the full-funnel
      // session (close t0+1920s) and the lone-click session (close
      // t0+3720s) become final — the new view (close t0+11800s) must not
      stream.addData(ev(5, t0 + 10000000L, "view"))
      q.processAllAvailable()
      val afterB2 = spark.table("funnel_synth").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getInt(3)))
      assert(afterB2.toSet == Set((t0 / 1000, 3L, 3),
        ((t0 + 1920000) / 1000, 1L, 0)),
        s"watermark-passed sessions should close: ${afterB2.toSet}")
      // sentinels fire the timers on the two pending sessions
      stream.addData(ev(9, t0 + 40L * 86400000L, "signup").copy(user_id = -1L))
      q.processAllAvailable()
      stream.addData(ev(10, t0 + 41L * 86400000L, "signup").copy(user_id = -1L))
      q.processAllAvailable()
      val fin = spark.table("funnel_synth").filter(col("user_id") === 42L)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getInt(3))).toSet
      assert(fin == Set((t0 / 1000, 3L, 3),
        ((t0 + 1920000) / 1000, 1L, 0),
        ((t0 + 10000000L) / 1000, 1L, 1)),
        s"timer-closed sessions wrong: $fin")
    } finally q.stop()
  }

  test("streamed session transitions count to exactly the batch q143 matrix") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val all = eventsTyped
    val stream = MemoryStream[Ev]
    val q = StreamOps.sessionTransitions(
        stream.toDS().withWatermark("ts", "1 second"))
      .writeStream.format("memory").queryName("trans_stream")
      .outputMode("append").start()
    try {
      // reversed chunks: in-chunk arrival disorder must not matter (the
      // buffer sorts by (tus, event_id) at close)
      all.grouped(all.length / 3 + 1)
        .foreach { c => stream.addData(c.reverse); q.processAllAvailable() }
      val sentinelTs = new java.sql.Timestamp(all.last.ts.getTime + 30L * 86400 * 1000)
      stream.addData(Ev(999999999L, sentinelTs, -1L, "signup", 0.0))
      q.processAllAvailable()
      stream.addData(Ev(999999998L,
        new java.sql.Timestamp(sentinelTs.getTime + 86400000L), -1L, "signup", 0.0))
      q.processAllAvailable()

      val got = spark.table("trans_stream")
        .filter(col("user_id") =!= -1L)
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val want = WindowPack.queries("q143_event_transitions")(spark, sf)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got == want, s"streamed counts != batch q143: $got vs $want")
    } finally q.stop()
  }

  test("latencyHistogram folds closed-session stage latencies to exactly batch q145") {
    // q145's streaming twin end-to-end: sessionClosed -> stage latencies ->
    // live (cohort, stage, latency_min) histogram (agg-after-fMGWS via
    // startUnchecked), compared cell-by-cell to the batch query
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val all = eventsTyped
    val stream = MemoryStream[Ev]
    val q = StreamOps.startUnchecked(spark) {
      StreamOps.latencyHistogram(
          stream.toDS().withWatermark("ts", "1 second"))
        .writeStream.format("memory").queryName("lat_hist")
        .outputMode("complete").start()
    }
    try {
      all.grouped(all.length / 3 + 1)
        .foreach { c => stream.addData(c.reverse); q.processAllAvailable() }
      val sentinelTs = new java.sql.Timestamp(all.last.ts.getTime + 30L * 86400 * 1000)
      stream.addData(Ev(999999999L, sentinelTs, -1L, "signup", 0.0))
      q.processAllAvailable()
      stream.addData(Ev(999999998L,
        new java.sql.Timestamp(sentinelTs.getTime + 86400000L), -1L, "signup", 0.0))
      q.processAllAvailable()
      // real cohorts are 0..9; the sentinel user (-1) lands in cohort -1
      val got = spark.table("lat_hist").filter(col("cohort") >= 0L).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)) -> r.getLong(3)).toMap
      val want = WindowPack.queries("q145_stage_latency")(spark, sf)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)) -> r.getLong(3)).toMap
      assert(want.nonEmpty && got == want,
        s"streamed histogram != batch q145 (${got.size} vs ${want.size} cells)")
    } finally q.stop()
  }

  test("transitionCounts runs the fold as a streaming query and matches batch q143") {
    // the advertised live-matrix path itself: an unwindowed aggregation
    // DOWNSTREAM of flatMapGroupsWithState must plan and fold correctly
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val all = eventsTyped
    val stream = MemoryStream[Ev]
    // agg-after-fMGWS trips the conservative static watermark rule; safe
    // here because the fold has no event-time column (see transitionCounts
    // scaladoc) — startUnchecked scopes the opt-out to query startup
    val q = StreamOps.startUnchecked(spark) {
      StreamOps.transitionCounts(
          stream.toDS().withWatermark("ts", "1 second"))
        .writeStream.format("memory").queryName("trans_counts")
        .outputMode("complete").start()
    }
    try {
      all.grouped(all.length / 3 + 1)
        .foreach { c => stream.addData(c); q.processAllAvailable() }
      val sentinelTs = new java.sql.Timestamp(all.last.ts.getTime + 30L * 86400 * 1000)
      stream.addData(Ev(999999999L, sentinelTs, -1L, "signup", 0.0))
      q.processAllAvailable()
      stream.addData(Ev(999999998L,
        new java.sql.Timestamp(sentinelTs.getTime + 86400000L), -1L, "signup", 0.0))
      q.processAllAvailable()
      val got = spark.table("trans_counts").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val want = WindowPack.queries("q143_event_transitions")(spark, sf)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got == want, s"live matrix != batch q143: $got vs $want")
    } finally q.stop()
  }

  test("startUnchecked quiets the operation checker's logger only while it runs") {
    val logger = org.apache.logging.log4j.LogManager.getLogger(
      "org.apache.spark.sql.catalyst.analysis.UnsupportedOperationChecker")
    val before = logger.getLevel
    assert(before != org.apache.logging.log4j.Level.ERROR)
    assert(StreamOps.startUnchecked(spark)(logger.getLevel)
      == org.apache.logging.log4j.Level.ERROR)
    assert(logger.getLevel == before)
  }

  test("session transitions survive a checkpoint restart with a pending buffered session") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_trans_rec").toString
    val in = s"$base/in"; val ckpt = s"$base/ckpt"; val out = s"$base/out"
    new java.io.File(in).mkdirs()
    val sch = "event_id long, ts timestamp, user_id long, event_type string, value double"
    val t0 = 1700000000000L
    def ev(id: Long, ms: Long, user: Long, et: String) =
      (id, new java.sql.Timestamp(ms), user, et, 1.0)
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")

    def runOnce(c: Seq[(Long, java.sql.Timestamp, Long, String, Double)]): Unit = {
      c.toDF(cols: _*).write.mode("append").parquet(in)
      val q = StreamOps.sessionTransitions(
          spark.readStream.schema(sch).parquet(in).as[Ev]
            .withWatermark("ts", "1 second"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop() // "crash" between chunks
    }
    // run 1 buffers an OPEN session (3 events) — nothing may close yet
    runOnce(Seq(ev(1, t0, 7L, "view"), ev(2, t0 + 60000, 7L, "click"),
      ev(3, t0 + 120000, 7L, "view")))
    // run 2: a 4th same-session event (pairs correctly only if the
    // buffered state recovered) + a second session that advances the
    // watermark past session 1's close point
    runOnce(Seq(ev(4, t0 + 180000, 7L, "click"),
      ev(5, t0 + 7200000, 7L, "view"), ev(6, t0 + 7260000, 7L, "purchase")))
    // two sentinel runs fire the timer on the pending session 2
    runOnce(Seq(ev(9, t0 + 40L * 86400000L, -1L, "signup")))
    runOnce(Seq(ev(10, t0 + 41L * 86400000L, -1L, "signup")))

    val got = spark.read.parquet(out).filter(col("user_id") === 7L)
      .groupBy(col("from_type"), col("to_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(got == Map(("view", "click") -> 2L, ("click", "view") -> 1L,
      ("view", "purchase") -> 1L),
      s"restart lost or duplicated session pairs: $got")
  }

  test("an admissible late event bridges a straddled gap instead of splitting it") {
    // the exact scenario the watermark gate exists for: with allowed
    // lateness, a gap-straddling buffer must NOT close early — the late
    // bridge arrives and the three events merge into ONE batch-identical
    // session
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val t0 = 1700000000000L
    def ev(id: Long, ms: Long, et: String) =
      Ev(id, new java.sql.Timestamp(ms), 7L, et, 1.0)
    val stream = MemoryStream[Ev]
    val q = StreamOps.sessionFunnel(
        stream.toDS().withWatermark("ts", "2 hours"))
      .writeStream.format("memory").queryName("funnel_late")
      .outputMode("append").start()
    try {
      stream.addData(ev(1, t0, "view")); q.processAllAvailable()
      // straddles the 30-min gap — under the old data-gated close this
      // would have emitted [view] as its own session
      stream.addData(ev(2, t0 + 2000000L, "purchase")); q.processAllAvailable()
      // late but admissible (only ~33 min behind a 2 h watermark delay):
      // bridges the gap
      stream.addData(ev(3, t0 + 1000000L, "click")); q.processAllAvailable()
      stream.addData(ev(8, t0 + 30L * 86400000L, "signup").copy(user_id = -1L))
      q.processAllAvailable()
      stream.addData(ev(9, t0 + 31L * 86400000L, "signup").copy(user_id = -1L))
      q.processAllAvailable()
      val got = spark.table("funnel_late").filter(col("user_id") === 7L)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getInt(3))).toSet
      assert(got == Set((t0 / 1000, 3L, 3)),
        s"late bridge must yield ONE full-funnel session: $got")
    } finally q.stop()
  }
}
