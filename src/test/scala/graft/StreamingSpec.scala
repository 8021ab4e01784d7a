package graft

import graft.functions.KMeans
import graft.operators.WindowPack
import graft.streaming.{Ev, ProgressMonitor, StreamOps}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Structured-Streaming behavior: batch/stream parity for shared
  * transforms, stateful as-of enrichment, the clustering window — the
  * reference's streaming semantics (SURVEY §2.9) driven through
  * MemoryStream micro-batches. */
class StreamingSpec extends GraftSuite {

  private def eventsTyped = {
    import spark.implicits._
    Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Ev].collect().sortBy(e => (e.ts.getTime, e.event_id))
  }

  test("sliding stats: streaming complete-mode output equals the batch result") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val all = eventsTyped
    val stream = MemoryStream[Ev]
    val q = StreamOps.slidingStats(stream.toDF())
      .writeStream.format("memory").queryName("sliding_parity")
      .outputMode("complete").start()
    try {
      // three out-of-order micro-batches (watermark-free complete mode)
      val chunks = all.grouped(math.max(1, all.length / 3 + 1)).toSeq
      chunks.foreach { c => stream.addData(c.reverse); q.processAllAvailable() }
      val streamed = spark.table("sliding_parity")
        .orderBy(col("wstart"), col("user_id")).collect()
      val batch = WindowPack.slidingStats(
        Tables.events(spark, sf), exactDistinct = false)
        .orderBy(col("wstart"), col("user_id")).collect()
      assert(streamed.length == batch.length)
      assert(streamed.sameElements(batch))
    } finally q.stop()
  }

  test("append-mode sliding stats emit exactly the batch windows once the watermark closes them") {
    // production mode: append + watermark — a window row is emitted exactly
    // once, when the watermark passes its end. After a far-future sentinel
    // closes everything, the emitted set must equal the batch computation.
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val all = eventsTyped
    val stream = MemoryStream[Ev]
    val agg = stream.toDF()
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "12 hours", "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_timestamp(col("w.start")).as("wstart"), col("user_id"), col("n_events"))
    val q = agg.writeStream.format("memory").queryName("append_parity")
      .outputMode("append").start()
    try {
      all.grouped(all.length / 3 + 1).foreach { c => stream.addData(c); q.processAllAvailable() }
      val sentinelTs = new java.sql.Timestamp(all.last.ts.getTime + 30L * 86400 * 1000)
      stream.addData(Ev(999999999L, sentinelTs, 1L, "signup", 0.0))
      q.processAllAvailable()
      stream.addData(Ev(999999998L, new java.sql.Timestamp(sentinelTs.getTime + 86400000L), 1L, "signup", 0.0))
      q.processAllAvailable()
      val cutoff = all.last.ts.getTime / 1000 + 86400
      val streamed = spark.table("append_parity")
        .filter(col("wstart") < cutoff)
        .orderBy(col("wstart"), col("user_id")).collect()
      val batch = Tables.events(spark, sf)
        .groupBy(window(col("ts"), "12 hours", "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(unix_timestamp(col("w.start")).as("wstart"), col("user_id"), col("n_events"))
        .orderBy(col("wstart"), col("user_id")).collect()
      assert(streamed.length == batch.length,
        s"append emitted ${streamed.length}, batch has ${batch.length}")
      assert(streamed.sameElements(batch))
    } finally q.stop()
  }

  test("weighted reservoir: streamed window sample equals batch and the brute-force top-k") {
    // Efraimidis–Spirakis keys are a pure function of the data (hash
    // uniforms, no RNG state), so the streamed reservoir must equal BOTH a
    // batch run of the same transform and a brute-force recomputation —
    // through chunked, re-ordered micro-batch arrival (merge-boundedness)
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val all = eventsTyped
    val stream = MemoryStream[Ev]
    val q = StreamOps.weightedSampleWindow(stream.toDF(), k = 5)
      .writeStream.format("memory").queryName("wres_parity")
      .outputMode("complete").start()
    try {
      val chunks = all.grouped(math.max(1, all.length / 3 + 1)).toSeq
      chunks.foreach { c => stream.addData(c.reverse); q.processAllAvailable() }
      val streamed = spark.table("wres_parity").orderBy(col("wstart")).collect()
      val batch = StreamOps.weightedSampleWindow(Tables.events(spark, sf), k = 5)
        .orderBy(col("wstart")).collect()
      assert(streamed.length == batch.length && streamed.nonEmpty)
      assert(streamed.sameElements(batch), "streamed sample diverged from batch")
      // brute force: recompute every event's key locally per 4h window
      val denom = (1L << 20).toDouble
      def key(id: Long, v: Double): Double = {
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8"))
        val h = java.lang.Long.parseLong(
          md5.take(4).map(b => f"$b%02x").mkString, 16)
        math.log((h % (1L << 20) + 1L) / denom) / (math.abs(v) + 1)
      }
      val byWindow = all.groupBy(e => e.ts.getTime / 1000 / 14400 * 14400)
      streamed.foreach { r =>
        val ws = r.getLong(0)
        val evs = byWindow(ws)
        val want = evs.map(e => (key(e.event_id, e.value), e.event_id))
          .sortBy { case (s, id) => (-s, id) }.take(5).map(_._2).toSeq
        val got = r.getAs[scala.collection.Seq[Long]]("sample").toSeq
        assert(got == want, s"window $ws: $got vs $want")
        assert(r.getAs[Long]("n") == evs.length)
      }
    } finally q.stop()
  }

  test("deterministic HLL: streamed registers are byte-equal to the batch construction") {
    // q79's cross-engine-deterministic sketch under Structured Streaming:
    // the per-(window, type, bucket) max-of-rho state must converge to the
    // EXACT batch registers under chunked, re-ordered arrival — the
    // max-merge mergeability the oracle-checked batch query relies on,
    // demonstrated end-to-end through micro-batches
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val all = eventsTyped
    val stream = MemoryStream[Ev]
    val q = StreamOps.sketchDistinctDetRegs(stream.toDF())
      .writeStream.format("memory").queryName("det_hll_parity")
      .outputMode("complete").start()
    try {
      val chunks = all.grouped(math.max(1, all.length / 3 + 1)).toSeq
      chunks.foreach { c => stream.addData(c.reverse); q.processAllAvailable() }
      val streamed = spark.table("det_hll_parity")
        .orderBy(col("wstart"), col("event_type"), col("bucket")).collect()
      val batch = StreamOps.sketchDistinctDetRegs(Tables.events(spark, sf))
        .orderBy(col("wstart"), col("event_type"), col("bucket")).collect()
      assert(streamed.length == batch.length && streamed.nonEmpty)
      assert(streamed.sameElements(batch),
        "streamed deterministic-HLL registers diverged from batch")
      // the streamed registers fold through Hll.estimate to within q79's
      // m=256 error bound of the exact per-window distinct counts
      val exact = Tables.events(spark, sf)
        .groupBy(window(col("ts"), "4 hours"), col("event_type"))
        .agg(countDistinct(col("user_id")).as("n"))
        .select(unix_timestamp(col("window.start")).as("wstart"),
          col("event_type"), col("n"))
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      val est = graft.functions.Hll.estimate(spark.table("det_hll_parity"),
          Seq("wstart", "event_type"), "est_users")
        .collect().map(r => (r.getLong(0), r.getString(1)) ->
          (r.getAs[Long]("m_used"), r.getAs[Long]("est_users"))).toMap
      assert(est.keySet == exact.keySet)
      exact.foreach { case (key, n) =>
        val (mUsed, e) = est(key)
        assert(math.abs(e - n) <= math.max(2L, (0.20 * n).toLong),
          s"window $key: est $e vs exact $n")
        assert(mUsed <= math.min(256L, n))
      }
    } finally q.stop()
  }

  test("freq sketch: streaming MG windows keep every true heavy hitter with bounded undercount") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val all = eventsTyped
    val stream = MemoryStream[Ev]
    val q = StreamOps.freqSketch(stream.toDF(), k = 3)
      .writeStream.format("memory").queryName("mg_stream")
      .outputMode("complete").start()
    try {
      val chunks = all.grouped(math.max(1, all.length / 3 + 1)).toSeq
      chunks.foreach { c => stream.addData(c.reverse); q.processAllAvailable() }
      val streamed = spark.table("mg_stream").collect()
      // exact per-window event_type counts for the guarantee check
      val exact = Tables.events(spark, sf)
        .groupBy(window(col("ts"), "4 hours"), col("event_type"))
        .agg(count(lit(1)).as("c"))
        .select(unix_timestamp(col("window.start")).as("wstart"),
          col("event_type"), col("c"))
        .collect().groupBy(_.getLong(0))
      assert(streamed.nonEmpty)
      streamed.foreach { r =>
        val w = r.getLong(0)
        val n = r.getLong(1)
        val cands = r.getSeq[String](2).toSet
        assert(cands.size <= 3)
        // every type with count > N/(k+1) must survive micro-batched merges
        exact(w).filter(_.getLong(2) > n / 4).map(_.getString(1)).foreach { t =>
          assert(cands.contains(t), s"window $w lost heavy hitter $t")
        }
      }
    } finally q.stop()
  }

  test("session windows: streaming complete-mode output equals the batch result") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val all = eventsTyped
    val stream = MemoryStream[Ev]
    val agg = stream.toDF()
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_timestamp(col("w.start")).as("sess_start"),
        col("n_events"))
    val q = agg.writeStream.format("memory").queryName("session_parity")
      .outputMode("complete").start()
    try {
      all.grouped(math.max(1, all.length / 3 + 1))
        .foreach { c => stream.addData(c); q.processAllAvailable() }
      val streamed = spark.table("session_parity")
        .orderBy(col("user_id"), col("sess_start")).collect()
      val batch = Tables.events(spark, sf)
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), unix_timestamp(col("w.start")).as("sess_start"),
          col("n_events"))
        .orderBy(col("user_id"), col("sess_start")).collect()
      assert(streamed.sameElements(batch))
    } finally q.stop()
  }

  test("live anomaly monitor: streamed hourly counts + shared scorecard equal batch q144") {
    // the ops-monitoring composition: a native streaming window count
    // folds the live (type, hour) buckets — counts are the sufficient
    // statistic — and WindowPack.anomalyScore (q144's own scorecard)
    // scores the folded table
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val all = eventsTyped
    val stream = MemoryStream[Ev]
    val counts = stream.toDF()
      .groupBy(col("event_type"), window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("event_type"),
        expr("unix_micros(w.start) div 3600000000").as("hr"), col("cnt"))
    val q = counts.writeStream.format("memory").queryName("anomaly_counts")
      .outputMode("complete").start()
    try {
      all.grouped(math.max(1, all.length / 3 + 1))
        .foreach { c => stream.addData(c.reverse); q.processAllAvailable() }
      val streamed = graft.operators.WindowPack
        .anomalyScore(spark.table("anomaly_counts"))
        .orderBy(col("event_type"), col("hr")).collect()
      val batch = WindowPack.queries("q144_count_anomaly")(spark, sf).collect()
      assert(streamed.nonEmpty && streamed.sameElements(batch))
    } finally q.stop()
  }

  test("as-of with event-time TTL: same output as the batch as-of join, state evicted by watermark (W6/W7)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val all = eventsTyped
    val stream = MemoryStream[Ev]
    val q = StreamOps.asOfEnrichTtl(
      stream.toDF().withWatermark("ts", "10 minutes").as[Ev])
      .writeStream.format("memory").queryName("asof_ttl_out").outputMode("append").start()
    try {
      all.grouped(math.max(1, all.length / 4 + 1))
        .foreach { c => stream.addData(c); q.processAllAvailable() }
      // sentinel far in the future pushes the watermark past every timer
      val sentinel = Ev(999999999L,
        new java.sql.Timestamp(all.last.ts.getTime + 365L * 86400 * 1000), 1L, "signup", 0.0)
      stream.addData(sentinel); q.processAllAvailable()
      stream.addData(sentinel.copy(event_id = 999999998L)); q.processAllAvailable()
      // output parity with the batch as-of join (the staleness rule
      // already ignores anything the TTL would have evicted)
      val ttl = spark.table("asof_ttl_out").collect()
        .map(r => r.getLong(0) -> r.getDouble(3)).toMap
      val batch = WindowPack.queries("q23_asof_join")(spark, sf)
        .select(col("event_id"), col("prior_view_value"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(ttl.keySet == batch.keySet)
      batch.foreach { case (id, v) =>
        assert(math.rint(ttl(id) * 100) / 100 == v, s"mismatch at $id") }
      // the watermark passed every viewTs + maxAge: all state evicted
      val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
      assert(stateRows == 0, s"state not evicted: $stateRows rows remain")
    } finally q.stop()
  }

  test("stream-stream interval join (view->purchase within 1h) equals the batch join") {
    // beyond the reference (SURVEY §2.4 "absent join kinds: theta/range/
    // interval joins") — declared-supported: watermarked stream-stream
    // inner join with an event-time range predicate. State on both sides
    // is bounded by the watermark + interval bound.
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val all = eventsTyped
    val s1 = MemoryStream[Ev]
    val s2 = MemoryStream[Ev]
    def views(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("vts"), col("event_id").as("vid"))
    def purchases(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("pts"), col("event_id").as("pid"))
    val joinCond = col("user_id") === col("p_user") &&
      col("pts") >= col("vts") && col("pts") <= col("vts") + expr("interval 1 hour")
    val streamed = views(s1.toDF().withWatermark("ts", "1 hour"))
      .join(purchases(s2.toDF().withWatermark("ts", "1 hour")), joinCond)
      .select(col("vid"), col("pid"))
    val q = streamed.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      all.grouped(all.length / 3 + 1).foreach { c =>
        s1.addData(c); s2.addData(c); q.processAllAvailable()
      }
      val got = spark.table("ssj_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val ev = Tables.events(spark, sf)
      val expected = views(ev).join(purchases(ev), joinCond)
        .select(col("vid"), col("pid")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(expected.nonEmpty)
      assert(got == expected,
        s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    } finally q.stop()
  }

  test("count-bounded clustering fires deterministically at the count trigger") {
    // the clustering window with a window that never ends: only the early
    // fire at maxCount emits. Points carry strictly increasing times from
    // 1 s (t = 0 equals the initial watermark and would drop as late), so
    // the operator's (ts, point) order is the input order
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val pts: Seq[Seq[Double]] = (0 until 250).map { i =>
      Seq((i % 10).toDouble, (i % 7).toDouble)
    }
    val in = pts.zipWithIndex.map { case (p, i) =>
      graft.streaming.ClusterIn(new java.sql.Timestamp((i + 1) * 1000L), p, "")
    }
    val stream = MemoryStream[graft.streaming.ClusterIn]
    val q = StreamOps.clusterWindows(
        stream.toDS().withWatermark("ts", "0 seconds"), k = 3, decay = 0.2,
        windowSizeMs = 3650L * 24 * 3600 * 1000, minCount = 0, maxCount = 100)
      .writeStream.format("memory").queryName("cluster_out").outputMode("append").start()
    try {
      stream.addData(in.take(150)); q.processAllAvailable()   // fires v1, buffers 50
      stream.addData(in.drop(150)); q.processAllAvailable()   // fires v2, buffers 50
      val rows = spark.table("cluster_out").orderBy("version").collect()
      assert(rows.length == 2)
      assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2))
      assert(rows.forall(_.getInt(1) == 100))
      // reproduce driver-side: window1 = pts[0:100), window2 = pts[100:200)
      val w1 = pts.take(100).map(_.toVector)
      val m1 = KMeans.cluster(w1, KMeans.bootstrap(w1, 3, 137L))
      val w2 = pts.slice(100, 200).map(_.toVector)
      val m2raw = KMeans.cluster(w2, m1.clusters.map(_.centroid))
      val m2 = m1.update(m2raw, 0.2)
      val got2 = rows(1).getSeq[scala.collection.Seq[Double]](2).map(_.toVector)
      assert(got2 == m2.clusters.map(_.centroid),
        s"v2 centroids diverge:\n got $got2\n exp ${m2.clusters.map(_.centroid)}")
    } finally q.stop()
  }

  test("clustering window fires at window end iff above min-count (regular firing)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[graft.streaming.ClusterIn]
    def pt(sec: Long, x: Double) = graft.streaming.ClusterIn(
      new java.sql.Timestamp(sec * 1000L), Seq(x, x), "")
    val q = StreamOps.clusterWindows(
        stream.toDS().withWatermark("ts", "0 seconds"),
        k = 2, decay = 0.2, windowSizeMs = 60000L, minCount = 2, maxCount = 100)
      .writeStream.format("memory").queryName("cw_regular_out")
      .outputMode("append").start()
    try {
      // window 1 opens at t=1s (end 61s); 5 points land inside it.
      // (t=0 would equal the INITIAL watermark and be dropped as late.)
      stream.addData((0 until 5).map(i => pt(1L + i * 10L, i.toDouble)))
      q.processAllAvailable()
      assert(spark.table("cw_regular_out").isEmpty, "fired before window end")
      // a 62s point sits AHEAD of the window (timer not yet due when it
      // arrives); once the watermark passes 61s the window fires with the
      // 5 in-window points only
      stream.addData(pt(62L, 99.0))
      q.processAllAvailable()
      val rows = spark.table("cw_regular_out").collect()
      assert(rows.length == 1, s"expected one regular firing, got ${rows.length}")
      assert(rows(0).getInt(0) == 1 && rows(0).getInt(1) == 5,
        s"v=${rows(0).getInt(0)} n=${rows(0).getInt(1)}")
    } finally q.stop()
  }

  test("clustering window EXTENDS below min-count instead of emitting a sub-minimum model") {
    // reference KMeansClusterFunction.scala:192-195 (onTimer extension) +
    // :151,153-172 (delayed firing once the extended window reaches min)
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[graft.streaming.ClusterIn]
    def pt(sec: Long, x: Double) = graft.streaming.ClusterIn(
      new java.sql.Timestamp(sec * 1000L), Seq(x, x), "")
    def ctrl(sec: Long, line: String) = graft.streaming.ClusterIn(
      new java.sql.Timestamp(sec * 1000L), Seq.empty, line)
    val q = StreamOps.clusterWindows(
        stream.toDS().withWatermark("ts", "0 seconds"),
        k = 2, decay = 0.2, windowSizeMs = 60000L, minCount = 5, maxCount = 100)
      .writeStream.format("memory").queryName("cw_extend_out")
      .outputMode("append").start()
    try {
      // sparse window 1: only 3 points before the 61s window end
      stream.addData(pt(1L, 0.0), pt(10L, 1.0), pt(20L, 2.0))
      q.processAllAvailable()
      // a 70s point is ahead of the un-extended window -> buffers for the
      // NEXT window; the watermark then passes 61s with count 3 <= 5:
      // the window must EXTEND, emitting nothing
      stream.addData(pt(70L, 99.0))
      q.processAllAvailable()
      stream.addData(ctrl(71L, "# noop")) // drive one more batch
      q.processAllAvailable()
      assert(spark.table("cw_extend_out").isEmpty,
        "sub-minimum model emitted instead of extending the window")
      // two more in-extension points reach min-count -> delayed firing of
      // exactly the 5 window-1 points (the 70s point is NOT among them)
      stream.addData(pt(72L, 3.0), pt(73L, 4.0))
      q.processAllAvailable()
      val rows = spark.table("cw_extend_out").collect()
      assert(rows.length == 1, s"delayed firing expected, got ${rows.length} rows")
      assert(rows(0).getInt(0) == 1 && rows(0).getInt(1) == 5,
        s"v=${rows(0).getInt(0)} n=${rows(0).getInt(1)}")
      // the ahead-of-window 70s point seeded window 2 (ends 73+60=133s):
      // 99 more points inside it hit maxCount=100 exactly (early firing) -
      // proving the carry-over
      stream.addData((0 until 99).map(i => graft.streaming.ClusterIn(
        new java.sql.Timestamp(80000L + i * 500L), Seq(i.toDouble, i.toDouble), "")))
      q.processAllAvailable()
      val rows2 = spark.table("cw_extend_out").orderBy("version").collect()
      assert(rows2.length == 2 && rows2(1).getInt(1) == 100,
        s"window 2 should early-fire with the carried point + 99 new: " +
          rows2.map(r => (r.getInt(0), r.getInt(1))).mkString(","))
    } finally q.stop()
  }

  test("clustering window is deterministic under same-timestamp arrival order") {
    // same-timestamp rows reach the state group in shuffle order, and the
    // seeded bootstrap is input-order-sensitive — the operator's internal
    // total-order sort must make arrival order irrelevant
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def run(name: String, pts: Seq[graft.streaming.ClusterIn]): Seq[Seq[Double]] = {
      val stream = MemoryStream[graft.streaming.ClusterIn]
      val q = StreamOps.clusterWindows(
          stream.toDS().withWatermark("ts", "0 seconds"),
          k = 3, decay = 0.2, windowSizeMs = 60000L, minCount = 0, maxCount = 50)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        stream.addData(pts); q.processAllAvailable()
        val rows = spark.table(name).orderBy("version").collect()
        assert(rows.nonEmpty, "no model fired")
        rows.flatMap(_.getSeq[scala.collection.Seq[Double]](2).map(_.toSeq)).toSeq
      } finally q.stop()
    }
    // 50 points ALL at t=1s (maxCount hit -> immediate fire), distinct
    // coordinates so bootstrap's seeded shuffle has real choices to make
    val pts = (0 until 50).map(i => graft.streaming.ClusterIn(
      new java.sql.Timestamp(1000L), Seq(i.toDouble, (i * 7 % 13).toDouble), ""))
    val a = run("cw_order_a", pts)
    val b = run("cw_order_b", new scala.util.Random(42L).shuffle(pts))
    assert(a == b, s"model depends on same-timestamp arrival order:\n $a\n vs $b")
  }

  test("clustering window across every fire path emits the pinned model stream") {
    // one chunk sequence through regular fire, control-line
    // re-parameterization, early fire, extension, delayed fire and
    // ahead-of-window carry-over; the model stream is pinned as literals
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def pt(sec: Long, x: Double) = graft.streaming.ClusterIn(
      new java.sql.Timestamp(sec * 1000L), Seq(x, x), "")
    def ctrl(sec: Long, line: String) = graft.streaming.ClusterIn(
      new java.sql.Timestamp(sec * 1000L), Seq.empty, line)
    val chunks: Seq[Seq[graft.streaming.ClusterIn]] = Seq(
      (0 until 5).map(i => pt(1L + i * 10L, i.toDouble)),        // window 1 fills
      Seq(pt(62L, 99.0)),                                        // regular fire v1; 62s carries over
      ctrl(63L, "k=3") +: (0 until 7).map(i => pt(63L + i, i.toDouble)), // early fire v2 under k=3
      Seq(pt(130L, 50.0)),                                       // ahead of window 3
      Seq(ctrl(131L, "# noop")),                                 // window 3 end passes: extension
      // past the 131s watermark (at-or-behind rows are late-filtered)
      Seq(pt(140L, 1.0), pt(141L, 2.0)))                         // delayed fire v3
    val stream = MemoryStream[graft.streaming.ClusterIn]
    val q = StreamOps.clusterWindows(
        stream.toDS().withWatermark("ts", "0 seconds"),
        k = 2, decay = 0.2, windowSizeMs = 60000L, minCount = 2, maxCount = 8)
      .writeStream.format("memory").queryName("cw_fire_paths")
      .outputMode("append").start()
    try {
      chunks.foreach { c => stream.addData(c); q.processAllAvailable() }
      val models = spark.table("cw_fire_paths").orderBy("version").collect().toSeq
        .map(r => (r.getInt(0), r.getInt(1),
          r.getSeq[scala.collection.Seq[Double]](2).length))
      // (version, n_points, k): v1 = window 1's 5 points; v2 = the carried
      // 62s point + 7 more at maxCount, under k=3; v3 = the extended
      // window 3 once it holds minCount points (the 130s point waits for
      // window 4)
      assert(models == Seq((1, 5, 2), (2, 8, 3), (3, 2, 3)),
        s"model stream drifted: $models")
    } finally q.stop()
  }

  test("append-mode session windows emit exactly the batch sessions once the watermark closes them") {
    // production form of q24's sessionization: append + watermark — a
    // session row is emitted exactly once, when the watermark passes its
    // close. After a far-future sentinel, emitted set == batch computation.
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val all = eventsTyped
    val stream = MemoryStream[Ev]
    val agg = stream.toDF()
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_timestamp(col("w.start")).as("sess_start"),
        col("n_events"))
    val q = agg.writeStream.format("memory").queryName("session_append")
      .outputMode("append").start()
    try {
      all.grouped(math.max(1, all.length / 3 + 1))
        .foreach { c => stream.addData(c); q.processAllAvailable() }
      val sentinelTs = new java.sql.Timestamp(all.last.ts.getTime + 30L * 86400 * 1000)
      stream.addData(Ev(999999999L, sentinelTs, 1L, "signup", 0.0))
      q.processAllAvailable()
      stream.addData(Ev(999999998L, new java.sql.Timestamp(sentinelTs.getTime + 86400000L), 1L, "signup", 0.0))
      q.processAllAvailable()
      val cutoff = all.last.ts.getTime / 1000 + 86400
      val streamed = spark.table("session_append")
        .filter(col("sess_start") < cutoff)
        .orderBy(col("user_id"), col("sess_start")).collect()
      val batch = Tables.events(spark, sf)
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), unix_timestamp(col("w.start")).as("sess_start"),
          col("n_events"))
        .orderBy(col("user_id"), col("sess_start")).collect()
      assert(streamed.length == batch.length,
        s"append emitted ${streamed.length}, batch has ${batch.length}")
      assert(streamed.sameElements(batch))
    } finally q.stop()
  }

  test("lateness listener collects per-batch observed counters and the watermark (W12)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val all = eventsTyped
    val listener = new ProgressMonitor.LatenessListener("observed_stream")
    spark.streams.addListener(listener)
    val stream = MemoryStream[Ev]
    val q = ProgressMonitor.observed(
        stream.toDF().withWatermark("ts", "30 minutes"))
      .groupBy(window(col("ts"), "1 day")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("observed_stream")
      .outputMode("append").start()
    try {
      all.grouped(math.max(1, all.length / 3 + 1))
        .foreach { c => stream.addData(c); q.processAllAvailable() }
      // listener delivery is async: poll until all rows are accounted for
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (listener.snapshots.map(_.nRows).sum < all.length
             && System.nanoTime() < deadline) Thread.sleep(50)
      val snaps = listener.snapshots
      assert(snaps.map(_.nRows).sum == all.length,
        s"listener saw ${snaps.map(_.nRows).sum} of ${all.length} rows")
      snaps.foreach { s =>
        assert(s.spanSec == s.maxEventSec - s.minEventSec)
        assert(s.maxBehindWatermarkSec >= 0)
      }
      // watermark must have advanced off the epoch after the first batch
      assert(snaps.drop(1).forall(_.watermarkSec > 0),
        s"watermark never advanced: $snaps")
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }
}
