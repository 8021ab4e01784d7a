package graft

import org.apache.spark.sql.functions._

/** The scaled event-time replay source (S1/S3): completeness at extreme
  * speedup, pacing at moderate speedup, and event-time-ordered release. */
class ReplaySourceSpec extends GraftSuite {

  private val fmt = classOf[graft.sources.ReplaySource].getName

  test("extreme speedup drains the full event set, row-identical to the batch read") {
    val q = spark.readStream.format(fmt)
      .option("path", sf).option("speedup", "1e15").load()
      .writeStream.format("memory").queryName("replay_full").start()
    try {
      q.processAllAvailable()
      val got = spark.table("replay_full")
      val src = Tables.events(spark, sf)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      assert(got.count() == src.count())
      assert(got.exceptAll(src).isEmpty && src.exceptAll(got).isEmpty,
        "replayed rows diverge from the batch read")
    } finally q.stop()
  }

  test("replayed stream through sliding stats equals the batch computation (reference replay contract)") {
    // the reference's core invariant: a replayed stream fed through the
    // windowed pipeline produces the batch answer (README.md:112's
    // determinism contract) — here: ReplaySource → slidingStats ==
    // batch slidingStats
    val q = graft.streaming.StreamOps.slidingStats(
        spark.readStream.format(fmt)
          .option("path", sf).option("speedup", "1e15").load())
      .writeStream.format("memory").queryName("replay_sliding")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("replay_sliding")
        .orderBy(col("wstart"), col("user_id")).collect()
      val batch = graft.operators.WindowPack.slidingStats(
          Tables.events(spark, sf), exactDistinct = false)
        .orderBy(col("wstart"), col("user_id")).collect()
      assert(streamed.length == batch.length)
      assert(streamed.sameElements(batch))
    } finally q.stop()
  }

  test("driver state is footer bounds; executor range scans tile the event set exactly") {
    // the driver never holds events - only the footer-derived ts bounds
    // and the file length
    val (loTs, hiTs, len) = graft.sources.ReplaySource.tsBounds(sf)
    val exp = Tables.events(spark, sf)
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .collect()(0)
    assert((loTs, hiTs) == ((exp.getLong(0), exp.getLong(1))))
    assert(len == new java.io.File(s"$sf/events.parquet").length())
    // ts-range x byte-range tiles are disjoint and union to the batch read
    val midTs = (loTs + hiTs) / 2
    val tsRanges = Seq((loTs - 1, midTs), (midTs, hiTs))
    val step = math.max(1L, (len + 3) / 4)
    val got = tsRanges.flatMap { case (lo, hi) =>
      (0 until 4).flatMap(i =>
        graft.sources.ReplaySource.scanRange(sf, lo, hi,
          i * step, math.min(len, (i + 1) * step)))
    }
    assert(got.map(_._1).distinct.length == got.length, "tiles overlap")
    val expRows = Tables.events(spark, sf)
      .select(col("event_id"), unix_micros(col("ts")), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getDouble(4), r.getString(5)))
    assert(got.toSet == expRows.toSet, "range-scan union diverges from batch read")
    // an empty ts range scans nothing
    assert(graft.sources.ReplaySource.scanRange(sf, hiTs, hiTs, 0L, len).isEmpty)
  }

  test("large-input smoke: 10x corpus replays completely through executor-side reads") {
    val big = "/root/testdata/sf0.01"
    val q = spark.readStream.format(fmt)
      .option("path", big).option("speedup", "1e15").load()
      .writeStream.format("memory").queryName("replay_big").start()
    try {
      q.processAllAvailable()
      assert(spark.table("replay_big").count()
        == Tables.events(spark, big).count())
    } finally q.stop()
  }

  test("full-range scanRange saturates ±Long extremes into an always-true predicate") {
    // the stats-missing tsBounds fallback scans with (Long.MinValue,
    // Long.MaxValue-1); an overflowing micros→nanos conversion would make
    // the pushed predicate unsatisfiable and silently return zero rows
    val len = new java.io.File(s"$sf/events.parquet").length()
    val got = graft.sources.ReplaySource
      .scanRange(sf, Long.MinValue, Long.MaxValue - 1, 0L, len).size
    assert(got == Tables.events(spark, sf).count(),
      s"full-range scan returned $got rows — predicate overflow regressed")
  }

  test("PrepJob ts-sorted layout: row groups are ts-disjoint so batch ranges prune") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val out = java.nio.file.Files.createTempDirectory("replay_sorted").toString
    graft.jobs.PrepJob.prepReplayEvents(spark, sf, out, rowGroupBytes = 4096)
    // the replay source on the new layout is event-complete
    val q = spark.readStream.format(fmt)
      .option("path", out).option("speedup", "1e15").load()
      .writeStream.format("memory").queryName("replay_sorted").start()
    try {
      q.processAllAvailable()
      val got = spark.table("replay_sorted")
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      val src = Tables.events(spark, sf)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      assert(got.exceptAll(src).isEmpty && src.exceptAll(got).isEmpty,
        "sorted-layout replay diverges from the batch read")
    } finally q.stop()
    // footer: several row groups whose ts statistics are ASCENDING and
    // DISJOINT — the precondition the pushed ts-range predicate prunes on
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$out/events.parquet"),
      spark.sparkContext.hadoopConfiguration)
    val reader = ParquetFileReader.open(in)
    val (ranges, tsIdx) = try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      val idx = schema.getFieldIndex("ts")
      import scala.jdk.CollectionConverters._
      (reader.getFooter.getBlocks.asScala.toSeq.map { b =>
        val st = b.getColumns.get(idx).getStatistics
        (st.genericGetMin.asInstanceOf[Long], st.genericGetMax.asInstanceOf[Long])
      }, idx)
    } finally reader.close()
    assert(tsIdx >= 0)
    assert(ranges.length >= 3, s"expected several row groups, got ${ranges.length}")
    ranges.sliding(2).foreach {
      case Seq((_, prevMax), (nextMin, _)) =>
        assert(prevMax <= nextMin,
          s"row-group ts ranges overlap: $ranges — layout not sorted")
      case _ => ()
    }
    // a batch-sized window (10% of the span) intersects only a sliver of
    // the row groups — the reader decodes just those
    val lo = ranges.head._1; val hi = ranges.last._2
    val (wLo, wHi) = (lo + (hi - lo) * 45 / 100, lo + (hi - lo) * 55 / 100)
    val touched = ranges.count { case (mn, mx) => mx >= wLo && mn <= wHi }
    assert(touched <= ranges.length / 3,
      s"$touched of ${ranges.length} row groups overlap a 10% window — no pruning win")
  }

  test("restart resumes the scaled clock from the checkpointed frontier (no stall)") {
    // after a checkpoint restart the engine replays the offset log through
    // deserializeOffset BEFORE requesting offsets; the scaled clock must
    // start from that frontier, not re-elapse the whole replayed duration
    val (loTs, hiTs, _) = graft.sources.ReplaySource.tsBounds(sf)
    val mid = (loTs + hiTs) / 2
    // speedup 1.0: without resume-seeding the frontier would sit at ~minTs
    // for (mid - loTs) real microseconds — i.e. effectively forever here
    val stream = new graft.sources.ReplayMicroBatchStream(sf, 1.0)
    stream.deserializeOffset(mid.toString)
    val off = stream.latestOffset().asInstanceOf[graft.sources.ReplayOffset]
    assert(off.frontierMicros >= mid,
      s"resumed frontier ${off.frontierMicros} regressed below checkpointed $mid")
    // and a fresh stream (no restored offset) still starts at the beginning
    val fresh = new graft.sources.ReplayMicroBatchStream(sf, 1.0)
    val f0 = fresh.latestOffset().asInstanceOf[graft.sources.ReplayOffset]
    assert(f0.frontierMicros < mid, "fresh stream should start near minTs")
  }

  test("paced replay stopped mid-run and restarted on its checkpoint delivers every event exactly once") {
    // a ~12 s replay into a parquet file sink: stop it once a first batch
    // has committed, restart on the same checkpoint and let it drain. The
    // batch running at the stop re-runs from the offset log, so the sink
    // must hold each event_id of events.parquet once: no duplicate, no gap
    val bounds = Tables.events(spark, sf)
      .agg(min(unix_timestamp(col("ts"))), max(unix_timestamp(col("ts"))))
      .collect()(0)
    val speedup = (bounds.getLong(1) - bounds.getLong(0)).max(1L) / 12.0
    val srcIds = Tables.events(spark, sf).select(col("event_id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    val base = java.nio.file.Files.createTempDirectory("replay_restart").toString
    val (out, ckpt) = (s"$base/out", s"$base/ckpt")
    // an explicit schema: before the first commit the sink has no files
    def sinkIds(): Seq[Long] =
      if (!new java.io.File(s"$out/_spark_metadata").isDirectory) Nil
      else spark.read.schema(graft.sources.ReplaySource.schema).parquet(out)
        .select(col("event_id")).collect().map(_.getLong(0)).toSeq
    def run() = graft.sources.ReplaySource.stream(spark, sf, speedup.toString)
      .writeStream.format("parquet").option("checkpointLocation", ckpt)
      .start(out)
    def waitFor(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!cond && System.nanoTime() < deadline) Thread.sleep(100)
    }

    val q1 = run()
    try waitFor(sinkIds().nonEmpty) finally q1.stop()
    val mid = sinkIds()
    assert(mid.nonEmpty && mid.length < srcIds.length,
      s"the stop did not land mid-replay: ${mid.length} of ${srcIds.length}")

    val q2 = run()
    try waitFor(sinkIds().length >= srcIds.length) finally q2.stop()
    val got = sinkIds().sorted
    val twice = got.length - got.distinct.length
    val missing = srcIds.diff(got).length
    assert(twice == 0, s"$twice events delivered twice")
    assert(missing == 0, s"$missing events missing after the restart")
    assert(got == srcIds, "the sink holds ids that are not in events.parquet")
  }

  test("moderate speedup paces the release: partial early, complete later, ts-ordered") {
    // choose speedup so the full replay takes ~4s of wall clock
    val bounds = Tables.events(spark, sf)
      .agg(min(unix_timestamp(col("ts"))), max(unix_timestamp(col("ts"))))
      .collect()(0)
    val spanSec = (bounds.getLong(1) - bounds.getLong(0)).max(1L)
    val speedup = spanSec / 4.0
    val total = Tables.events(spark, sf).count()
    val q = spark.readStream.format(fmt)
      .option("path", sf).option("speedup", speedup.toString).load()
      .writeStream.format("memory").queryName("replay_paced").start()
    try {
      // sample shortly after start while triggers fire on their own —
      // processAllAvailable would BLOCK until the paced replay fully
      // drains (every trigger finds newly released rows), so poll instead
      Thread.sleep(700)
      val early = spark.table("replay_paced").count()
      assert(early < total,
        s"replay released everything immediately ($early of $total)")
      // the released prefix must be an event-time prefix: its max ts stays
      // below the unreleased suffix's min ts
      if (early > 0) {
        val maxReleased = spark.table("replay_paced")
          .agg(max(unix_timestamp(col("ts")))).collect()(0).getLong(0)
        val frontierRank = Tables.events(spark, sf)
          .filter(unix_timestamp(col("ts")) <= maxReleased).count()
        assert(early <= frontierRank,
          s"released $early rows but only $frontierRank are within the frontier")
      }
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var n = early
      while (n < total && System.nanoTime() < deadline) {
        Thread.sleep(250)
        n = spark.table("replay_paced").count()
      }
      assert(n == total, s"replay stalled at $n of $total")
    } finally q.stop()
  }
}
