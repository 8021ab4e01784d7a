package graft

import graft.sources.KeyedUpsertSink
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** W9 checkpointing/recovery evidence: a streaming job is stopped mid-input
  * and restarted from its checkpoint; the final upsert table must equal the
  * batch recomputation — no loss, no duplicates (the reference's
  * exactly-once contract: FlinkStreamingJob.scala:69-97 checkpoints +
  * idempotent upserts). Also runs the stateful pipeline and the
  * clustering-window restart on the RocksDB state store provider
  * (reference's RocksDB backend, application.conf:106-114).
  */
class RecoverySpec extends GraftSuite {

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDB =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with the session's state store provider set to `provider`
    * (the session default when None), restoring the previous setting. */
  private def withStateStore[T](provider: Option[String])(body: => T): T = {
    val prev = spark.conf.getOption(ProviderKey)
    provider.foreach(spark.conf.set(ProviderKey, _))
    try body finally prev match {
      case Some(v) => spark.conf.set(ProviderKey, v)
      case None => spark.conf.unset(ProviderKey)
    }
  }

  test("runResolved chain resumes from checkpoint: BOTH stateful operators recover") {
    // The full Task-1 chain holds several stateful operators in one query
    // (the reply-tree resolver's frontier and archive hops + sliding
    // window agg). A reply arriving AFTER the restart whose parent
    // resolved BEFORE it can only resolve if the resolver's state
    // recovered; its window contribution can only be correct if the agg
    // state recovered too. props="0" makes the q45 parent rule
    // parent = event_id - 1 (clicks chain off the previous id).
    import graft.jobs.PostStatisticsJob
    import spark.implicits._
    val base = Files.createTempDirectory("graft_rec_resolved").toString
    val in = s"$base/in"; val ckpt = s"$base/ckpt"; val out = s"$base/out"
    val twinDir = s"$base/twin"
    new java.io.File(in).mkdirs()
    val sch = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    def ev(id: Long, et: String) =
      (id, new java.sql.Timestamp(1700000000000L + id * 1000L), id % 5, et, 1.0, "0")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    // run 1: roots 100-104 + the chain's first reply 105 (parent 104)
    val partA = Seq(ev(100, "view"), ev(101, "view"), ev(102, "purchase"),
      ev(103, "view"), ev(104, "view"), ev(105, "click"))
    // run 2: replies 106 (parent 105 — resolved pre-restart) and 107, plus
    // a root two days later: its watermark closes every window of the
    // 107-second span, which the chain emits in append mode
    val partB = Seq(ev(106, "click"), ev(107, "click"),
      (200L, new java.sql.Timestamp(1700000000000L + 2L * 86400 * 1000), 0L,
        "view", 1.0, "0"))

    def runOnce(c: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]): Unit = {
      // chunk fully written before the query starts (no mid-write listing
      // races; the chain converges under any batch split, but the test
      // should exercise the intended two-batch restart shape)
      c.toDF(cols: _*).write.mode("append").parquet(in)
      val q = PostStatisticsJob.runResolved(spark,
        spark.readStream.schema(sch).parquet(in), out, ckpt)
      try q.processAllAvailable() finally q.stop() // "crash" between chunks
    }
    runOnce(partA); runOnce(partB)

    // twin: the batch fixpoint + per-root sliding stats over ALL events,
    // on the FINALIZED windows: those whose end is at or behind the final
    // downstream watermark (max event time − the doubled 1h delay)
    (partA ++ partB).toDF(cols: _*).write.parquet(s"$twinDir/events.parquet")
    val resolved = graft.operators.GraphPack.resolveRoots(spark, twinDir)
      .select(col("event_id"), col("root_id"))
    val wmSec = Tables.events(spark, twinDir)
      .agg(max(unix_timestamp(col("ts")))).head().getLong(0) - 2 * 3600
    val want = graft.operators.WindowPack.slidingStats(
      Tables.events(spark, twinDir).join(resolved, "event_id")
        .select(col("ts"), col("root_id"), col("event_type")),
      exactDistinct = false, key = "root_id")
      .filter(col("wstart") + 12 * 3600 <= wmSec)
    val got = spark.read.parquet(out)
    assert(got.count() == want.count() && got.count() > 0,
      s"got ${got.count()} vs want ${want.count()} finalized windows")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "restarted chained job diverged from the batch twin")
    // the post-restart replies really landed on root 104's statistics
    assert(got.filter(col("root_id") === 104).agg(max(col("n_click")))
      .head().getLong(0) == 3L,
      "replies must chain through state recovered across the restart")
  }

  test("streaming agg resumes from checkpoint after a stop: result = batch, exactly-once") {
    val base = Files.createTempDirectory("graft_recovery").toString
    val inDir = s"$base/in"; val ckpt = s"$base/ckpt"; val outDir = s"$base/out"
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val (h1, h2) = {
      val n = ev.count() / 2
      (ev.filter(col("event_id") < n), ev.filter(col("event_id") >= n))
    }
    h1.write.mode("append").parquet(inDir)

    def startQuery() = {
      val schema = spark.read.parquet(inDir).schema
      spark.readStream.schema(schema).parquet(inDir)
        .groupBy(window(col("ts"), "1 day").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp(col("w.start")).as("wstart"), col("user_id"), col("n"))
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          KeyedUpsertSink.upsert(spark, outDir, batch, Seq("wstart", "user_id"), "n")
        }.start()
    }

    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop() // "crash" after half the input

    h2.write.mode("append").parquet(inDir)
    val q2 = startQuery() // restart from the same checkpoint
    try q2.processAllAvailable() finally q2.stop()

    val expected = ev
      .groupBy(window(col("ts"), "1 day").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("w.start")).as("wstart"), col("user_id"), col("n"))
      .orderBy(col("wstart"), col("user_id")).collect()
    val got = spark.read.parquet(outDir)
      .orderBy(col("wstart"), col("user_id")).collect()
    assert(got.length == expected.length,
      s"got ${got.length}, expected ${expected.length}")
    assert(got.sameElements(expected))
  }

  // once per state store provider: the default and RocksDB, which
  // SoakBench and ReplayBench offer through SPARK_GRAFT_STATE=rocksdb
  for ((suffix, provider) <- Seq("" -> None, " (RocksDB)" -> Some(RocksDB)))
    test(s"clustering window survives a checkpoint restart: decay chain and control params intact$suffix") {
      withStateStore(provider)(clusterWindowRestart())
    }

  private def clusterWindowRestart(): Unit = {
    // the model stream is stopped between two windows and restarted from
    // its checkpoint; window 2's decay blend must use window 1's centroids
    // from RECOVERED state, and a control line delivered after the restart
    // must still re-parameterize — the restarted run must equal an
    // uninterrupted run over the same input
    import spark.implicits._
    import graft.streaming.{ClusterIn, StreamOps}
    val base = Files.createTempDirectory("graft_cw_recovery").toString

    def pts(baseSec: Long): Seq[ClusterIn] =
      (0 until 8).map(i => ClusterIn(
        new java.sql.Timestamp((baseSec + i) * 1000L),
        Seq((i % 5).toDouble, (i % 3).toDouble), ""))
    val part1 = pts(1L)
    val part2 = ClusterIn(new java.sql.Timestamp(18000L), Seq.empty, "k=3") +: pts(20L)

    def run(tag: String, feed: Seq[Seq[ClusterIn]]): Seq[(Int, Int, Seq[Seq[Double]], Seq[Double])] = {
      val inDir = s"$base/$tag/in"; val ckpt = s"$base/$tag/ckpt"
      val outDir = s"$base/$tag/out"
      def startQuery() = {
        val in = spark.readStream
          .schema(implicitly[org.apache.spark.sql.Encoder[ClusterIn]].schema)
          .parquet(inDir).as[ClusterIn]
        StreamOps.clusterWindows(in.withWatermark("ts", "0 seconds"),
            k = 2, decay = 0.2, windowSizeMs = 600000L, minCount = 2, maxCount = 8)
          .writeStream
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.streaming.ModelRow], _: Long) =>
            batch.write.mode("append").parquet(outDir)
          }.start()
      }
      feed.foreach { chunk =>
        chunk.toDS().write.mode("append").parquet(inDir)
        val q = startQuery()
        try q.processAllAvailable() finally q.stop() // "crash" between chunks
      }
      spark.read.parquet(outDir).orderBy(col("version")).collect().toSeq.map(r =>
        (r.getInt(r.fieldIndex("version")), r.getInt(r.fieldIndex("n_points")),
          r.getSeq[scala.collection.Seq[Double]](r.fieldIndex("centroids")).map(_.toSeq).toSeq,
          r.getSeq[Double](r.fieldIndex("weights")).toSeq))
    }

    val restarted = run("restarted", Seq(part1, part2))
    val straight = run("straight", Seq(part1 ++ part2))
    assert(restarted.map(_._1) == Seq(1, 2), s"expected 2 models, got $restarted")
    assert(restarted == straight,
      s"restart diverged:\n restarted=$restarted\n straight=$straight")
    // the k=3 control line applied to window 2 across the restart
    assert(restarted(1)._3.length == 3)
    // window 2's centroids came through the decay blend of window 1's model
    // (weights carry history: w2 weight = w1 weight * decay + assigned)
    assert(restarted(1)._4.sum > restarted(1)._2.toDouble - 1e-9)
  }

  test("evicting reply resolver survives a checkpoint restart mid-eviction") {
    // the resolver is stopped AFTER parking a dangling reply (+ its waiting
    // child) but BEFORE the watermark passes them; the restarted run must
    // recover the pending map and the eviction timer from state — late
    // parents still resolve, the dangling chain still drops, and the
    // result equals an uninterrupted run over the same input
    import spark.implicits._
    import graft.streaming.{EdgeEventT, ReplyTreeOp}
    val base = Files.createTempDirectory("graft_rt_recovery").toString

    def e(id: Long, sec: Long, parent: Option[Long]) =
      EdgeEventT(id, new java.sql.Timestamp(sec * 1000L), parent)
    // chunk 1: a resolved chain, a dangling reply with a waiting child,
    // and a reply whose parent only arrives in chunk 2
    val part1 = Seq(
      e(1, 1, None), e(2, 2, Some(1)),       // resolves now
      e(10, 3, Some(99)), e(11, 4, Some(10)), // dangling chain: parks
      e(30, 5, Some(31)))                     // parent arrives later
    // chunk 2: the late-ARRIVING parent (event time before its child's, so
    // the chain is causal; still inside the horizon) + fresh events 2h
    // later that advance the watermark past the dangling chain
    val part2 = Seq(
      e(31, 4, None),
      e(20, 7200, None), e(21, 7201, Some(20)))

    def run(tag: String, feed: Seq[Seq[EdgeEventT]]): Set[(Long, Long, Int, Boolean, Boolean)] = {
      val inDir = s"$base/$tag/in"; val ckpt = s"$base/$tag/ckpt"
      val outDir = s"$base/$tag/out"
      def startQuery() = {
        val in = spark.readStream
          .schema(implicitly[org.apache.spark.sql.Encoder[EdgeEventT]].schema)
          .parquet(inDir).as[EdgeEventT]
        ReplyTreeOp.resolveEvicting(in.withWatermark("ts", "1 hour"))
          .writeStream
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.streaming.TreeOut], _: Long) =>
            batch.write.mode("append").parquet(outDir)
          }.start()
      }
      feed.foreach { chunk =>
        chunk.toDS().write.mode("append").parquet(inDir)
        val q = startQuery()
        try q.processAllAvailable() finally q.stop() // "crash" between chunks
      }
      spark.read.parquet(outDir).as[graft.streaming.TreeOut].collect()
        .map(t => (t.event_id, t.root_id, t.depth, t.causal, t.dropped)).toSet
    }

    val restarted = run("restarted", Seq(part1, part2))
    val straight = run("straight", Seq(part1 ++ part2))
    assert(restarted == straight,
      s"restart diverged:\n restarted=$restarted\n straight=$straight")
    // the recovered pending map resolved the late chain and evicted the
    // dangling one (with its transitive child — the side-output contract)
    assert(restarted.filter(_._5).map(_._1) == Set(10L, 11L),
      "dangling chain must drop transitively after the restart")
    assert(restarted.filter(!_._5).map(_._1) == Set(1L, 2L, 30L, 31L, 20L, 21L))
    assert(restarted.contains((30L, 31L, 1, true, false)),
      "late parent must resolve the recovered pending reply")
  }

  test("stateful sliding agg runs on the RocksDB state store provider") {
    import spark.implicits._
    import graft.streaming.{Ev, StreamOps}
    implicit val sq = spark.sqlContext
    withStateStore(Some(RocksDB)) {
      val all = Tables.events(spark, sf)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[Ev].collect().toSeq
      val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]
      val q = StreamOps.slidingStats(stream.toDF())
        .writeStream.format("memory").queryName("rocksdb_out")
        .outputMode("complete").start()
      try {
        all.grouped(all.length / 2 + 1).foreach { c => stream.addData(c); q.processAllAvailable() }
        val streamed = spark.table("rocksdb_out").count()
        val batch = graft.operators.WindowPack
          .slidingStats(Tables.events(spark, sf), exactDistinct = false).count()
        assert(streamed == batch)
      } finally q.stop()
    }
  }
}
