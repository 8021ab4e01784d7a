package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.Tables
import graft.functions.KMeans
import graft.jobs.{ActivityDetectionJob, PostStatisticsJob, RecommendationsJob}
import graft.operators.{GraphPack, RecommendationPack, WindowPack}

/** `graft.sources.ReplaySource` seen from outside: every call the engine
  * makes into the source's micro-batch stream is timed here, and the end
  * of the first `latestOffset` call is taken as the start of that
  * stream's replay clock (the source starts its clock inside that call). */
class TimedReplay extends TableProvider {
  private val inner = new graft.sources.ReplaySource
  override def inferSchema(o: CaseInsensitiveStringMap): StructType = inner.inferSchema(o)
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        props: java.util.Map[String, String]): Table = {
    val t = inner.getTable(schema, partitioning, props).asInstanceOf[Table with SupportsRead]
    new Table with SupportsRead {
      override def name(): String = t.name()
      override def schema(): StructType = t.schema()
      override def capabilities(): java.util.Set[TableCapability] = t.capabilities()
      override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
        val sb = t.newScanBuilder(o)
        () => {
          val scan = sb.build()
          new Scan {
            override def readSchema(): StructType = scan.readSchema()
            override def toMicroBatchStream(ckpt: String): MicroBatchStream =
              new TimedStream(scan.toMicroBatchStream(ckpt), ckpt)
          }
        }
      }
    }
  }
}

final class TimedStream(inner: MicroBatchStream, ckpt: String) extends MicroBatchStream {
  private def timed[T](what: String)(body: => T): T = {
    val a = System.currentTimeMillis().toDouble + (System.nanoTime() % 1000000) / 1e6
    val s = System.nanoTime()
    val r = body
    TimedReplay.calls.add((ckpt, what, a, a + (System.nanoTime() - s) / 1e6))
    r
  }
  override def latestOffset(): Offset = {
    val r = timed("latestOffset")(inner.latestOffset())
    TimedReplay.clockStart.putIfAbsent(ckpt, System.currentTimeMillis().toDouble)
    r
  }
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    timed("getBatch")(inner.planInputPartitions(start, end))
  override def createReaderFactory(): PartitionReaderFactory = inner.createReaderFactory()
  override def initialOffset(): Offset = inner.initialOffset()
  override def deserializeOffset(json: String): Offset = inner.deserializeOffset(json)
  override def commit(end: Offset): Unit = inner.commit(end)
  override def stop(): Unit = inner.stop()
}

object TimedReplay {
  /** source checkpoint location -> wall-clock ms at which its clock started */
  val clockStart = new ConcurrentHashMap[String, Double]()
  /** (source checkpoint location, call, start ms, end ms) */
  val calls = new ConcurrentLinkedQueue[(String, String, Double, Double)]()
}

/** The dspa-replay workload: the three DSPA job mains at once over the
  * scaled replay of a seed-generated events file, at the reference's
  * 10 000x. Open loop: the replay clock does not wait for the jobs. */
object Replay {
  val Speedup = 10000.0
  private val jobNames = Seq("task1_post_stats", "task2_recommendations", "task3_model", "task3_classify")

  final case class Run(setupS: Double, queries: Map[String, StreamingQuery],
                       progress: Map[String, Seq[StreamingQueryProgress]],
                       clock: Map[String, Double], outDirs: (String, String, String),
                       ckptDirs: Map[String, String], window: (Double, Double))

  /** `passS`: one round of micro-batches, the sum over the queries of each
    * query's median batch time. `lat`: per event, see `figures`. `endS`:
    * from the first replay clock's start to the last commit of the batch
    * holding the last event. */
  final case class Figures(passS: Double, lat: Seq[Double], drainS: Double, batches: Int, endS: Double)

  def run(o: Main.Opts): Result = {
    val res = new Result
    val t0 = Main.nowS
    var spark = Main.session(o)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val sessionS = Main.nowS - t0
    val ts = eventTimes(spark, o.data)

    // set up twice: the first start is stopped as soon as its clocks run
    val dry = start(spark, o, "dry")
    dry.queries.values.foreach(_.stop())
    val main = start(spark, o, "run")
    val setupS = sessionS + (dry.setupS + main.setupS) / 2
    val done = await(main, ts, o, res)
    val fig = figures(done, ts)
    res.attempted += fig.batches
    done.progress.foreach { case (n, ps) =>
      res.info(s"batches.$n") = ps.map(p => s"${p.numInputRows}:${p.batchDuration}").mkString(" ")
    }
    res.info("replay_end_s") = f"${fig.endS}%.3f"
    if (!o.trace) {
      res.e2e("setup_s", setupS, "s")
      res.e2e("pass_s", fig.passS, "s")
      res.e2e("latency_s", fig.lat.sum / math.max(1, fig.lat.size), "s")
      res.e2e("heap_live_mb", Main.heapLiveMb(), "MB")
    }
    val c0 = Main.nowS
    check(spark, o, done, ts, res)
    res.info("check_s") = f"${Main.nowS - c0}%.1f"
    if (o.trace) {
      // a traced replay between two untraced ones (the JVM warms up from
      // one replay to the next, so the overhead is taken against both)
      val tracer = new Tracer
      tracer.register(spark)
      TimedReplay.calls.clear()
      val c0 = CodeGenerator.compileTime
      val traced = await(start(spark, o, "traced"), ts, o, res)
      val tfig = figures(traced, ts)
      tracer.unregister(spark)
      val compileMs = (CodeGenerator.compileTime - c0) / 1e6
      val after = figures(await(start(spark, o, "after"), ts, o, res), ts)
      res.attempted += tfig.batches + after.batches
      layers(res, tracer, traced, tfig, ts.length, compileMs)
      val plainPass = (fig.passS + after.passS) / 2
      res.layer("trace.pass_s", tfig.passS, "s")
      res.layer("trace.untraced_pass_s", plainPass, "s")
      res.layer("trace.overhead_pct", 100.0 * (tfig.passS - plainPass) / plainPass, "%")
      writeSpans(o, tracer, traced)
      // single-core baseline: the same replay on local[1]
      spark.stop()
      spark = Main.session(o, 1)
      spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
      val one = await(start(spark, o, "local1"), ts, o, res)
      val ofig = figures(one, ts)
      res.attempted += ofig.batches
      res.layer("baseline_1core.setup_s", one.setupS, "s")
      res.layer("baseline_1core.pass_s", ofig.passS, "s")
      res.layer("baseline_1core.latency_p50_s", Stats.median(ofig.lat), "s")
      res.layer("baseline_1core.latency_p90_s", Stats.pct(ofig.lat, 90), "s")
      res.layer("baseline_1core.drain_lag_s", ofig.drainS, "s")
    }
    res.info("events") = ts.length.toString
    res.info("batches") = fig.batches.toString
    res
  }

  /** Sorted event times (µs) of the replay input. */
  private def eventTimes(spark: SparkSession, dir: String): Array[Long] =
    Tables.events(spark, dir).select(unix_micros(col("ts"))).collect().map(_.getLong(0)).sorted

  /** Start the three jobs (four streaming queries) over fresh stores and
    * checkpoints; returns once every query's replay clock has started. */
  private def start(spark: SparkSession, o: Main.Opts, tag: String): Run = {
    val base = s"${o.out}/replay-$tag"
    val s0 = Main.nowS
    def events: DataFrame = spark.readStream.format(classOf[TimedReplay].getName)
      .option("path", o.data).option("speedup", Speedup.toString).load()
    val (o1, o2, o3) = (s"$base/task1", s"$base/task2", s"$base/task3")
    val (c1, c2, c3) = (s"$base/ckpt1", s"$base/ckpt2", s"$base/ckpt3")
    val q1 = PostStatisticsJob.runResolved(spark, events, o1, c1)
    val q2 = RecommendationsJob.run(spark, events, o.data, o2, c2)
    val (m3, cl3) = ActivityDetectionJob.run(spark, events, None, o3, c3)
    val qs = jobNames.zip(Seq(q1, q2, m3, cl3)).toMap
    val ckpts = Map("task1_post_stats" -> c1, "task2_recommendations" -> c2,
      "task3_model" -> s"$c3/model", "task3_classify" -> s"$c3/classify")
    def clockOf(name: String): Option[Double] =
      TimedReplay.clockStart.asScala.collectFirst { case (k, v) if k.contains(ckpts(name) + "/") => v }
    while (jobNames.exists(n => clockOf(n).isEmpty && qs(n).isActive) && Main.nowS < o.endS) Thread.sleep(5)
    val setupS = Main.nowS - s0
    val clocks = jobNames.flatMap(n => clockOf(n).map(n -> _)).toMap
    Run(setupS, qs, Map.empty, clocks, (o1, o2, o3), ckpts, (0.0, 0.0))
  }

  /** Wait until every query has committed the batch holding the last
    * event, then stop the queries. The wait is bounded by the replay's
    * length plus 90 s, and ends early enough to leave `Main.ReserveS` of
    * the run's time limit for the check and the report. */
  private def await(r: Run, ts: Array[Long], o: Main.Opts, res: Result): Run = {
    val last = ts.last.toString
    val w0 = System.currentTimeMillis().toDouble
    val deadline = math.min(Main.nowS + o.seconds + 90, o.endS - Main.ReserveS)
    def reached(q: StreamingQuery) =
      q.recentProgress.exists(p => p.sources.headOption.exists(_.endOffset == last))
    while (Main.nowS < deadline && r.queries.values.exists(q => q.isActive && !reached(q)))
      Thread.sleep(20)
    r.queries.foreach { case (n, q) =>
      q.exception.foreach(e => res.fail(s"$n micro-batch", e))
      if (q.isActive && !reached(q)) res.errors += s"$n: did not reach the last event in time"
      else if (q.isActive) try q.processAllAvailable() catch { case e: Throwable => res.fail(n, e) }
    }
    val progress = r.queries.map { case (n, q) => n -> q.recentProgress.toSeq }
    r.queries.values.foreach(_.stop())
    r.copy(progress = progress, window = (w0, System.currentTimeMillis().toDouble))
  }

  private def commitMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble + p.batchDuration

  /** Event latency: from an event's due time on the replay clock to the
    * moment every query that reads it has committed the micro-batch that
    * holds it (each query runs its own clock; the due time is taken on
    * each). The classify query reads only the events that arrive after the
    * first model, and how many do varies from run to run, so the events it
    * does not read count with the other queries alone. The per-query latencies are bimodal (the
    * classify query commits far sooner than the others), so the event's
    * latency is its slowest query's. */
  private def figures(r: Run, ts: Array[Long]): Figures = {
    val minTs = ts.head
    def due(clock: Double, t: Long) = clock + (t - minTs) / 1000.0 / Speedup
    def countLe(x: Long) = { // events with ts <= x
      var lo = 0; var hi = ts.length
      while (lo < hi) { val m = (lo + hi) >>> 1; if (ts(m) <= x) lo = m + 1 else hi = m }
      lo
    }
    val lat = Array.fill(ts.length)(Double.NaN)
    val seen = Array.fill(ts.length)(0)
    var lastCommit = 0.0
    var batches = 0
    val drains = r.progress.toSeq.flatMap { case (n, ps) =>
      batches += ps.size
      val clock = r.clock.getOrElse(n, Double.NaN)
      ps.filter(_.numInputRows > 0).flatMap { p =>
        val src = p.sources.head
        val a = Option(src.startOffset).map(_.toLong).getOrElse(Long.MinValue)
        val b = src.endOffset.toLong
        val c = commitMs(p)
        val (i, j) = (if (a == Long.MinValue) 0 else countLe(a), countLe(b))
        (i until j).foreach { k =>
          val l = (c - due(clock, ts(k))) / 1000.0
          lat(k) = if (seen(k) == 0) l else math.max(lat(k), l)
          seen(k) += 1
        }
        if (b == ts.last) { lastCommit = math.max(lastCommit, c); Some((c - due(clock, ts.last)) / 1000.0) }
        else None
      }
    }
    val firstClock = if (r.clock.isEmpty) 0.0 else r.clock.values.min
    val round = r.progress.values.map(ps => Stats.median(ps.map(_.batchDuration / 1000.0))).sum
    Figures(round, lat.indices.filter(k => seen(k) > 0).map(lat(_)),
      if (drains.isEmpty) Double.NaN else drains.max, batches, (lastCommit - firstClock) / 1000.0)
  }

  private def layers(res: Result, tr: Tracer, r: Run, f: Figures, nEvents: Int, codegenMs: Double): Unit = {
    val ids = r.queries.map { case (n, q) => q.id.toString -> n }
    val jobs = tr.jobs.values.asScala.toSeq.filter(j => j.streamQuery != null && ids.contains(j.streamQuery))
    val stageSet = jobs.flatMap(_.stageIds).toSet
    val tasks = tr.tasks.asScala.toSeq.filter(t => stageSet(t.stageId))
    Catalog.sparkExecution(res, jobs, tasks, 1.0)
    Catalog.planning(res, tr, t => t >= r.window._1 && t <= r.window._2, 1.0)
    res.layer("spark.codegen_compile_ms", codegenMs, "ms")
    val all = r.progress.values.flatten.toSeq
    val data = all.filter(_.numInputRows > 0)
    def dur(p: StreamingQueryProgress, k: String) = Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val calls = TimedReplay.calls.asScala.toSeq.filter(c => r.ckptDirs.values.exists(d => c._1.contains(d + "/")))
    res.layer("sources.replay_latest_offset_ms", mean(calls.filter(_._2 == "latestOffset").map(c => c._4 - c._3)), "ms")
    res.layer("sources.replay_get_batch_ms", mean(calls.filter(_._2 == "getBatch").map(c => c._4 - c._3)), "ms")
    res.layer("sources.replay_rows_per_batch", mean(data.map(_.numInputRows.toDouble)), "count")
    val rows = tasks.map(_.outRecords).sum.toDouble
    res.layer("sources.upsert_rows_written", rows, "count")
    res.layer("sources.upsert_bytes_written", tasks.map(_.outBytes).sum.toDouble, "B")
    res.layer("sources.upsert_rows_per_event", rows / math.max(1, nEvents), "ratio")

    def stateSum(p: StreamingQueryProgress, g: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      p.stateOperators.map(g).sum.toDouble
    val byQuery = r.progress.values.toSeq
    res.layer("streaming.state_rows_max", byQuery.map(ps => (0.0 +: ps.map(stateSum(_, _.numRowsTotal))).max).sum, "count")
    res.layer("streaming.state_rows_final", byQuery.map(ps => ps.lastOption.map(stateSum(_, _.numRowsTotal)).getOrElse(0.0)).sum, "count")
    res.layer("streaming.state_mem_mb_max",
      byQuery.map(ps => (0.0 +: ps.map(stateSum(_, _.memoryUsedBytes))).max).sum / (1024.0 * 1024.0), "MB")
    res.layer("streaming.state_commit_ms", all.map(stateSum(_, _.commitTimeMs)).sum, "ms")
    res.layer("streaming.state_update_ms", all.map(stateSum(_, _.allUpdatesTimeMs)).sum, "ms")
    res.layer("streaming.state_removal_ms", all.map(stateSum(_, _.allRemovalsTimeMs)).sum, "ms")
    res.layer("streaming.rows_dropped_late", all.map(stateSum(_, _.numRowsDroppedByWatermark)).sum, "count")

    jobNames.foreach { n =>
      val ps = r.progress.getOrElse(n, Nil)
      res.layer(s"jobs.$n.batches", ps.size.toDouble, "count")
      res.layer(s"jobs.$n.batch_ms_p50", Stats.median(ps.map(_.batchDuration.toDouble)), "ms")
      res.layer(s"jobs.$n.query_planning_ms", mean(ps.map(dur(_, "queryPlanning"))), "ms")
      res.layer(s"jobs.$n.wal_commit_ms", mean(ps.map(dur(_, "walCommit"))), "ms")
    }
    res.layer("jobs.event_latency_p50_s", Stats.median(f.lat), "s")
    res.layer("jobs.event_latency_p90_s", Stats.pct(f.lat, 90), "s")
    res.layer("jobs.event_latency_p99_s", Stats.pct(f.lat, 99), "s")
    res.layer("jobs.drain_lag_s", f.drainS, "s")

    // self time: micro-batch spans (jobs) over source calls and Spark jobs
    val (batchSpans, byBatch) = batchSpansOf(tr, r)
    val srcSpans = sourceSpans(tr, r, batchSpans)
    val jobSpans = tr.jobSpans((q, b) => byBatch.getOrElse((q, b), 0L))
      .filter(s => s.startMs >= r.window._1 - 60000)
    val self = Tracer.selfTimeByLayer(batchSpans ++ srcSpans ++ jobSpans)
    Seq("jobs", "sources", "spark").foreach(l => res.layer(s"self.$l.s", self.getOrElse(l, 0.0) / 1000.0, "s"))
  }

  private def batchSpansOf(tr: Tracer, r: Run): (Seq[Span], Map[(String, String), Long]) = {
    val spans = r.queries.toSeq.flatMap { case (n, q) =>
      r.progress.getOrElse(n, Nil).map { p =>
        val end = commitMs(p)
        ((q.id.toString, p.batchId.toString), Span(tr.newId(), 0L, "jobs", s"$n#${p.batchId}", end - p.batchDuration, end))
      }
    }
    (spans.map(_._2), spans.map { case (k, s) => k -> s.id }.toMap)
  }

  private def sourceSpans(tr: Tracer, r: Run, batches: Seq[Span]): Seq[Span] =
    TimedReplay.calls.asScala.toSeq.flatMap { case (ckpt, what, a, b) =>
      r.ckptDirs.collectFirst { case (n, c) if ckpt.contains(c + "/") => n }.map { n =>
        val parent = batches.find(s => s.name.startsWith(n + "#") && a >= s.startMs && a <= s.endMs)
        Span(tr.newId(), parent.map(_.id).getOrElse(0L), "sources", s"$n.$what", a, b)
      }
    }

  private def writeSpans(o: Main.Opts, tr: Tracer, r: Run): Unit = {
    val (batchSpans, byBatch) = batchSpansOf(tr, r)
    Tracer.writeSpans(s"${o.out}/spans.jsonl",
      batchSpans ++ sourceSpans(tr, r, batchSpans) ++ tr.jobSpans((q, b) => byBatch.getOrElse((q, b), 0L)))
  }

  /** Each job's final store against its batch twin over the same events. */
  private def check(spark: SparkSession, o: Main.Opts, r: Run, ts: Array[Long], res: Result): Unit = {
    val d = o.data
    val (o1, o2, o3) = r.outDirs
    val events = Tables.events(spark, d)
    def note(msg: String): Unit = res.synchronized { res.checks += msg }
    def same(name: String, got: DataFrame, want: DataFrame): Unit = {
      val (g, w) = (got.count(), want.count())
      if (g == 0) note(s"$name: empty store")
      else if (!(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty))
        note(s"$name: store ($g rows) differs from its batch twin ($w rows)")
    }
    // the three checks are independent and run at the same time
    import scala.concurrent.ExecutionContext.Implicits.global
    val pending = scala.collection.mutable.ArrayBuffer.empty[scala.concurrent.Future[Unit]]
    def guard(name: String)(body: => Unit): Unit = pending += scala.concurrent.Future {
      val s = Main.nowS
      try body catch { case e: Throwable => note(s"$name: check failed: ${e.getMessage}") }
      res.synchronized { res.info(s"check_s.$name") = f"${Main.nowS - s}%.1f" }
    }

    guard("task1_post_stats") {
      val resolved = GraphPack.resolveRoots(spark, d).select(col("event_id"), col("root_id"))
      val wmSec = ts.last / 1000000L - 2 * 3600
      val want = WindowPack.slidingStats(events.join(resolved, "event_id")
          .select(col("ts"), col("root_id"), col("event_type")), exactDistinct = false, key = "root_id")
        .filter(col("wstart") + 12 * 3600 <= wmSec)
      same("task1_post_stats", spark.read.parquet(o1), want)
    }
    guard("task2_recommendations") {
      val store = RecommendationPack.staticStore(spark, d)
      val fired = events.groupBy(window(col("ts"), "4 hours").as("w"), col("user_id"))
        .agg(collect_set(col("event_type")).as("acts"))
        .select(unix_timestamp(col("w.start")).as("wstart"), col("user_id"), col("acts"))
      val latest = fired.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("user_id")).orderBy(col("wstart").desc)))
        .filter(col("rn") === 1).drop("rn")
      same("task2_recommendations", spark.read.parquet(o2).select("user_id", "wstart", "recs"),
        RecommendationPack.onlineRecommend(latest, store))
    }
    guard("task3_classify") {
      import spark.implicits._
      val models = spark.read.parquet(s"$o3/models")
        .select("version", "centroids", "weights").as[(Int, Seq[Seq[Double]], Seq[Double])].collect()
      val got = spark.read.parquet(s"$o3/classified")
      val feats = ActivityDetectionJob.featurize(events)
      val want = models.map { case (v, cs, ws) =>
        val m = KMeans.Model(cs.zipWithIndex.map { case (c, i) => KMeans.Cluster(i, c.toVector, ws(i)) }.toVector)
        ActivityDetectionJob.classifyDf(
          feats.join(got.filter(col("model_version") === v).select("event_id"), "event_id"), m, v)
      }.reduceOption(_ unionByName _)
      if (models.isEmpty) note("task3_model: no model was published")
      else same("task3_classify", got.select("event_id", "user_id", "cluster", "dist", "model_version"),
        want.get.select("event_id", "user_id", "cluster", "dist", "model_version"))
      // events before the first model are dropped; every later one is classified
      val tsOf = events.select(col("event_id"), unix_micros(col("ts")).as("t"))
      val classified = tsOf.join(got.select("event_id"), Seq("event_id"), "left_semi")
      val dropped = tsOf.join(got.select("event_id"), Seq("event_id"), "left_anti")
      val firstKept = classified.agg(min("t")).head().get(0)
      val lastDropped = dropped.agg(max("t")).head().get(0)
      if (firstKept != null && lastDropped != null &&
        lastDropped.asInstanceOf[Long] >= firstKept.asInstanceOf[Long])
        note("task3_classify: an event after the first model was not classified")
      val n = dropped.count()
      res.synchronized { res.info("task3_dropped_before_first_model") = n.toString }
    }
    pending.foreach(scala.concurrent.Await.ready(_, scala.concurrent.duration.Duration.Inf))
  }
}
