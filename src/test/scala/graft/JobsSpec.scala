package graft

import graft.functions.KMeans
import graft.jobs.{ActivityDetectionJob, PostStatisticsJob, RecommendationsJob}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._

/** The three reference streaming jobs as ASSEMBLIES (reference:
  * ActivePostStatisticsJob.scala:20-92, RecommendationsJob.scala:23-196,
  * UnusualActivityDetectionJob.scala:34-136): replay source → operator
  * chain → keyed upsert store, each checkpointed, each verified against
  * its batch twin on sf0.001. */
class JobsSpec extends GraftSuite {

  private val fmt = classOf[graft.sources.ReplaySource].getName

  // a path that does NOT yet exist (the upsert store bootstraps on first merge)
  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/store"

  private def replayed: org.apache.spark.sql.DataFrame =
    spark.readStream.format(fmt)
      .option("path", sf).option("speedup", "1e15").load()

  test("PostStatisticsJob: multi-batch arrival converges to the batch answer (monotonic upsert)") {
    // event-ordered micro-batches through the per-post chain, then one root
    // two days on: its doubled watermark closes every window of the sf
    // span, so the store must hold exactly the q45 + q21 batch twin.
    // Batches 2 and 3 compile nothing: the query runs interpreted, and
    // the resolver's state deserializer, which Spark compiles anyway,
    // keeps the source that batch 1 compiled (StreamOps.stateEncoder).
    // Measured with CodeGenerator.compileTime, the JVM-wide counter the
    // perfbench replay reads.
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val out = tmp("psj2_out"); val ckpt = tmp("psj2_ckpt")
    val rows = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[(Long, java.sql.Timestamp, Long, String, Double, String)].collect().sortBy(r => (r._2.getTime, r._1))
    val stream = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val q = PostStatisticsJob.runResolved(spark,
      stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      out, ckpt)
    try {
      val feed = (c: Array[(Long, java.sql.Timestamp, Long, String, Double, String)]) => {
        stream.addData(c.toIndexedSeq); q.processAllAvailable()
      }
      val chunks = rows.grouped(math.max(1, rows.length / 3)).toSeq
      feed(chunks.head)
      val c0 = CodeGenerator.compileTime
      chunks.slice(1, 3).foreach(feed)
      val compiledMs = (CodeGenerator.compileTime - c0) / 1e6
      assert(compiledMs == 0.0, s"micro-batches 2 and 3 compiled generated code for $compiledMs ms")
      chunks.drop(3).foreach(feed)
      val last = rows.last
      stream.addData((rows.map(_._1).max + 1,
        new java.sql.Timestamp(last._2.getTime + 2L * 86400 * 1000), 0L, "view", 0.0, "0"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(out)
    val resolved = graft.operators.GraphPack.resolveRoots(spark, sf)
      .select(col("event_id"), col("root_id"))
    val want = graft.operators.WindowPack.slidingStats(
      Tables.events(spark, sf).join(resolved, "event_id")
        .select(col("ts"), col("root_id"), col("event_type")),
      exactDistinct = false, key = "root_id")
    assert(got.count() == want.count() && got.count() > 0,
      s"got ${got.count()} vs want ${want.count()} windows")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "incremental upserts did not converge to the batch twin")
  }

  test("PostStatisticsJob.runResolved (default scale-out): distributed-resolver chain equals the same batch twin") {
    // the reference's full Task-1 chain: comments → reply-tree resolution
    // → per-POST sliding statistics (ActivePostStatisticsJob.scala:48-66),
    // on the frontier+archive resolver, with the window aggregation in the
    // same query. Twin: the batch fixpoint (q45's resolveRoots) joined back to
    // the events, through the SAME slidingStats transform keyed by
    // root_id. The chain emits in APPEND mode (a multi-fMGWS query's
    // planner requirement = the reference's fire-on-close semantics), so
    // the comparison is over the FINALIZED windows: those the final
    // watermark closed.
    import org.apache.spark.sql.functions._
    val out = tmp("psjs_out"); val ckpt = tmp("psjs_ckpt")
    val q = PostStatisticsJob.runResolved(spark, replayed, out, ckpt)
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(out)
    val resolved = graft.operators.GraphPack.resolveRoots(spark, sf)
      .select(col("event_id"), col("root_id"))
    // final downstream watermark = max event time − the doubled 1h delay;
    // a 12h window is finalized when its end is at or behind it
    val wmSec = Tables.events(spark, sf)
      .agg(max(unix_timestamp(col("ts")))).head().getLong(0) - 2 * 3600
    val want = graft.operators.WindowPack.slidingStats(
      Tables.events(spark, sf).join(resolved, "event_id")
        .select(col("ts"), col("root_id"), col("event_type")),
      exactDistinct = false, key = "root_id")
      .filter(col("wstart") + 12 * 3600 <= wmSec)
    assert(got.count() == want.count() && got.count() > 0,
      s"got ${got.count()} vs want ${want.count()} finalized windows")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "scale-out chained job diverged from the batch twin on finalized windows")
    // the chain is genuinely per-POST: replies contributed to their roots
    assert(got.agg(sum(col("n_click"))).head().getLong(0) > 0)
  }

  test("all three analytic jobs run CONCURRENTLY in one session and converge (the reference's sustained-jobs anchor)") {
    // BASELINE.md row "sustained stable speedup, all 3 analytic jobs":
    // the reference's headline is THREE jobs running at once. Here all
    // three mains (Task-1 per-root chain included) share one session and
    // one replay directory; each must converge to its own batch twin with
    // none interfering with the others (session-conf toggles inside the
    // job builders must not leak across the concurrent startups).
    import org.apache.spark.sql.functions._
    val o1 = tmp("cc1_out"); val c1 = tmp("cc1_ckpt")
    val o2 = tmp("cc2_out"); val c2 = tmp("cc2_ckpt")
    val o3 = tmp("cc3_out"); val c3 = tmp("cc3_ckpt")
    val confBefore = codegenKeys.map(spark.conf.getOption)
    val q1 = PostStatisticsJob.runResolved(spark, replayed, o1, c1)
    val q2 = RecommendationsJob.run(spark, replayed, sf, o2, c2)
    // early-fire params (as in the standalone composed-job test): model
    // fires on count, independent of the watermark closing a window
    val (m3, cl3) = ActivityDetectionJob.run(spark, replayed, None, o3, c3,
      k = 3, minCount = 5, maxCount = 50,
      windowSizeMs = 3650L * 24 * 3600 * 1000)
    try {
      Seq(q1, q2, m3, cl3).foreach(_.processAllAvailable())
      // the four queries run interpreted (StreamOps.startInterpreted);
      // the caller's session gets its codegen conf back and still
      // compiles its batch queries
      Seq("task1" -> q1, "task2" -> q2, "task3 model" -> m3, "task3 classify" -> cl3)
        .foreach { case (name, q) =>
          assert(wholeStageStages(q.asInstanceOf[StreamingQueryWrapper]
            .streamingQuery.lastExecution.executedPlan) == 0,
            s"the $name query planned a whole-stage codegen stage")
        }
      assert(codegenKeys.map(spark.conf.getOption) == confBefore,
        "a job builder leaked its codegen conf into the caller's session")
      assert(wholeStageStages(spark.range(100).filter(col("id") % 3 === 0)
        .select((col("id") * 2).as("x")).queryExecution.executedPlan) > 0,
        "a batch query on the caller's session lost whole-stage codegen")
      // Task 1 (default scale-out chain, append mode): per-root stats
      // equal the batch fixpoint composition on the FINALIZED windows
      // (end at or behind the final doubled-delay watermark)
      val resolved = graft.operators.GraphPack.resolveRoots(spark, sf)
        .select(col("event_id"), col("root_id"))
      val wmSec = Tables.events(spark, sf)
        .agg(max(unix_timestamp(col("ts")))).head().getLong(0) - 2 * 3600
      val want1 = graft.operators.WindowPack.slidingStats(
        Tables.events(spark, sf).join(resolved, "event_id")
          .select(col("ts"), col("root_id"), col("event_type")),
        exactDistinct = false, key = "root_id")
        .filter(col("wstart") + 12 * 3600 <= wmSec)
      val got1 = spark.read.parquet(o1)
      assert(got1.count() > 0 &&
        got1.exceptAll(want1).isEmpty && want1.exceptAll(got1).isEmpty,
        "concurrent Task-1 store diverged from its batch twin")
      // Task 2: store equals the composite-feature online recompute
      val store = graft.operators.RecommendationPack.staticStore(spark, sf)
      val want2 = graft.operators.RecommendationPack
        .onlineRecommend(latestPerUser(firedTwin(Tables.events(spark, sf))), store)
      val got2 = spark.read.parquet(o2).select("user_id", "wstart", "recs")
      assert(got2.exceptAll(want2).isEmpty && want2.exceptAll(got2).isEmpty,
        "concurrent Task-2 store diverged from its batch twin")
      // Task 3: a model fired; classification may have raced entirely
      // ahead of the first model (reference pre-model drop semantics) —
      // but any row that WAS scored must cite a stored model version
      val models = spark.read.parquet(s"$o3/models")
      assert(models.count() > 0, "concurrent Task-3 trained no model")
      val versions = models.select("version").collect().map(_.getInt(0)).toSet
      if (new java.io.File(s"$o3/classified").exists()) {
        val classified = spark.read.parquet(s"$o3/classified")
        assert(classified.select("model_version").distinct().collect()
          .map(_.getInt(0)).toSet.subsetOf(versions),
          "concurrent Task-3 classified under an unknown model version")
      }
    } finally Seq(q1, q2, m3, cl3).foreach(_.stop())
  }

  private val codegenKeys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")

  private def wholeStageStages(plan: SparkPlan): Int =
    plan.collect { case w: WholeStageCodegenExec => w }.size

  /** The job's fired-window frame recomputed in batch: per (4h window,
    * user), the set of event types — the activity features' raw form. */
  private def firedTwin(events: org.apache.spark.sql.DataFrame) =
    events.groupBy(window(col("ts"), "4 hours").as("w"), col("user_id"))
      .agg(collect_set(col("event_type")).as("acts"))
      .select(unix_timestamp(col("w.start")).as("wstart"), col("user_id"), col("acts"))

  /** Latest fired window per user — what the monotonic upsert converges to. */
  private def latestPerUser(fired: org.apache.spark.sql.DataFrame) =
    fired.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("wstart").desc)))
      .filter(col("rn") === 1).drop("rn")

  test("RecommendationsJob: store equals the online composite-feature recompute of each user's latest window") {
    val out = tmp("rj_out"); val ckpt = tmp("rj_ckpt")
    val q = RecommendationsJob.run(spark, replayed, sf, out, ckpt)
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(out).select("user_id", "wstart", "recs")
    // batch twin: the SAME online chain (activity ∪ static features →
    // MinHash → LSH candidates from the static store → exclude known →
    // top-5) evaluated on each user's latest complete window
    val store = graft.operators.RecommendationPack.staticStore(spark, sf)
    val want = graft.operators.RecommendationPack
      .onlineRecommend(latestPerUser(firedTwin(Tables.events(spark, sf))), store)
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "upserted recommendations diverge from the composite-feature online recompute")
    // the online result is NOT the static-only ranked store: at least one
    // user's list must reflect their windowed activity
    val staticOnly = graft.operators.RecommendationPack
      .onlineRecommend(latestPerUser(firedTwin(Tables.events(spark, sf)))
        .withColumn("acts", array().cast("array<string>")), store)
    assert(want.exceptAll(staticOnly).count() > 0,
      "recommendations must change with streaming activity, not just re-stamp the static store")
  }

  test("RecommendationsJob: within-window activity growth updates the stored list (monotonic re-fire)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val out = tmp("rj2_out"); val ckpt = tmp("rj2_ckpt")
    val stream = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val q = RecommendationsJob.run(spark,
      stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
      sf, out, ckpt)
    val users = Tables.events(spark, sf).select("user_id").distinct()
      .orderBy("user_id").limit(3).as[Long].collect()
    val t0 = java.sql.Timestamp.valueOf("2020-01-01 01:00:00")
    def ev(id: Long, u: Long, et: String) = (id, t0, u, et, 1.0)
    val phase1Rows = users.zipWithIndex
      .map { case (u, i) => ev(i.toLong, u, "view") }.toIndexedSeq
    val phase2Rows = users.zipWithIndex
      .map { case (u, i) => ev(100L + i, u, "purchase") }.toIndexedSeq
    val store = graft.operators.RecommendationPack.staticStore(spark, sf)
    def twin(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)]) =
      graft.operators.RecommendationPack.onlineRecommend(
        firedTwin(rows.toDF("event_id", "ts", "user_id", "event_type", "value")), store)
    try {
      // phase 1: the users are active with "view" only
      stream.addData(phase1Rows); q.processAllAvailable()
      val phase1 = spark.read.parquet(out).select("user_id", "wstart", "recs")
      val want1 = twin(phase1Rows)
      assert(phase1.exceptAll(want1).isEmpty && want1.exceptAll(phase1).isEmpty,
        "phase-1 store must equal the view-only composite recompute")
      // phase 2: more activity in the SAME window — the re-fire must
      // supersede phase 1's rows (version monotonic in batch id)
      stream.addData(phase2Rows); q.processAllAvailable()
      val phase2 = spark.read.parquet(out).select("user_id", "wstart", "recs")
      val want2 = twin(phase1Rows ++ phase2Rows)
      assert(phase2.exceptAll(want2).isEmpty && want2.exceptAll(phase2).isEmpty,
        "phase-2 store must equal the view+purchase composite recompute")
    } finally q.stop()
  }

  test("RecommendationsJob: online signatures are map-only and equal the relational build over the exploded composite") {
    // the one-MinHasher rule for Task 2: the online chain signs each fired
    // row's activity ∪ static set in place; the independent reference
    // explodes that composite to (window key, feature) rows and takes the
    // relational 64-min aggregate (MinHash.signature) per key
    import graft.operators.RecommendationPack
    import spark.implicits._
    val events = Tables.events(spark, sf)
    val firedRows = firedTwin(events)
    val fired = spark.createDataFrame(
      java.util.Arrays.asList(firedRows.collect(): _*), firedRows.schema)
    val online = RecommendationPack.onlineSigs(fired, RecommendationPack.staticStore(spark, sf))
    val key = concat_ws(":", col("user_id"), col("wstart")).as("k")
    val tags = events.select(col("user_id"), concat(lit("T"),
      regexp_extract(col("props"), "(\\d+)", 1).cast("long") % 20).as("feature"))
    val items = fired.select(key, explode(col("acts")).as("et"))
      .select(col("k"), concat(lit("E"), col("et")).as("feature"))
      .unionByName(fired.join(tags, "user_id").select(key, col("feature")))
    val mh = RecommendationPack.mh
    val want = mh.signature(items, "k", "feature").select(col("k"), mh.sigArray)
      .as[(String, Seq[Long])].collect().toMap
    val got = online.select(key, col("sig")).as[(String, Seq[Long])].collect().toMap
    assert(got.size == fired.count() && got == want,
      s"online=${got.size} relational=${want.size} signatures diverge")
    val aggs = online.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(aggs.isEmpty, s"online signatures must not aggregate:\n${online.queryExecution.optimizedPlan}")
  }

  /** event_id → feature vector, recomputed in batch for audit asserts. */
  private def featMap(events: org.apache.spark.sql.DataFrame): Map[Long, Vector[Double]] =
    ActivityDetectionJob.featurize(events).collect().map { r =>
      r.getAs[Long]("event_id") ->
        r.getAs[scala.collection.Seq[Double]]("f").toVector
    }.toMap

  private def modelAt(row: org.apache.spark.sql.Row): KMeans.Model = {
    val cs = row.getAs[scala.collection.Seq[scala.collection.Seq[Double]]]("centroids")
    val ws = row.getAs[scala.collection.Seq[Double]]("weights")
    KMeans.Model(cs.zipWithIndex.map { case (c, i) =>
      KMeans.Cluster(i, c.toVector, ws(i))
    }.toVector)
  }

  test("ActivityDetectionJob: replay end-to-end — classifications match the final model exactly") {
    val out = tmp("adj_out"); val ckpt = tmp("adj_ckpt")
    val latest = ActivityDetectionJob.newModelRef
    // window longer than the testdata's event-time span: every point is
    // in-window, so the count-trigger (maxCount early fire) is the only
    // fire path — deterministic regardless of micro-batching. Model query
    // drains FIRST, then the classifier: every event scored under the
    // final model — a closed-form expected output.
    val modelQ = ActivityDetectionJob.modelQuery(spark, replayed, None,
      out, s"$ckpt/model", latest, k = 3, minCount = 5, maxCount = 50,
      windowSizeMs = 3650L * 24 * 3600 * 1000)
    try modelQ.processAllAvailable() finally modelQ.stop()
    val classifyQ = ActivityDetectionJob.classifyQuery(spark, replayed,
      out, s"$ckpt/classify", latest)
    try classifyQ.processAllAvailable() finally classifyQ.stop()

    val models = spark.read.parquet(s"$out/models")
    val nEvents = Tables.events(spark, sf).count()
    assert(models.count() == nEvents / 50,
      s"one model per 50-point early fire over $nEvents events")
    // drift metadata: first model reports k_diff = k, later ones 0
    val byVer = models.orderBy("version").collect()
    assert(byVer.head.getAs[Int]("k_diff") == 3)
    assert(byVer.tail.forall(_.getAs[Int]("k_diff") == 0))

    val finalVer = byVer.last.getAs[Int]("version")
    assert(latest.get().map(_._1).contains(finalVer))
    val want = ActivityDetectionJob.classifyDf(
      ActivityDetectionJob.featurize(Tables.events(spark, sf)),
      modelAt(byVer.last), finalVer)
    val got = spark.read.parquet(s"$out/classified")
    assert(got.count() == nEvents)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "classified events diverge from the final model's batch classification")
  }

  test("ActivityDetectionJob: control line re-parameterizes the running job; pre-model events drop") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val out = tmp("adj2_out"); val ckpt = tmp("adj2_ckpt")
    val latest = ActivityDetectionJob.newModelRef
    // separate input streams per query — the same wiring the main uses
    // (each query instantiates its own replay source), sequenced here for
    // a deterministic interleaving
    val evM = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val evC = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val ctrl = MemoryStream[String]
    def df(m: MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]) =
      m.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val modelQ = ActivityDetectionJob.modelQuery(spark, df(evM),
      Some(ctrl.toDF()), out, s"$ckpt/model", latest,
      k = 3, minCount = 2, maxCount = 8)
    val classifyQ = ActivityDetectionJob.classifyQuery(spark, df(evC),
      out, s"$ckpt/classify", latest)
    def chunk(base: Long): Seq[(Long, java.sql.Timestamp, Long, String, Double)] =
      (0 until 8).map(i => (base + i, new java.sql.Timestamp((base + i) * 1000L),
        i.toLong % 3, if (i % 2 == 0) "view" else "click", (i % 5).toDouble))
    try {
      // chunk 1 reaches the classifier BEFORE any model — dropped (J14)
      evC.addData(chunk(100)); classifyQ.processAllAvailable()
      assert(!new java.io.File(s"$out/classified").exists(),
        "events before the first model must be dropped, not classified")
      evM.addData(chunk(100)); modelQ.processAllAvailable() // fires v1 (k=3)
      // re-parameterize the RUNNING job: next model must have 5 clusters
      ctrl.addData("k=5"); modelQ.processAllAvailable()
      evM.addData(chunk(200)); modelQ.processAllAvailable() // fires v2 (k=5)
      evC.addData(chunk(200)); classifyQ.processAllAvailable() // scored under v2
      val models = spark.read.parquet(s"$out/models").orderBy("version").collect()
      assert(models.map(_.getAs[scala.collection.Seq[Any]]("centroids").length).toSeq == Seq(3, 5),
        "the k=5 control line must re-parameterize the next fire")
      assert(models(1).getAs[Int]("k_diff") == 2, "drift metadata must report the k change")
      val got = spark.read.parquet(s"$out/classified").collect()
      assert(got.length == 8, "only chunk 2 classified (chunk 1 pre-dated the model)")
      assert(got.map(_.getAs[Int]("model_version")).distinct.toSeq == Seq(2))
      // every row matches a from-the-store reclassification under v2
      val m2 = modelAt(models(1))
      val feats = featMap(
        chunk(200).toDF("event_id", "ts", "user_id", "event_type", "value"))
      got.foreach { r =>
        assert(r.getAs[Int]("cluster") ==
          m2.classify(feats(r.getAs[Long]("event_id"))).index)
      }
    } finally { modelQ.stop(); classifyQ.stop() }
  }

  test("ActivityDetectionJob: restarted driver classifies under the RECOVERED model; both stores converge to the uninterrupted run") {
    // verdict items #2/#7: a driver restart must not silently drop events
    // until the next window fire — `run` re-seeds the classifier's model
    // channel from max(version) of `<outDir>/models` (the reference
    // recovers its broadcast model from checkpointed state,
    // ClassifyEventsFunction.scala:16-47). Deterministic restart via a
    // file-backed stream (the RecoverySpec pattern): both queries are
    // stopped after the first fire and restarted on input that does NOT
    // fire another model — so any classification in run 2 can only come
    // from the recovered model.
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_adj_restart").toString
    def chunk(base: Long, n: Int): Seq[(Long, java.sql.Timestamp, Long, String, Double)] =
      (0 until n).map(i => (base + i, new java.sql.Timestamp((base + i) * 1000L),
        i.toLong % 3, if (i % 2 == 0) "view" else "click", (i % 5).toDouble))
    val partA = chunk(100, 8) // maxCount=8 -> fires model v1
    val partB = chunk(200, 4) // below maxCount, window never closes: NO new fire

    def runJob(tag: String, feed: Seq[Seq[(Long, java.sql.Timestamp, Long, String, Double)]])
        : (Seq[org.apache.spark.sql.Row], Seq[org.apache.spark.sql.Row]) = {
      val inM = s"$base/$tag/inM"; val inC = s"$base/$tag/inC"
      val out = s"$base/$tag/out"; val ckpt = s"$base/$tag/ckpt"
      val sch = "event_id long, ts timestamp, user_id long, event_type string, value double"
      new java.io.File(inM).mkdirs(); new java.io.File(inC).mkdirs()
      feed.foreach { c =>
        // the model chunk is FULLY written before the query starts: a
        // write racing a live file-source listing can split the chunk
        // into arbitrary micro-batches, and the clustering buffer's
        // point order is batch-boundary-sensitive (the flaky-suite
        // lesson); the classify feed below stays mid-stream — per-batch
        // stateless classification is split-insensitive
        c.toDF("event_id", "ts", "user_id", "event_type", "value")
          .write.mode("append").parquet(inM)
        // the two chains each read the source independently (as in the
        // main); separate file feeds sequence them deterministically:
        // the model always fires BEFORE the classifier sees the chunk
        val (modelQ, classifyQ) = ActivityDetectionJob.run(spark,
          spark.readStream.schema(sch).parquet(inM),
          spark.readStream.schema(sch).parquet(inC),
          None, out, ckpt, k = 3, decay = 0.2,
          windowSizeMs = 12 * 3600 * 1000L, minCount = 2, maxCount = 8,
          watermark = "1 hour")
        try {
          modelQ.processAllAvailable()
          c.toDF("event_id", "ts", "user_id", "event_type", "value")
            .write.mode("append").parquet(inC)
          classifyQ.processAllAvailable()
        } finally { modelQ.stop(); classifyQ.stop() } // "crash" between chunks
      }
      (spark.read.parquet(s"$out/models").collect().toSeq,
        spark.read.parquet(s"$out/classified").collect().toSeq)
    }

    val (mRestart, cRestart) = runJob("restarted", Seq(partA, partB))
    val (mStraight, cStraight) = runJob("straight", Seq(partA ++ partB))
    // exactly one model fired (v1, from partA's 8 points) in both runs
    assert(mRestart.map(_.getAs[Int]("version")).toSeq == Seq(1))
    assert(mStraight.map(_.getAs[Int]("version")).toSeq == Seq(1))
    // partB was classified AFTER the restart, under the recovered v1 —
    // without the bootstrap those 4 events would be dropped
    val gotB = cRestart.filter(_.getAs[Long]("event_id") >= 200)
    assert(gotB.length == partB.length,
      "post-restart events must classify under the store-recovered model, not drop")
    assert(gotB.forall(_.getAs[Int]("model_version") == 1))
    // and per-row equal to the batch classification under the stored model
    val want = ActivityDetectionJob.classifyDf(
      ActivityDetectionJob.featurize(
        partB.toDF("event_id", "ts", "user_id", "event_type", "value")),
      modelAt(mRestart.head), 1).collect().toSeq
    assert(gotB.toSet == want.toSet)
    // full convergence: restarted stores equal the uninterrupted run's
    assert(mRestart.toSet == mStraight.toSet, "model stores diverged across restart")
    assert(cRestart.toSet == cStraight.toSet, "classified stores diverged across restart")
  }

  test("ActivityDetectionJob.run: composed job races safely; every classified row is consistent with its recorded model") {
    val out = tmp("adj3_out"); val ckpt = tmp("adj3_ckpt")
    val (modelQ, classifyQ) = ActivityDetectionJob.run(spark, replayed, None,
      out, ckpt, k = 3, minCount = 5, maxCount = 50,
      windowSizeMs = 3650L * 24 * 3600 * 1000)
    try {
      modelQ.processAllAvailable(); classifyQ.processAllAvailable()
    } finally { modelQ.stop(); classifyQ.stop() }
    val models = spark.read.parquet(s"$out/models").collect()
      .map(r => r.getAs[Int]("version") -> modelAt(r)).toMap
    assert(models.nonEmpty, "the composed job must produce models")
    // classification may have raced ahead of the first model (reference
    // drop semantics) — but every row that WAS scored must be consistent
    // with the exact model version it records
    if (new java.io.File(s"$out/classified").exists()) {
      val feats = featMap(Tables.events(spark, sf))
      spark.read.parquet(s"$out/classified").collect().foreach { r =>
        val m = models(r.getAs[Int]("model_version"))
        assert(r.getAs[Int]("cluster") ==
          m.classify(feats(r.getAs[Long]("event_id"))).index)
      }
    }
  }

  test("ActivityDetectionJob.classifyDf: a one-centroid model classifies every event to cluster 0") {
    val events = Tables.events(spark, sf)
    val m = KMeans.Model(Vector(KMeans.Cluster(0, Vector(1.0, 0.5, 12.0), 1.0)))
    val got = ActivityDetectionJob.classifyDf(ActivityDetectionJob.featurize(events), m, 7).collect()
    val feats = featMap(events)
    assert(got.length == feats.size && got.nonEmpty)
    got.foreach { r =>
      assert(r.getAs[Int]("cluster") == 0 && r.getAs[Int]("model_version") == 7)
      assert(r.getAs[Double]("dist") ==
        math.sqrt(KMeans.sqDist(m.clusters.head.centroid, feats(r.getAs[Long]("event_id")))))
    }
  }

  test("ActivityDetectionJob: a k=1 control line publishes a one-centroid model that still classifies") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val out = tmp("adjk1_out"); val ckpt = tmp("adjk1_ckpt")
    val latest = ActivityDetectionJob.newModelRef
    val evM = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val evC = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val ctrl = MemoryStream[String]
    def df(m: MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]) =
      m.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val modelQ = ActivityDetectionJob.modelQuery(spark, df(evM),
      Some(ctrl.toDF()), out, s"$ckpt/model", latest,
      k = 3, minCount = 2, maxCount = 8)
    val classifyQ = ActivityDetectionJob.classifyQuery(spark, df(evC),
      out, s"$ckpt/classify", latest)
    def chunk(base: Long): Seq[(Long, java.sql.Timestamp, Long, String, Double)] =
      (0 until 8).map(i => (base + i, new java.sql.Timestamp((base + i) * 1000L),
        i.toLong % 3, if (i % 2 == 0) "view" else "click", (i % 5).toDouble))
    try {
      evM.addData(chunk(100)); modelQ.processAllAvailable() // fires v1 (k=3)
      ctrl.addData("k=1"); modelQ.processAllAvailable()
      evM.addData(chunk(200)); modelQ.processAllAvailable() // fires v2 (k=1)
      evC.addData(chunk(200)); classifyQ.processAllAvailable() // scored under v2
      val models = spark.read.parquet(s"$out/models").orderBy("version").collect()
      assert(models.map(_.getAs[scala.collection.Seq[Any]]("centroids").length).toSeq == Seq(3, 1),
        "the k=1 control line must re-parameterize the next fire")
      val got = spark.read.parquet(s"$out/classified").collect()
      assert(got.length == 8, "chunk 2 classified under the one-centroid model")
      assert(got.forall(r => r.getAs[Int]("cluster") == 0 && r.getAs[Int]("model_version") == 2))
    } finally { modelQ.stop(); classifyQ.stop() }
  }
}
