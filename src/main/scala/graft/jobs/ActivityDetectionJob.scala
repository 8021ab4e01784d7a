package graft.jobs

import graft.functions.KMeans
import graft.sources.{KeyedUpsertSink, ReplaySource}
import graft.streaming.{ClusterIn, ModelRow, StreamOps}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The reference's Task 3 as a runnable streaming main (reference:
  * jobs/clustering/UnusualActivityDetectionJob.scala:34-136 — featurize
  * the event stream, maintain a K-means model over count/time-bounded
  * windows re-parameterized at runtime from a watched control file, and
  * classify each event against the latest model; models and metadata go
  * to their own outputs).
  *
  * Spark assembly — TWO cooperating queries over the replayed input
  * (the SURVEY §7.3 plan; ActivityPipelineSpec pins the composition
  * semantics), exposed separately as [[modelQuery]] / [[classifyQuery]]
  * and composed by [[run]]:
  *
  *  1. MODEL query: featurized points ∪ raw control lines →
  *     [[StreamOps.clusterWindows]] (event-time window, min-count
  *     extension, max-count early fire, fire-time parameters — A6/W4/W8)
  *     → upsert the model stream (with the reference's ClusterMetadata
  *     drift columns folded on, R3) keyed by version + publish the
  *     latest model to the classifier through a [[ModelRef]].
  *  2. CLASSIFY query: the same featurized stream, classified per
  *     micro-batch against the LATEST published model, its centroids
  *     literals in [[KMeans.nearest]] (J14, the q62 plan shape)
  *     → upsert keyed by event_id, versioned by the classifying model.
  *
  * Both queries start through [[StreamOps.startInterpreted]]: their
  * micro-batches, sinks included, run interpreted.
  *
  * Events arriving before the first model fires are dropped — the
  * reference's inner-join drop semantics (ClassifyEventsFunction
  * .scala:16-47). The two queries RACE on a shared live source exactly
  * like the reference's connected streams do; each classified row
  * records the model version it was scored under.
  *
  * Why two queries, not one: the reference chains its enrichment and
  * window operators inside one Flink job; Spark's planner forbids a
  * second flatMapGroupsWithState downstream of another stateful operator
  * in one query, and classification needs the model OUTSIDE the
  * clustering state group, so the model chain and the classify chain
  * each run as their own query against the shared source — same
  * operators, same state, with the model handed across via the driver (a
  * few hundred doubles; the reference broadcasts its model the same way).
  *
  * Scale: clustering state is one bounded window buffer (≤ maxCount
  * points) in a single state group — the same parallelism-1 choice the
  * reference makes (UnusualActivityDetectionJob.scala:367,376);
  * classification is embarrassingly parallel (centroids are literals in
  * one projection — no shuffle, no state).
  */
object ActivityDetectionJob {

  /** Latest published model: (version, model), handed from the model
    * query to the classifier (the reference's broadcast model channel). */
  type ModelRef = java.util.concurrent.atomic.AtomicReference[Option[(Int, KMeans.Model)]]
  def newModelRef: ModelRef =
    new java.util.concurrent.atomic.AtomicReference(None)

  /** Stateless per-event featurization shared by BOTH queries (the model
    * sees exactly the space it will classify): (value, type code, hour of
    * day) — the job's analogue of the reference's feature vector
    * (UnusualActivityDetectionJob.scala:421-450). */
  def featurize(events: DataFrame): DataFrame =
    events.select(col("event_id"), col("ts"), col("user_id"),
      array(
        col("value"),
        when(col("event_type") === "purchase", 2.0)
          .when(col("event_type") === "click", 1.0).otherwise(0.0),
        hour(col("ts")).cast("double")).as("f"))

  /** Distributed nearest-centroid classification against model `m` —
    * [[KMeans.nearest]] over centroid literals, the q62/J14 plan shape. */
  def classifyDf(feats: DataFrame, m: KMeans.Model, version: Int): DataFrame = {
    val dists = m.clusters.map { c =>
      val f = c.centroid.indices.map(i => element_at(col("f"), i + 1))
      KMeans.sqDist(f, c.centroid).as(s"d${c.index}")
    }
    val (cluster, minD) = KMeans.nearest(m.clusters.indices.map(i => col(s"d$i")))
    feats.select(col("event_id") +: col("user_id") +: col("f") +: dists: _*)
      .withColumn("cluster", cluster)
      .select(col("event_id"), col("user_id"), col("cluster"),
        sqrt(minD).as("dist"), lit(version).as("model_version"))
  }

  private def toModel(m: ModelRow): KMeans.Model =
    KMeans.Model(m.centroids.zipWithIndex.map { case (c, i) =>
      KMeans.Cluster(i, c.toVector, m.weights(i))
    }.toVector)

  /** Recover the latest model from the durable store (`<outDir>/models`).
    * The reference restores its broadcast model from checkpointed state on
    * restart (reference: jobs/clustering/ClassifyEventsFunction.scala:16-47);
    * Spark's foreachBatch hands the model across queries through a
    * driver-side ref that a restart would otherwise reset to None — and
    * every event until the next window fire (up to a full 12 h window)
    * would be silently dropped even though the newest model sits in the
    * store. Seeding the ref from the store's `max(version)` row closes
    * that hole; only that one model row reaches the driver. */
  def bootstrapModel(spark: SparkSession, outDir: String): Option[(Int, KMeans.Model)] = {
    import spark.implicits._
    // a CORRUPT store logs a warning (KeyedUpsertSink.latest): the pre-model
    // drop window this bootstrap exists to close must not reopen silently
    KeyedUpsertSink.latest(spark, s"$outDir/models", "version")
      .flatMap(_.select("version", "n_points", "centroids", "weights", "labels",
        "avg_shift", "k_diff").as[ModelRow].collect().headOption)
      .map(m => (m.version, toModel(m)))
  }

  /** The clustering-model query: featurized points ∪ control lines →
    * clusterWindows → model store (`<outDir>/models`, keyed by version,
    * drift metadata included) + publish to `latest`. */
  def modelQuery(spark: SparkSession, events: DataFrame, ctrl: Option[DataFrame],
                 outDir: String, checkpointDir: String, latest: ModelRef,
                 k: Int = 4, decay: Double = 0.2,
                 windowSizeMs: Long = 12 * 3600 * 1000L,
                 minCount: Int = 20, maxCount: Int = 200,
                 watermark: String = "1 hour"): StreamingQuery = {
    import spark.implicits._
    // the watermark node sits on the POINTS branch only: points alone
    // drive the event clock
    val pts = featurize(events)
      .select(col("ts"), col("f").as("point"), lit("").as("ctrl"))
      .withWatermark("ts", watermark)
    // control lines join the keyed stream BELOW the watermark node (S5/W8)
    // with a far-future event time: never dropped by the stateful
    // operator's late-row filter (which evicts anything at-or-behind the
    // watermark — an epoch-0 stamp dies there), never advancing the
    // watermark, and sorting after their discovery batch's points — a
    // parameter applies from the moment its file is picked up, the
    // reference's racing broadcast-channel semantics.
    val in = ctrl.map { c =>
        pts.unionByName(c.select(
          timestamp_seconds(lit(253402300799L)).as("ts"), // 9999-12-31
          array().cast("array<double>").as("point"),
          col("value").as("ctrl")))
      }.getOrElse(pts)
      .as[ClusterIn]

    StreamOps.startInterpreted(spark)(
      StreamOps.clusterWindows(in, k, decay, windowSizeMs, minCount, maxCount)
        .writeStream.outputMode("append")
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: Dataset[ModelRow], _: Long) =>
          val rows = batch.collect().sortBy(_.version) // a handful of models
          rows.lastOption.foreach(m => latest.set(Some((m.version, toModel(m)))))
          if (rows.nonEmpty) {
            val s = batch.sparkSession
            KeyedUpsertSink.upsert(s, s"$outDir/models",
              s.createDataset(rows.toIndexedSeq).toDF(), Seq("version"), "version")
          }
        }
        .start())
  }

  /** The classification query: featurized events scored per micro-batch
    * against the latest published model → `<outDir>/classified` (keyed by
    * event_id, versioned by classifying model). */
  def classifyQuery(spark: SparkSession, events: DataFrame, outDir: String,
                    checkpointDir: String, latest: ModelRef): StreamingQuery =
    StreamOps.startInterpreted(spark)(
      featurize(events)
        .writeStream.outputMode("append")
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          latest.get() match {
            case Some((ver, m)) =>
              KeyedUpsertSink.upsert(batch.sparkSession, s"$outDir/classified",
                classifyDf(batch, m, ver), Seq("event_id"), "model_version")
            case None => () // before the first model: dropped (J14 semantics)
          }
        }
        .start())

  /** Compose the full job (both queries, racing on the shared source —
    * production semantics). Returns (model query, classify query). */
  def run(spark: SparkSession, events: DataFrame, ctrl: Option[DataFrame],
          outDir: String, checkpointDir: String,
          k: Int = 4, decay: Double = 0.2,
          windowSizeMs: Long = 12 * 3600 * 1000L,
          minCount: Int = 20, maxCount: Int = 200,
          watermark: String = "1 hour"): (StreamingQuery, StreamingQuery) =
    run(spark, events, events, ctrl, outDir, checkpointDir, k, decay,
      windowSizeMs, minCount, maxCount, watermark)

  /** Same composition with the two queries' inputs separately injectable
    * (each chain reads the source through its own scan in production too;
    * tests sequence the two frames for a deterministic interleaving). */
  def run(spark: SparkSession, eventsModel: DataFrame, eventsClassify: DataFrame,
          ctrl: Option[DataFrame], outDir: String, checkpointDir: String,
          k: Int, decay: Double, windowSizeMs: Long,
          minCount: Int, maxCount: Int,
          watermark: String): (StreamingQuery, StreamingQuery) = {
    val latest = newModelRef
    bootstrapModel(spark, outDir).foreach(m => latest.set(Some(m)))
    val modelQ = modelQuery(spark, eventsModel, ctrl, outDir, s"$checkpointDir/model",
      latest, k, decay, windowSizeMs, minCount, maxCount, watermark)
    val classifyQ = classifyQuery(spark, eventsClassify, outDir,
      s"$checkpointDir/classify", latest)
    (modelQ, classifyQ)
  }

  /** CLI: ActivityDetectionJob <sfDir> <outDir> <checkpointDir>
    * [speedup] [runSeconds] [controlDir]. `controlDir` is the watched
    * S5 control-file directory (`k=`/`decay=`/`label:i=` lines). */
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, ckpt) = (args(0), args(1), args(2))
    val speedup = args.lift(3).getOrElse("10000")
    val runSec = args.lift(4).map(_.toLong).getOrElse(Long.MaxValue)
    val spark = graft.Sessions.local("activity-detection")
    val events = ReplaySource.stream(spark, sfDir, speedup)
    val ctrl = args.lift(5).map(d => spark.readStream.text(d))
    val (modelQ, classifyQ) = run(spark, events, ctrl, outDir, ckpt)
    try Jobs.await(spark, runSec) finally { modelQ.stop(); classifyQ.stop(); spark.stop() }
  }
}
