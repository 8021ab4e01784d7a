package graft

import graft.functions.KMeans
import graft.streaming.StreamOps
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** End-to-end Task 3 (reference: UnusualActivityDetectionJob, SURVEY §3.3):
  * featurized text stream → K-means clustering window (model stream) →
  * classification of the SAME event stream against the latest model — the
  * reference's broadcast-model join J14 realized as the SURVEY §7.3 plan:
  * "foreachBatch: load current model (driver var), classify". Events
  * arriving before the first model exist are dropped (reference:
  * ClassifyEventsFunction.scala:16-47 inner-drop semantics).
  */
class ActivityPipelineSpec extends GraftSuite {

  test("clustering model stream + latest-model classification compose deterministically") {
    import spark.implicits._
    implicit val sq = spark.sqlContext

    // featurized points from the documents table, deterministic order
    val feats = graft.operators.ActivityPack.queries("q60_text_features")(spark, sf)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))))

    @volatile var currentModel: Option[(Int, KMeans.Model)] = None

    // job 1: model stream (single state group, count trigger at 100, a
    // window that never ends). Points carry strictly increasing times from
    // 1 s (t = 0 equals the initial watermark and would drop as late), so
    // the operator's (ts, point) order is the document order
    val pointStream = MemoryStream[graft.streaming.ClusterIn]
    val modelQ = StreamOps.clusterWindows(
        pointStream.toDS().withWatermark("ts", "0 seconds"), k = 3, decay = 0.2,
        windowSizeMs = 3650L * 24 * 3600 * 1000, minCount = 0, maxCount = 100)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[graft.streaming.ModelRow], _: Long) =>
        batch.orderBy(col("version")).collect().lastOption.foreach { m =>
          currentModel = Some((m.version, KMeans.Model(
            m.centroids.zipWithIndex.map { case (c, i) =>
              KMeans.Cluster(i, c.toVector, m.weights(i))
            }.toVector)))
        }
      }.start()

    // job 2: classification against the latest model (J14)
    val docStream = MemoryStream[(Long, Seq[Double])]
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Int)]
    val classifyQ = docStream.toDS().toDF("doc_id", "f")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        currentModel match {
          case Some((ver, m)) =>
            batch.collect().foreach { r =>
              val f = r.getSeq[Double](1).toVector
              results += ((r.getLong(0), m.classify(f).index, ver))
            }
          case None => () // before the first model: dropped (J14 semantics)
        }
      }.start()

    try {
      val points = feats.zipWithIndex.map { case ((_, p), i) =>
        graft.streaming.ClusterIn(new java.sql.Timestamp((i + 1) * 1000L), p, "")
      }
      feats.grouped(120).zip(points.grouped(120)).foreach { case (c, pc) =>
        pointStream.addData(pc.toSeq); modelQ.processAllAvailable()
        docStream.addData(c.map(t => (t._1, t._2))); classifyQ.processAllAvailable()
      }
    } finally { modelQ.stop(); classifyQ.stop() }

    // model versions fired at every 100 buffered points: 500 docs -> 5 models
    assert(currentModel.map(_._1).contains(feats.length / 100))
    // chunk 1 (120 pts) classified under v1, later chunks under the then-latest
    val byVersion = results.groupBy(_._3).view.mapValues(_.size).toMap
    assert(results.nonEmpty && byVersion.keySet.min >= 1)
    // recompute expected: replay chunks, tracking the model the classifier saw
    var buf = Seq.empty[Seq[Double]]
    var model: Option[KMeans.Model] = None
    val expected = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    feats.grouped(120).foreach { c =>
      buf = buf ++ c.map(_._2)
      while (buf.length >= 100) {
        val (window, rest) = buf.splitAt(100)
        val pts = window.map(_.toVector)
        val init = model.map(_.clusters.map(_.centroid))
          .getOrElse(KMeans.bootstrap(pts, 3, 137L))
        val clustered = KMeans.cluster(pts, init)
        model = Some(model.map(_.update(clustered, 0.2)).getOrElse(clustered))
        buf = rest
      }
      model.foreach { m => c.foreach { t => expected += ((t._1, m.classify(t._2.toVector).index)) } }
    }
    val gotPairs = results.map(t => (t._1, t._2)).toSeq
    assert(gotPairs == expected.toSeq, s"first diff: ${gotPairs.zip(expected).find(p => p._1 != p._2)}")
  }

  test("control stream re-parameterizes the RUNNING clustering query (k read at fire time)") {
    // reference: UnusualActivityDetectionJob.scala:352-359 broadcasts the
    // parsed control params into the window function, which reads k/decay/
    // labels at fire time (KMeansClusterFunction.scala:230-281 + :382-405).
    // Here: two windows fire under k=4, then a raw `k=6` control line is
    // injected into the running query - the NEXT fired model must have 6
    // clusters, without restarting anything.
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[graft.streaming.ClusterIn]
    def pts(baseSec: Long): Seq[graft.streaming.ClusterIn] =
      (0 until 8).map(i => graft.streaming.ClusterIn(
        new java.sql.Timestamp((baseSec + i) * 1000L),
        Seq((i % 5).toDouble, (i % 3).toDouble, i.toDouble), ""))
    def ctrl(sec: Long, line: String) = graft.streaming.ClusterIn(
      new java.sql.Timestamp(sec * 1000L), Seq.empty, line)
    val q = StreamOps.clusterWindows(
        stream.toDS().withWatermark("ts", "0 seconds"),
        k = 4, decay = 0.2, windowSizeMs = 600000L, minCount = 2, maxCount = 8)
      .writeStream.format("memory").queryName("cw_ctrl_out")
      .outputMode("append").start()
    try {
      stream.addData(pts(1L)); q.processAllAvailable()   // early-fires v1 (k=4)
      stream.addData(pts(10L)); q.processAllAvailable()  // early-fires v2 (k=4)
      // the running query is re-parameterized by raw S5 control lines
      stream.addData(ctrl(18L, "k=6"), ctrl(18L, "label:0=anomalous"))
      q.processAllAvailable()
      stream.addData(pts(20L)); q.processAllAvailable()  // early-fires v3 (k=6)
      val rows = spark.table("cw_ctrl_out").orderBy("version").collect()
      assert(rows.length == 3, s"expected 3 models, got ${rows.length}")
      val kOf = rows.map(_.getSeq[Any](2).length).toSeq
      assert(kOf == Seq(4, 4, 6),
        s"third model must honor the injected k=6: cluster counts were $kOf")
      assert(rows.forall(_.getInt(1) == 8)) // every window fired at maxCount
      assert(rows(2).getSeq[Double](3).length == 6, "weights must match the new k")
      assert(rows(2).getSeq[String](4).head == "anomalous",
        "label:0 control parameter must label cluster 0 at the next fire")
      assert(rows(1).getSeq[String](4).forall(_.isEmpty),
        "labels must be empty before the control line arrives")
      // ClusterMetadata side output: first fire has no previous model
      // (shift 0, k_diff = k); the k=6 fire reports the +2 cluster delta
      // and a positive drift vs the previous model
      assert(rows(0).getDouble(5) == 0.0 && rows(0).getInt(6) == 4)
      assert(rows(1).getInt(6) == 0 && rows(1).getDouble(5) > 0.0)
      assert(rows(2).getInt(6) == 2)
    } finally q.stop()
  }

  test("control params cover the whole surface: k before first fire, decay=0 severs history") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[graft.streaming.ClusterIn]
    def pts(baseSec: Long): Seq[graft.streaming.ClusterIn] =
      (0 until 8).map(i => graft.streaming.ClusterIn(
        new java.sql.Timestamp((baseSec + i) * 1000L),
        Seq((i % 5).toDouble, (i % 3).toDouble), ""))
    def ctrl(sec: Long, line: String) = graft.streaming.ClusterIn(
      new java.sql.Timestamp(sec * 1000L), Seq.empty, line)
    val q = StreamOps.clusterWindows(
        stream.toDS().withWatermark("ts", "0 seconds"),
        k = 2, decay = 0.5, windowSizeMs = 600000L, minCount = 2, maxCount = 8)
      .writeStream.format("memory").queryName("cw_ctrl2_out")
      .outputMode("append").start()
    try {
      // k=5 lands BEFORE any point: the FIRST model must honor it (params
      // are read at fire time, not at query start)
      stream.addData(ctrl(1L, "k=5")); q.processAllAvailable()
      stream.addData(pts(2L)); q.processAllAvailable()
      // decay=0: the next model's weights must be pure assignment counts
      // (history contributes 0 — reference ClusterModel.update semantics)
      stream.addData(ctrl(15L, "decay=0")); q.processAllAvailable()
      stream.addData(pts(20L)); q.processAllAvailable()
      val rows = spark.table("cw_ctrl2_out").orderBy("version").collect()
      assert(rows.length == 2)
      assert(rows(0).getSeq[Any](2).length == 5, "k=5 must apply to the first fire")
      val w2 = rows(1).getSeq[Double](3)
      assert(w2.sum == 8.0, s"decay=0 weights must sum to the window count: $w2")
    } finally q.stop()
  }
}
