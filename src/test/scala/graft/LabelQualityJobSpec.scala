package graft

import graft.jobs.LabelQualityJob
import graft.operators.CurationPack
import graft.sources.KeyedUpsertSink
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The streaming labeling-campaign monitor must converge to the batch
  * q134/q136 ground truth: counts folded across micro-batches equal one
  * global count, and the live scorecard equals q136's row — including
  * across a mid-campaign restart (the version-guarded fold makes the
  * sum-merge exactly-once under batch replay). */
class LabelQualityJobSpec extends GraftSuite {

  private def eventCols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")

  test("streamed count folds + live scorecard equal the batch campaign, across a restart") {
    val base = Files.createTempDirectory("graft_labelq").toString
    val in = s"$base/in"; val ckpt = s"$base/ckpt"
    val store = s"$base/store"; val score = s"$base/score"
    val all = Tables.events(spark, sf).select(eventCols.map(col): _*)
      .collect()
    val chunks = all.grouped(all.length / 3 + 1).toSeq

    def runOnce(cs: Seq[Array[org.apache.spark.sql.Row]]): Unit = {
      cs.foreach { c =>
        spark.createDataFrame(
          spark.sparkContext.parallelize(c.toSeq),
          Tables.events(spark, sf).select(eventCols.map(col): _*).schema)
          .write.mode("append").parquet(in)
      }
      val sch = spark.read.parquet(in).schema
      val q = LabelQualityJob.run(spark,
        spark.readStream.schema(sch).parquet(in), store, score, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    runOnce(chunks.take(2)) // "crash" mid-campaign
    runOnce(chunks.drop(2)) // restart from the checkpoint

    val gotCounts = spark.read.parquet(store)
      .select(col("item_id"), col("label"), col("c"))
      .orderBy(col("item_id"), col("label")).collect()
    val wantCounts = CurationPack.ratingCountsOf(Tables.events(spark, sf))
      .orderBy(col("item_id"), col("label")).collect()
    assert(gotCounts.sameElements(wantCounts))

    val gotScore = spark.read.parquet(score).collect()
    val wantScore = CurationPack.queries("q136_fleiss_kappa")(spark, sf).collect()
    assert(gotScore.sameElements(wantScore))
  }

  test("a fresh checkpoint against a surviving store continues it instead of freezing") {
    // run 1 folds chunk A under ckpt1; run 2 gets a NEW checkpoint and a
    // NEW input dir with chunk B — its batchIds restart at 0, so without
    // the checkpoint-bound version base every fold would lose the version
    // tie against run 1's rows and the store would silently freeze
    val base = Files.createTempDirectory("graft_labelq_fresh").toString
    val store = s"$base/store"; val score = s"$base/score"
    val all = Tables.events(spark, sf).select(eventCols.map(col): _*).collect()
    val (a, b) = all.splitAt(all.length / 2)

    def runOnce(rows: Array[org.apache.spark.sql.Row], tag: String): Unit = {
      val in = s"$base/in_$tag"
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq),
        Tables.events(spark, sf).select(eventCols.map(col): _*).schema)
        .write.parquet(in)
      val q = LabelQualityJob.run(spark,
        spark.readStream.schema(spark.read.parquet(in).schema).parquet(in),
        store, score, s"$base/ckpt_$tag")
      try q.processAllAvailable() finally q.stop()
    }
    runOnce(a, "one")
    runOnce(b, "two") // fresh checkpoint, batchIds restart at 0

    val got = spark.read.parquet(store)
      .select(col("item_id"), col("label"), col("c"))
      .orderBy(col("item_id"), col("label")).collect()
    val want = CurationPack.ratingCountsOf(Tables.events(spark, sf))
      .orderBy(col("item_id"), col("label")).collect()
    assert(got.sameElements(want),
      "run 2's folds must outrank run 1's rows and extend the counts")

    // a store whose first upsert had no rows holds a zero-row table: its
    // base is 0, as for a missing store
    import spark.implicits._
    val empty = s"$base/empty"
    KeyedUpsertSink.upsert(spark, empty,
      Seq.empty[(Long, String, Long, Long)].toDF("item_id", "label", "c", "version"),
      Seq("item_id", "label"), "version")
    assert(spark.read.parquet(empty).count() == 0L)
    assert(KeyedUpsertSink.versionBase(spark, s"$base/ckpt_empty", empty) == 0L)
  }

  test("a replayed fold is a no-op: the version tie keeps the single-delivery counts") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_labelq_replay").toString
    val store = s"$base/store"
    val delta = Seq((1L, "view", 2L), (2L, "click", 1L))
      .toDF("item_id", "label", "c")
    def addCounts(version: Long): Unit =
      KeyedUpsertSink.addCounts(spark, store, delta, Seq("item_id", "label"), version)
    addCounts(0L)
    addCounts(0L) // replay
    val got = spark.read.parquet(store)
      .select(col("item_id"), col("label"), col("c"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((1L, "view", 2L), (2L, "click", 1L)),
      "replayed batch must not double the counts")
    // a crash between the upsert's two renames: the standing counts are
    // whole in store__tmp and must still be added to
    Files.move(java.nio.file.Path.of(store), java.nio.file.Path.of(store + "__tmp"))
    addCounts(1L) // a real new batch
    val got2 = spark.read.parquet(store)
      .select(col("item_id"), col("label"), col("c"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got2 == Set((1L, "view", 4L), (2L, "click", 2L)))
  }
}
