package graft

import graft.streaming.OnlineClassifier
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** [[OnlineClassifier]] — mini-batch perceptron continuation with the
  * durable weight store. Expected values come from an independent
  * driver-side perceptron (not the production aggregate), so a bug in the
  * declarative epoch cannot self-verify.
  */
class OnlineClassifierSpec extends GraftSuite {

  import spark.implicits._

  private val NX = 2

  /** Driver-side reference: one batch epoch over rows, seeded with w. */
  private def refEpoch(w: Vector[Long], rows: Seq[(Long, Long)]): Vector[Long] = {
    val upd = rows.filter { case (y, x1) => y * (w(0) + w(1) * x1) <= 0 }
    Vector(w(0) + upd.map(_._1).sum,
      w(1) + upd.map { case (y, x1) => y * x1 }.sum)
  }

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  test("weights fold across micro-batches and survive a restart") {
    implicit val sq = spark.sqlContext
    val out = tmp("graft_oc_out"); val ckpt = tmp("graft_oc_ckpt")
    val b1 = Seq((1L, 9L), (-1L, 2L), (1L, 7L))
    val b2 = Seq((-1L, 3L), (1L, 8L))
    val b3 = Seq((1L, 1L), (-1L, 6L))

    // run 1: two batches
    val in1 = MemoryStream[(Long, Long)]
    val ref1 = OnlineClassifier.newWRef
    ref1.set(OnlineClassifier.bootstrap(spark, out, NX)) // cold: None
    assert(ref1.get().isEmpty)
    val q = OnlineClassifier.run(spark,
      in1.toDF().select(col("_1").as("y"), lit(1L).as("x0"), col("_2").as("x1")),
      NX, out, ckpt, ref1)
    try {
      in1.addData(b1: _*); q.processAllAvailable()
      in1.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()

    val after2 = refEpoch(refEpoch(Vector(0L, 0L), b1), b2)
    assert(ref1.get().map(_._2).contains(after2))

    // the crash came between the upsert's two renames: the store is whole
    // in weights__tmp only
    java.nio.file.Files.move(java.nio.file.Path.of(s"$out/weights"),
      java.nio.file.Path.of(s"$out/weights__tmp"))
    // restart: a FRESH ref bootstraps from the store, training continues
    val in2 = MemoryStream[(Long, Long)]
    val ref2 = OnlineClassifier.newWRef
    ref2.set(OnlineClassifier.bootstrap(spark, out, NX))
    assert(ref2.get().map(_._2).contains(after2), "bootstrap lost the model")
    val ckpt2 = tmp("graft_oc_ckpt2")
    val q2 = OnlineClassifier.run(spark,
      in2.toDF().select(col("_1").as("y"), lit(1L).as("x0"), col("_2").as("x1")),
      NX, out, ckpt2, ref2)
    try {
      in2.addData(b3: _*); q2.processAllAvailable()
    } finally q2.stop()

    val after3 = refEpoch(after2, b3)
    assert(ref2.get().map(_._2).contains(after3))

    // the store's max-version row equals the live ref
    assert(OnlineClassifier.bootstrap(spark, out, NX).map(_._2).contains(after3))
    // and history is retained: one row per trained batch
    assert(spark.read.parquet(s"$out/weights").count() == 3)
  }

  test("a same-checkpoint replay of already-folded batches is a no-op") {
    implicit val sq = spark.sqlContext
    val out = tmp("graft_oc3_out"); val ckpt = tmp("graft_oc3_ckpt")
    val b1 = Seq((1L, 9L), (-1L, 2L), (1L, 7L))
    val b2 = Seq((-1L, 3L), (1L, 8L))
    val b3 = Seq((1L, 1L), (-1L, 6L))

    // run 1: two batches fold into the store (versions 0 and 1)
    val in1 = MemoryStream[(Long, Long)]
    val ref1 = OnlineClassifier.newWRef
    val q = OnlineClassifier.run(spark,
      in1.toDF().select(col("_1").as("y"), lit(1L).as("x0"), col("_2").as("x1")),
      NX, out, ckpt, ref1)
    try {
      in1.addData(b1: _*); q.processAllAvailable()
      in1.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val after2 = refEpoch(refEpoch(Vector(0L, 0L), b1), b2)
    assert(ref1.get().map(_._2).contains(after2))

    // crash-restart simulation: SAME checkpoint (the marker binds base=0),
    // a bootstrapped ref at stored max version 1, and an at-least-once
    // source that REDELIVERS b1 and b2 (batchIds 0,1 -> versions 0,1 <= 1)
    // before the genuinely new b3 (batchId 2 -> version 2). The replayed
    // deliveries must not re-train — foldback would double-count them.
    val ckpt2 = tmp("graft_oc3_ckpt2")
    val fs = new org.apache.hadoop.fs.Path(ckpt2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mk = fs.create(new org.apache.hadoop.fs.Path(s"$ckpt2/graft-version-base"), false)
    try mk.writeLong(0L) finally mk.close()
    val in2 = MemoryStream[(Long, Long)]
    val ref2 = OnlineClassifier.newWRef
    ref2.set(OnlineClassifier.bootstrap(spark, out, NX))
    assert(ref2.get().map(_._1).contains(1L))
    val q2 = OnlineClassifier.run(spark,
      in2.toDF().select(col("_1").as("y"), lit(1L).as("x0"), col("_2").as("x1")),
      NX, out, ckpt2, ref2)
    try {
      in2.addData(b1: _*); q2.processAllAvailable() // replayed -> skipped
      in2.addData(b2: _*); q2.processAllAvailable() // replayed -> skipped
      assert(ref2.get().map(_._2).contains(after2), "replay must not retrain")
      in2.addData(b3: _*); q2.processAllAvailable() // new -> trains
    } finally q2.stop()
    assert(ref2.get().map(_._2).contains(refEpoch(after2, b3)))
    // store: versions 0,1 from run 1 plus exactly one new row (version 2)
    assert(spark.read.parquet(s"$out/weights").count() == 3)
  }

  test("an empty micro-batch leaves the weights untouched") {
    implicit val sq = spark.sqlContext
    val out = tmp("graft_oc2_out"); val ckpt = tmp("graft_oc2_ckpt")
    val in = MemoryStream[(Long, Long)]
    val ref = OnlineClassifier.newWRef
    val q = OnlineClassifier.run(spark,
      in.toDF().select(col("_1").as("y"), lit(1L).as("x0"), col("_2").as("x1"))
        .filter(col("x1") >= 0), NX, out, ckpt, ref)
    try {
      in.addData((1L, 5L)); q.processAllAvailable()
      val w1 = ref.get()
      in.addData((1L, -5L)); q.processAllAvailable() // filtered out → empty
      assert(ref.get() == w1)
    } finally q.stop()
  }
}
