package graft

import graft.jobs.DriftMonitorJob
import graft.operators.SimilarityPack
import graft.sources.KeyedUpsertSink
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** q156's streaming twin: PSI re-derived from incrementally-folded
  * new-snapshot bucket counts (static baseline) must equal the batch
  * drift table — including across a mid-stream restart (the
  * version-guarded fold makes the count-merge exactly-once under batch
  * replay). */
class DriftStreamSpec extends GraftSuite {

  test("folded streaming PSI equals batch q156, across a restart") {
    val base = Files.createTempDirectory("graft_drift").toString
    val in = s"$base/in"; val ckpt = s"$base/ckpt"
    val store = s"$base/store"; val psiOut = s"$base/psi"
    // the NEW snapshot (q156's side b) arrives as a stream; the OLD
    // snapshot (side a) is the static baseline
    val newSnap = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("embedding"))
    val all = newSnap.collect()
    val chunks = all.grouped(all.length / 3 + 1).toSeq
    val baseline = SimilarityPack.driftBaseline(spark, sf)

    def runOnce(cs: Seq[Array[org.apache.spark.sql.Row]]): Unit = {
      cs.foreach { c =>
        spark.createDataFrame(
          spark.sparkContext.parallelize(c.toSeq), newSnap.schema)
          .write.mode("append").parquet(in)
      }
      val sch = spark.read.parquet(in).schema
      val q = DriftMonitorJob.run(spark,
        spark.readStream.schema(sch).parquet(in), baseline,
        store, psiOut, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    runOnce(chunks.take(2)) // "crash" mid-refresh
    runOnce(chunks.drop(2)) // restart from the checkpoint

    val got = spark.read.parquet(psiOut)
      .select(col("sig"), col("c_a"), col("c_b"), col("psi_micro"))
      .orderBy(col("sig")).collect()
    val want = SimilarityPack.queries("q156_embedding_drift")(spark, sf)
      .collect()
    assert(got.length == want.length,
      s"${got.length} streamed buckets vs ${want.length} batch buckets")
    assert(got.sameElements(want))
    assert(want.exists(r => r.getLong(1) > 0 && r.getLong(2) > 0),
      "data exercises buckets populated on both sides")
  }

  test("a replayed count fold is a no-op: the version tie keeps single-delivery counts") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_drift_replay").toString
    val store = s"$base/store"
    val delta = Seq((3L, 5L), (7L, 2L)).toDF("sig", "c")
    def addCounts(version: Long): Unit =
      KeyedUpsertSink.addCounts(spark, store, delta, Seq("sig"), version)
    addCounts(0L)
    addCounts(0L) // replay
    val got = spark.read.parquet(store).select(col("sig"), col("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((3L, 5L), (7L, 2L)),
      "replayed batch must not double the bucket counts")
    addCounts(1L) // a real new batch
    val got2 = spark.read.parquet(store).select(col("sig"), col("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 == Set((3L, 10L), (7L, 4L)))
  }
}
