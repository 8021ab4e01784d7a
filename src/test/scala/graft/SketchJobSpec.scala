package graft

import graft.jobs.SketchJob
import graft.sources.KeyedUpsertSink
import org.apache.spark.sql.functions._

/** Persisted-sketch maintenance (SketchJob): the register table must be a
  * true mergeable summary — folding deltas reproduces the full rebuild
  * exactly, maintenance is idempotent, and estimates come off the store
  * without corpus access. */
class SketchJobSpec extends GraftSuite {

  private def docs = Tables.documents(spark, sf)

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.select(col("source"), col("bucket"), col("reg")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.get(2).toString.toLong)).toSet

  test("fold(build(A), build(B)) equals build(A ∪ B) byte-for-byte") {
    val isB = graft.functions.Hashes.base32(col("doc_id").cast("string")) % 5 === 0
    val a = SketchJob.buildRegisters(docs.filter(!isB))
    val b = SketchJob.buildRegisters(docs.filter(isB))
    val store = java.nio.file.Files.createTempDirectory("graft_sketch_fold").toString + "/regs"
    Seq(a, b).foreach(KeyedUpsertSink.upsert(spark, store, _, Seq("source", "bucket"), "reg"))
    val folded = asSet(KeyedUpsertSink.read(spark, store).get)
    val full = asSet(SketchJob.buildRegisters(docs))
    assert(folded.nonEmpty && folded == full,
      s"fold drifted from rebuild: ${folded.size} vs ${full.size} registers")
  }

  test("maintain: incremental store equals the full rebuild; re-folding is a no-op") {
    val store = java.nio.file.Files.createTempDirectory("graft_sketch").toString + "/regs"
    val isB = graft.functions.Hashes.base32(col("doc_id").cast("string")) % 5 === 0
    SketchJob.maintain(spark, docs.filter(!isB), store)   // day 1
    SketchJob.maintain(spark, docs.filter(isB), store)    // day 2 delta
    val incremental = asSet(spark.read.parquet(store))
    assert(incremental == asSet(SketchJob.buildRegisters(docs)))
    // replaying the same delta must change nothing (per-bucket max)
    SketchJob.maintain(spark, docs.filter(isB), store)
    assert(asSet(spark.read.parquet(store)) == incremental)
  }

  test("estimates come off the store alone and stay in range") {
    val regs = SketchJob.buildRegisters(docs)
    val est = SketchJob.estimates(regs).collect()
    val nSources = docs.select(col("source")).distinct().count()
    assert(est.length.toLong == nSources)
    est.foreach { r =>
      assert(r.getLong(r.fieldIndex("m_used")) <= 256L)
      assert(r.getLong(r.fieldIndex("est_spans")) > 0L)
    }
  }
}
