package graft

import graft.operators.{CurationPack, PipelinePack}
import graft.streaming.{CurDoc, CurateStream, ShardDoc, ShardState}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** q119's streaming twin: verdicts assembled from the live fingerprint
  * index + per-batch repetition/quality scoring must equal the batch
  * curation verdict under id-ordered ingest — including across a
  * mid-ingest restart (the index state is checkpoint-consistent, so a
  * replayed batch re-derives identical verdicts and the version upsert
  * absorbs them). The full-pipeline form additionally routes each
  * batch's keepers to their shard file and must reproduce the batch
  * layout. */
class CurateStreamSpec extends GraftSuite {

  private def docCols = Seq("doc_id", "lang", "source", "text", "n_chars")

  private def allDocs = {
    import spark.implicits._
    Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        col("n_chars").cast("long").as("n_chars"))
      .orderBy(col("doc_id")).as[CurDoc].collect()
  }

  test("streamed verdicts equal batch q119 under id-ordered ingest, across a restart") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_curstream").toString
    val in = s"$base/in"; val ckpt = s"$base/ckpt"
    val out = s"$base/verdicts"
    // id-ordered ingest: q30's global-min canonical == first-seen
    val all = allDocs
    val chunks = all.grouped(all.length / 3 + 1).toSeq

    def runOnce(cs: Seq[Array[CurDoc]]): Unit = {
      cs.foreach(c => spark.createDataset(c.toSeq).write.mode("append").parquet(in))
      val sch = spark.read.parquet(in).schema
      val q = CurateStream.run(spark,
        spark.readStream.schema(sch).parquet(in).as[CurDoc], out, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    runOnce(chunks.take(2)) // "crash" mid-ingest
    runOnce(chunks.drop(2)) // restart from the checkpoint

    val got = spark.read.parquet(out)
      .select(col("doc_id"), col("reason"), col("keep"))
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    val want = CurationPack.queries("q119_curation_verdict")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    assert(got.length == want.length,
      s"${got.length} streamed verdicts vs ${want.length} batch verdicts")
    assert(got.sameElements(want))
    // the stream exercised every verdict branch the batch data has
    assert(got.map(_._2).distinct.sorted.sameElements(
      want.map(_._2).distinct.sorted))
    // sf0.001 carries no exact duplicates — exercise the live index with
    // a synthetic copy of an already-ingested doc (new id, same text)
    runOnce(Seq(Array(CurDoc(999999999L, "en", all.head.source,
      all.head.text, all.head.n_chars))))
    val dup = spark.read.parquet(out)
      .filter(col("doc_id") === 999999999L).head()
    assert(dup.getString(1) == "exact_dup" && !dup.getBoolean(2),
      "a re-ingested text must fail the standing fingerprint index")
  }

  test("full live pipeline: shard assignments equal the batch q163 layout, across a restart") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_curshard").toString
    val in = s"$base/in"; val ckpt = s"$base/ckpt"
    val vOut = s"$base/verdicts"; val sOut = s"$base/shards"
    val stateStore = s"$base/shard_state"
    val all = allDocs
    val chunks = all.grouped(all.length / 3 + 1).toSeq

    def runOnce(cs: Seq[Array[CurDoc]]): Unit = {
      cs.foreach(c => spark.createDataset(c.toSeq).write.mode("append").parquet(in))
      val sch = spark.read.parquet(in).schema
      val q = CurateStream.runWithShards(spark,
        spark.readStream.schema(sch).parquet(in).as[CurDoc],
        vOut, sOut, stateStore, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    runOnce(chunks.take(2)) // "crash" mid-ingest
    runOnce(chunks.drop(2)) // restart from the checkpoint

    // the live per-file summary must equal the oracle-checked q163 —
    // BUT q163 lays out q161's survivors (verdict ∘ near-dup-rep policy)
    // while the live pipeline ships verdict keepers (near-dup clustering
    // is a corpus-level pass, not an ingest-time one). Compare against
    // the batch recurrence over the SAME keeper set:
    val keepers = CurationPack.queries("q119_curation_verdict")(spark, sf)
      .filter(col("keep")).select(col("doc_id"))
    val wantAssign = graft.jobs.CurateJob.shardManifest(
        Tables.documents(spark, sf)
          .join(keepers, "doc_id")
          .select(col("doc_id"), col("source"), col("n_chars")))
      .select(col("source"), col("doc_id"), col("nb"), col("file_idx"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val gotAssign = spark.read.parquet(sOut)
      .select(col("source"), col("doc_id"), col("nb"), col("file_idx"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(gotAssign == wantAssign,
      s"${gotAssign.size} live assignments vs ${wantAssign.size} batch")
    assert(gotAssign.values.exists(_._2 > 0L), "layout opened >1 file")
    // and the verdict store matches q119 exactly, as in the verdict test
    val v = spark.read.parquet(vOut)
      .select(col("doc_id"), col("reason")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val w = CurationPack.queries("q119_curation_verdict")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v == w)
  }

  test("fingerprint index over 4 micro-batches equals batch q30's exact dedup") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val docs = allDocs.toSeq
    val stream = MemoryStream[CurDoc]
    val q = CurateStream.dupTags(stream.toDS()).writeStream.format("memory")
      .queryName("cur_tags").outputMode("append").start()
    try {
      docs.grouped(docs.length / 4 + 1).foreach { c =>
        stream.addData(c); q.processAllAvailable()
      }
      val got = spark.table("cur_tags").select(col("doc_id"), col("is_dup"))
        .collect().map(r => (r.getLong(0), r.getBoolean(1))).sorted.toSeq
      // id-ordered ingest: first-seen canonical == q30's global min doc_id
      val want = graft.operators.TextPack.queries("q30_dedup_exact")(spark, sf)
        .select(col("doc_id"), col("is_dup"))
        .collect().map(r => (r.getLong(0), r.getBoolean(1))).sorted.toSeq
      assert(got.nonEmpty && got == want,
        s"${got.size} streamed tags vs ${want.size} batch verdicts diverge")
    } finally q.stop()
  }

  test("within-batch duplicates: smallest doc_id wins the empty slot") {
    def doc(id: Long) = CurDoc(id, "en", "src", "same text", 9L)
    val (st, out) = CurateStream.foldFp(None, Seq(doc(7L), doc(3L)))
    assert(st.contains(3L))
    assert(out.map(t => t.doc_id -> t.is_dup).toMap == Map(3L -> false, 7L -> true))
    // and a standing canonical survives any later batch
    val (st2, out2) = CurateStream.foldFp(Some(3L), Seq(doc(1L)))
    assert(st2.contains(3L))
    assert(out2.head.is_dup, "first-seen verdicts never retract")
  }

  test("an oversized doc occupies its own file and the sequence moves on") {
    def doc(id: Long, nb: Long) = ShardDoc("s", id, nb)
    val rows = Seq(doc(1, 900), doc(2, 5000), doc(3, 900), doc(4, 1000))
    val (st, out) = CurateStream.foldGroup(None, rows, 2000L)
    assert(out.map(a => a.doc_id -> a.file_idx) ==
      Seq(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 2L))
    assert(st.contains(ShardState(2L, 1900L)))
  }
}
