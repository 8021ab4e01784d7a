package graft

import graft.functions.TextLsh
import graft.streaming.{DedupCand, DedupStream, DocEv}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming incremental MinHash+LSH dedup ([[DedupStream]]) — the
  * streaming twin of q32/q105. The stateless stage (signature + banding)
  * is shared between batch and stream, so these tests pin the KEYED part:
  * first-seen-canonical semantics, re-batching invariance, and the
  * windowed verdict rollup with watermark eviction. */
class DedupStreamSpec extends GraftSuite {

  /** sf0.001 documents with synthetic arrival times: doc_id ordered,
    * one per minute — arrival order == id order, deterministic. */
  private def docEvs(n: Int): Seq[DocEv] = {
    import spark.implicits._
    val base = 1700000000000L
    Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).orderBy(col("doc_id")).limit(n)
      .as[(Long, String)].collect()
      .map { case (id, t) => DocEv(id, new java.sql.Timestamp(base + id * 60000L), t) }
      .toIndexedSeq
  }

  /** The expected candidate set: a plain fold of the SHARED stateless
    * band rows in arrival order — per bucket, first doc is canonical
    * (cand_of = -1), later docs match it by equal-slot fraction. */
  private def expectedCands(docs: Seq[DocEv]): Seq[DedupCand] = {
    import spark.implicits._
    val rows = DedupStream.bandRows(docs.toDS()).collect()
      .sortBy(b => (b.ts.getTime, b.doc_id, b.band))
    val canon = scala.collection.mutable.Map.empty[String, (Long, Seq[Long])]
    rows.flatMap { b =>
      canon.get(b.bkey) match {
        case None =>
          canon(b.bkey) = (b.doc_id, b.sig)
          Some(DedupCand(b.doc_id, b.ts, b.band, -1L, 0.0))
        case Some((first, fsig)) if first != b.doc_id =>
          val eq = b.sig.iterator.zip(fsig.iterator).count { case (x, y) => x == y }
          Some(DedupCand(b.doc_id, b.ts, b.band, first, eq.toDouble / TextLsh.minHash.numHashes))
        case _ => None
      }
    }.toIndexedSeq
  }

  private def key(c: DedupCand) = (c.doc_id, c.band, c.cand_of, c.est_sim)

  test("incremental candidates equal the arrival-ordered fold of the shared band rows") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = docEvs(120)
    val stream = MemoryStream[DocEv]
    val q = DedupStream.candidates(stream.toDS())
      .writeStream.format("memory").queryName("dedup_cand_one")
      .outputMode("append").start()
    try {
      stream.addData(docs)
      q.processAllAvailable()
      val got = spark.table("dedup_cand_one").as[DedupCand].collect()
      val want = expectedCands(docs)
      assert(got.length == want.length,
        s"emitted ${got.length} candidate rows, expected ${want.length}")
      assert(got.map(key).sorted.sameElements(want.map(key).sorted))
      // and the near-dup structure is non-trivial on this corpus
      assert(want.exists(_.cand_of >= 0), "corpus produced no collisions")
    } finally q.stop()
  }

  test("re-batching in arrival order changes nothing: earliest doc stays canonical") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = docEvs(120)
    val stream = MemoryStream[DocEv]
    val q = DedupStream.candidates(stream.toDS())
      .writeStream.format("memory").queryName("dedup_cand_split")
      .outputMode("append").start()
    try {
      docs.grouped(docs.length / 4 + 1).foreach { c =>
        stream.addData(c); q.processAllAvailable()
      }
      val got = spark.table("dedup_cand_split").as[DedupCand].collect()
      val want = expectedCands(docs)
      assert(got.map(key).sorted.sameElements(want.map(key).sorted))
    } finally q.stop()
  }

  test("identical text arriving later is a duplicate of the earliest copy") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val t0 = 1700000000000L
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      DocEv(10L, new java.sql.Timestamp(t0), text),
      DocEv(11L, new java.sql.Timestamp(t0 + 60000L), "a completely different document about spark structured streaming state"),
      DocEv(12L, new java.sql.Timestamp(t0 + 120000L), text))
    val stream = MemoryStream[DocEv]
    val q = DedupStream.candidates(stream.toDS())
      .writeStream.format("memory").queryName("dedup_cand_ident")
      .outputMode("append").start()
    try {
      docs.foreach { d => stream.addData(d); q.processAllAvailable() }
      val got = spark.table("dedup_cand_ident").as[DedupCand].collect()
      val matches = got.filter(_.cand_of >= 0)
      assert(matches.nonEmpty && matches.forall(c =>
        c.doc_id == 12L && c.cand_of == 10L && c.est_sim == 1.0))
      assert(matches.length == TextLsh.minHash.bands) // identical sig: all 16 buckets hit
    } finally q.stop()
  }

  test("bucket index survives a restart: post-restart copy matches the pre-restart canonical") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_dedup_rec").toString
    val in = s"$base/in"; val ckpt = s"$base/ckpt"; val out = s"$base/out"
    new java.io.File(in).mkdirs()
    val sch = "doc_id long, ts timestamp, text string"
    val t0 = 1700000000000L
    val text = "the quick brown fox jumps over the lazy dog again and again"
    def runOnce(chunk: Seq[DocEv]): Unit = {
      chunk.toDF().write.mode("append").parquet(in)
      val q = DedupStream.candidates(
          spark.readStream.schema(sch).parquet(in).as[DocEv])
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop() // "crash" between chunks
    }
    runOnce(Seq(
      DocEv(10L, new java.sql.Timestamp(t0), text),
      DocEv(11L, new java.sql.Timestamp(t0 + 60000L),
        "a completely different document about spark structured streaming state")))
    runOnce(Seq(
      DocEv(12L, new java.sql.Timestamp(t0 + 120000L), text)))
    val matches = spark.read.parquet(out).as[DedupCand].collect()
      .filter(_.cand_of >= 0)
    // doc 12 can only match doc 10 if every bucket's canonical entry was
    // recovered from the checkpoint across the stop/start
    assert(matches.length == TextLsh.minHash.bands &&
      matches.forall(c => c.doc_id == 12L && c.cand_of == 10L && c.est_sim == 1.0),
      s"post-restart match set wrong: ${matches.toSeq}")
  }

  test("streaming signatures equal the relational MinHash build (shared TextLsh config)") {
    // bandRows computes signatures with the MinHashSig codegen expression;
    // the relational explode→64-min-agg build (MinHash.signature) is an
    // INDEPENDENT construction of the same contract, so agreeing here pins
    // the batch/stream bit-identical-signature claim
    import spark.implicits._
    val docs = docEvs(60)
    val items = docs.toDS().toDF()
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), explode(TextLsh.shinglesOf(col("t"))).as("shingle"))
    val mh = TextLsh.minHash
    val expected = mh.signature(items, "doc_id", "shingle")
      .select(col("doc_id"), mh.sigArray.as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val got = DedupStream.bandRows(docs.toDS())
      .select(col("doc_id"), col("sig")).distinct()
      .as[(Long, Seq[Long])].collect().toMap
    assert(got.nonEmpty && got == expected,
      s"streaming=${got.size} relational=${expected.size} signatures diverge")
  }

  test("bucket keys are `<band>-` + MinHash's band key of the doc's signature") {
    // the index's state is keyed by these strings: pinning them to the one
    // band-key rule (and to its literal layout `<band>-<v0>-<v1>-<v2>-<v3>`)
    // keeps existing dedup-index checkpoints readable
    import spark.implicits._
    val mh = TextLsh.minHash
    val rows = DedupStream.bandRows(docEvs(60).toDS())
    val viaMinHash = rows.select(col("doc_id"), posexplode(mh.bandKeys(col("sig"))))
      .select(col("doc_id"), concat(col("pos").cast("string"), lit("-"), col("col")))
      .as[(Long, String)].collect().toSet
    val got = rows.select(col("doc_id"), col("bkey"), col("band"), col("sig"))
      .as[(Long, String, Int, Seq[Long])].collect()
    assert(got.nonEmpty && got.map(r => (r._1, r._2)).toSet == viaMinHash)
    got.foreach { case (_, bkey, band, sig) =>
      val r = mh.rowsPerBand
      assert(bkey == (band +: sig.slice(band * r, band * r + r)).mkString("-"))
    }
    assert(got.groupBy(_._1).values.forall(_.length == mh.bands),
      "every doc fans out to every band")
  }

  test("bucket-index state distributes across >=2 state partitions, one row per bucket") {
    // the index is keyed by LSH bucket — state must hash-spread across the
    // shuffle partitions (the scale property: no single-task index), and a
    // bucket holds exactly ONE canonical entry no matter how many docs
    // hashed into it
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = docEvs(120)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_dedup_state").toString
    val stream = MemoryStream[DocEv]
    val q = DedupStream.candidates(stream.toDS())
      .writeStream.format("memory").queryName("dedup_state_dist")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      stream.addData(docs)
      q.processAllAvailable()
    } finally q.stop()
    val nBuckets = DedupStream.bandRows(docs.toDS())
      .select(col("bkey")).distinct().count()
    val store = spark.read.format("statestore").load(ckpt)
    assert(store.count() == nBuckets,
      s"expected one state row per bucket ($nBuckets), got ${store.count()}")
    assert(store.select("partition_id").distinct().count() >= 2,
      "bucket index sits in one state partition — not distributed")
  }

  test("windowed verdicts: per-doc rollup emits on window close with correct is_dup") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val t0 = 1700000000000L
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      DocEv(10L, new java.sql.Timestamp(t0), text),
      DocEv(11L, new java.sql.Timestamp(t0 + 60000L), "a completely different document about spark structured streaming state"),
      DocEv(12L, new java.sql.Timestamp(t0 + 120000L), text))
    val stream = MemoryStream[DocEv]
    val q = DedupStream.verdicts(stream.toDS(), simT = 0.5)
      .writeStream.format("memory").queryName("dedup_verdicts")
      .outputMode("append").start()
    try {
      stream.addData(docs)
      q.processAllAvailable()
      // far-future sentinel advances the RE-DECLARED watermark past the window
      stream.addData(DocEv(99L, new java.sql.Timestamp(t0 + 30L * 86400000L),
        "sentinel words to advance the stream watermark forward"))
      q.processAllAvailable()
      stream.addData(DocEv(98L, new java.sql.Timestamp(t0 + 31L * 86400000L),
        "second sentinel advancing the watermark one more day"))
      q.processAllAvailable()
      val got = spark.table("dedup_verdicts")
        .filter(col("doc_id") < 90)
        .orderBy(col("doc_id"))
        .select(col("doc_id"), col("is_dup"), col("best_cand"), col("best_sim"))
        .as[(Long, Boolean, Long, Double)].collect()
      assert(got.sameElements(Seq(
        (10L, false, -1L, 0.0), (11L, false, -1L, 0.0), (12L, true, 10L, 1.0))))
    } finally q.stop()
  }
}
