package graft

import graft.sources.KeyedUpsertSink
import graft.streaming.{CurDoc, CurateStream}
import org.apache.spark.sql.functions._

/** Sustained-ingest soak of the live curation pipeline: drain the full
  * documents table through [[CurateStream]] (fingerprint-index tagging →
  * per-batch repetition/quality scoring → C4 verdict upsert) in paced
  * micro-batches and report end-to-end throughput — the curation
  * counterpart of [[SoakBench]]'s three-job replay anchor.
  *
  * Usage: SPARK_GRAFT_SF_DIR=… [SPARK_GRAFT_STATE=rocksdb] \
  *        sbt "runMain graft.CurateSoak [nChunks] [shards]"
  * (`shards` soaks the FULL pipeline — runWithShards, i.e. verdicts plus
  * the durable greedy shard layout.) Prints one JSON line: docs, wall
  * seconds, docs/s, verdict breakdown (+ shard files when enabled). */
object CurateSoak {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val backend = sys.env.getOrElse("SPARK_GRAFT_STATE", "hdfs")
    val nChunks = args.lift(0).map(_.toInt).getOrElse(16)
    val withShards = args.lift(1).contains("shards")
    val spark = Sessions.local("curate-soak")
    if (backend == "rocksdb")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._

    val base = java.nio.file.Files.createTempDirectory("graft_curate_soak").toString
    val out = s"$base/verdicts"; val ckpt = s"$base/ckpt"
    // id-ordered, memory-paced ingest: chunk boundaries and arrival order
    // are deterministic across runs and backends, so which doc is
    // first-seen per fingerprint (and hence every verdict) is too —
    // batch q30's canonical rule under ordered arrival. The driver-side
    // collect is the soak harness's pacer, not the operator's shape.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        col("n_chars").cast("long").as("n_chars"))
      .orderBy(col("doc_id")).as[CurDoc].collect()
    val nDocs = docs.length.toLong
    val chunks = docs.grouped(docs.length / nChunks + 1).toSeq

    val stream = MemoryStream[CurDoc]
    val t0 = System.nanoTime()
    val q =
      if (withShards)
        CurateStream.runWithShards(spark, stream.toDS(), out,
          s"$base/shards", s"$base/shard_state", ckpt)
      else CurateStream.run(spark, stream.toDS(), out, ckpt)
    chunks.foreach { c => stream.addData(c); q.processAllAvailable() }
    val wall = (System.nanoTime() - t0) / 1e9
    q.stop()

    val verdicts = KeyedUpsertSink.read(spark, out).get
    val byReason = verdicts.groupBy(col("reason")).count()
      .collect().map(r => s""""${r.getString(0)}":${r.getLong(1)}""")
      .sorted.mkString("{", ",", "}")
    val nOut = verdicts.count()
    val shardInfo =
      if (withShards) {
        val sh = KeyedUpsertSink.read(spark, s"$base/shards").get
        val files = sh.select(col("source"), col("file_idx")).distinct().count()
        s""","shard_docs":${sh.count()},"shard_files":$files"""
      } else ""
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    println(f"""{"metric":"curate_soak","docs":$nDocs,"verdicts":$nOut,""" +
      f""""wall_sec":$wall%.1f,"docs_per_sec":${nDocs / wall}%.0f,""" +
      f""""backend":"$backend","chunks":$nChunks,"reasons":$byReason""" +
      s"""$shardInfo}""")
  }
}
