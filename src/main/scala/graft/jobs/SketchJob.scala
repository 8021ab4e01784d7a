package graft.jobs

import graft.Tables
import graft.functions.{Hashes, Hll}
import graft.sources.KeyedUpsertSink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted-sketch maintenance — the daily form of q110's overlap
  * algebra. A 100 TB pipeline does not re-scan the corpus to answer
  * "how much do sources overlap?": it keeps per-source deterministic-HLL
  * register tables (|sources|×256 rows) and FOLDS each ingest delta into
  * them — registers are closed under per-bucket max ([[Hll]]), so
  * folding a delta into the store is exactly rebuild(standing ∪ delta),
  * which SketchJobSpec asserts byte-for-byte. Every overlap/cardinality
  * question after that is pure sketch algebra over the tiny table.
  *
  * The register build is one map-side-partial pass over the delta's span
  * stream (the q110 construction: 60-bit span fingerprints re-hashed to
  * the 32-bit HLL coordinate space through the cross-engine base32);
  * the fold shuffles |sources|×256 rows regardless of delta size.
  */
object SketchJob {
  private val Span = 6 // q77/q101/q110's span width (tokens)

  /** (source, bucket, reg) register table of a documents relation. */
  def buildRegisters(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val spans = docs
      .select(col("source"), toks.as("t"))
      .select(col("source"), col("t"),
        explode(sequence(lit(0),
          ((size(col("t")) - 1) / Span).cast("long"))).as("k"))
      .select(col("source"),
        Hashes.base60(
          concat_ws(" ", slice(col("t"), col("k") * Span + 1, lit(Span)))).as("h"))
    val h32 = spans.select(col("source"),
      Hashes.base32(col("h").cast("string")).as("h32"))
    h32.select(col("source"), Hll.bucket(col("h32")).as("bucket"),
        Hll.rho(col("h32")).as("rho"))
      .groupBy(col("source"), col("bucket")).agg(max(col("rho")).as("reg"))
  }

  /** Per-source cardinality estimates off a register table — no corpus
    * access. */
  def estimates(regs: DataFrame): DataFrame =
    Hll.estimate(regs, Seq("source"), "est_spans").orderBy(col("source"))

  /** Fold `docs`' registers into the store at `storePath` (created on
    * first use) and return the post-fold register table. The fold is the
    * keyed upsert with `reg` as the version: highest version wins is the
    * per-bucket max, and the store is crash-safe and idempotent under a
    * replayed delta (a tie keeps the existing row). */
  def maintain(spark: SparkSession, docs: DataFrame, storePath: String): DataFrame = {
    KeyedUpsertSink.upsert(spark, storePath, buildRegisters(docs),
      Seq("source", "bucket"), "reg")
    KeyedUpsertSink.read(spark, storePath).get
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val store = if (args.length > 1) args(1) else "/tmp/graft_sketch_store"
    val spark = graft.Sessions.local("sketch")
    val regs = maintain(spark, Tables.documents(spark, sfDir), store)
    estimates(regs).show(50, truncate = false)
    spark.stop()
  }
}
