package graft.jobs

import graft.operators.{CurationPack, PipelinePack}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end corpus-curation capstone — the batch pipeline a
  * training-data release actually runs, chained from the individually
  * oracle-checked passes (mirroring PostStatisticsJob's role for the
  * reference's Task 1, but for the LLM-pipeline surface):
  *
  *   1. q119 per-doc curation VERDICT (language → exact-dup →
  *      repetition → quality, first-failing reason),
  *   2. q142 near-dup cluster REPRESENTATIVES (keep the best copy of
  *      each transitive near-dup component),
  *   3. q127 greedy byte-capped SHARD layout over the survivors,
  *   4. q129-style per-source DATACARD over the curated output,
  *   5. a conservation AUDIT: every raw doc accounted to exactly one
  *      final reason, shard bytes equal survivor bytes.
  *
  * The relations themselves live in [[PipelinePack]] as the
  * oracle-checked q161 (decisions), q162 (datacard), q163 (shard
  * layout), and q164 (audit) — this job is the runnable main that
  * materializes the chain in one session: the decisions relation is
  * memoized + lineage-truncated ([[PipelinePack.curationDecisions]]),
  * so the expensive corpus passes (dedup, repetition, quality, the CC
  * labeling) each run exactly once and every downstream table derives
  * from the pinned per-doc relation.
  *
  * Scale (100 TB): every stage composes passes whose scale arguments
  * are already pinned (q119's doc_id-keyed joins co-locate on a
  * doc_id-bucketed corpus; q142's CC is the adaptive
  * propagation/contraction; q127's greedy fill parallelizes by source
  * with the q109 block-reduction escape for giant sources); the
  * decisions relation is 8 narrow columns per doc, and the
  * datacard/audit collapse to |sources| / |reasons| rows via map-side
  * partial aggs. */
object CurateJob {

  /** Doc-level shard manifest over the survivors — q127's greedy
    * recurrence on the curated set: (source, file_idx, doc_id, nb).
    * q163 reports the per-file summary; the manifest is what the
    * writer-side layout pass actually consumes. */
  def shardManifest(survivors: DataFrame): DataFrame = {
    import survivors.sparkSession.implicits._
    CurationPack.greedyFill(
      survivors.select(col("source"), col("doc_id"), col("n_chars"))
        .as[(String, Long, Long)],
      CurationPack.SHARD_CAP)
  }

  /** Run the full chain against the corpus under `d`, writing each stage
    * to `outDir/<stage>.parquet`. Returns the audit for logging. */
  def run(spark: SparkSession, d: String, outDir: String): DataFrame = {
    val dec = PipelinePack.curationDecisions(spark, d)
    val survivors = dec.filter(col("keep"))
      .select(col("doc_id"), col("source"), col("n_chars"), col("n_tokens"))
    def save(df: DataFrame, name: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name.parquet")
    save(dec.orderBy(col("doc_id")), "decisions")
    save(survivors.orderBy(col("doc_id")), "survivors")
    save(shardManifest(survivors)
      .orderBy(col("source"), col("file_idx"), col("doc_id")), "shards")
    save(PipelinePack.curatedDatacard(dec), "datacard")
    val aud = PipelinePack.curationAudit(dec)
    save(aud, "audit")
    aud
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_curate"
    val spark = graft.Sessions.local("curate")
    val aud = run(spark, sfDir, outDir)
    aud.show(50, truncate = false)
    spark.stop()
  }
}
