package graft.operators

import graft.Tables
import graft.functions.{KMeans, TextFeatures}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's Task 3 — unusual-activity detection via streaming
  * K-means (reference: jobs/clustering/UnusualActivityDetectionJob
  * .scala:34-136) — batch shape: text featurization (F5) → per-person
  * frequency (A2) → K-means clustering (F14, seeded Random(137)) →
  * nearest-centroid classification (J14).
  *
  * q60/q61 are statically oracle-checked; q62's oracle is DATA-DEPENDENT
  * (trained centroids as literals) and generated by [[dynamicOracle]]
  * once Verify knows the sf dir — determinism additionally pinned by
  * ActivityPackSpec, like the reference's own KMeansClusteringTestSuite
  * fixtures.
  *
  * Scale: clustering runs driver-side on collected feature vectors — the
  * reference deliberately runs it at parallelism 1 too
  * (UnusualActivityDetectionJob.scala:367,376, citing MMDS 7.6.4 for the
  * distributed variant); CLASSIFICATION is the distributed part: centroids
  * are literals broadcast into a codegen'd argmin expression, one narrow
  * pass, no shuffle (reference J14 broadcast-model semantics).
  */
object ActivityPack {
  type Q = (SparkSession, String) => DataFrame

  private val K = 4

  /** doc_id + 3-dim text features, rounded for cross-engine parity. */
  private def featureDf(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), TextFeatures.toks(col("text")).as("t"))
      .select(col("doc_id"), TextFeatures.featurizeToks(col("t")).as("f"))
      .select(col("doc_id"), round(element_at(col("f"), 1), 4).as("f0"),
        round(element_at(col("f"), 2), 4).as("f1"),
        round(element_at(col("f"), 3), 4).as("f2"))

  /** Seeded deterministic model over an sf dir's documents. Memoized per
    * (session, dir) in [[Artifacts]] — a model is trained once and
    * classified with many times (same policy as SimilarityPack's IVF
    * centroids). Cap-selected
    * ([[graft.functions.KMeansDistributed.train]]): at or below the
    * TrainSample cap the full set is collected in doc_id order and trained
    * driver-side (bit-identical to previous rounds, so the data-dependent
    * oracle regenerates unchanged); above it, Lloyd's runs DISTRIBUTED
    * over all rows from a bootstrap seeded by the deterministic
    * hash-priority sample — no full collect at any input size. */
  def model(s: SparkSession, d: String): KMeans.Model =
    Artifacts.get(s, d, "activityModel") {
      graft.functions.KMeansDistributed.train(
        featureDf(s, d).select(col("doc_id"),
          array(col("f0"), col("f1"), col("f2")).as("v")),
        col("doc_id"), col("v"), K, seed = 137L)
    }

  val queries: Map[String, Q] = Map(
    // F5 text featurization (reference tokenizer + 3 ratios,
    // UnusualActivityDetectionJob.scala:421-450).
    "q60_text_features" -> ((s, d) =>
      featureDf(s, d).orderBy(col("doc_id"))),

    // A2 per-person sliding event frequency, 12h window / 1h slide
    // (reference: UnusualActivityDetectionJob.scala:274-293). Single-agg on
    // purpose: window()'s Expand fans out BEFORE the map-side partial
    // aggregation, which already collapses the ×12 stream to (window, user)
    // rows pre-shuffle — a measured try at q21-style explicit two-phase
    // bucketing added a second shuffle and lost (~20%); the pre-bucketing
    // trick only pays when a countDistinct blocks partial aggregation.
    "q61_activity_frequency" -> ((s, d) =>
      // gated round-robin of the unsplittable single-row-group scan (see
      // Tables.parallel): window()'s ×12 Expand + partial agg then run on
      // every core instead of one (measured −15% at sf0.1; a no-op when
      // the scan already plans >= cores partitions). q21/q22 measured
      // SLOWER with the same move (their partial agg collapses harder, so
      // the raw-row shuffle does not pay) — deliberately not applied there.
      Tables.parallel(Tables.events(s, d), d, "events")
        .groupBy(window(col("ts"), "12 hours", "1 hour").as("w"), col("user_id"))
        .agg(count(lit(1)).as("frequency"))
        .select(unix_timestamp(col("w.start")).as("wstart"), col("user_id"), col("frequency"))
        .orderBy(col("wstart"), col("user_id"))),

    // F14/J14: seeded K-means centroids embedded as literals, distributed
    // nearest-centroid classification (argmin over K codegen'd distances).
    "q62_classified_docs" -> ((s, d) => {
      val m = model(s, d)
      val f = Seq(col("f0"), col("f1"), col("f2"))
      val dists = m.clusters.map(c => KMeans.sqDist(f, c.centroid).as(s"d${c.index}"))
      val (cluster, minD) = KMeans.nearest((0 until K).map(i => col(s"d$i")))
      featureDf(s, d).select(col("doc_id") +: (f ++ dists): _*)
        .withColumn("cluster", cluster)
        .select(col("doc_id"), col("cluster"),
          round(sqrt(minD), 4).as("dist"))
        .orderBy(col("doc_id"))
    })
  )

  /** Data-dependent oracle for q62: trained centroids embedded as DOUBLE
    * literals over the SQL-expressible feature columns (q60's oracle) —
    * argmin, tie-to-first, Spark-rounded sqrt distance. Called by Verify
    * once the sf dir is known (SparkEntry.oracleContext). */
  def dynamicOracle(s: SparkSession, d: String): Map[String, String] = {
    val m = model(s, d)
    val dCols = m.clusters.map { c =>
      val Vector(x, y, z) = c.centroid
      s"(f0 - ($x)::DOUBLE)*(f0 - ($x)::DOUBLE) + (f1 - ($y)::DOUBLE)*(f1 - ($y)::DOUBLE) + (f2 - ($z)::DOUBLE)*(f2 - ($z)::DOUBLE) AS d${c.index}"
    }.mkString(",\n    ")
    val minD = (0 until K).map(i => s"d$i").mkString("least(", ", ", ")")
    val cluster = (0 until K - 1)
      .map(i => s"WHEN d$i = m THEN $i").mkString("CASE ", " ", s" ELSE ${K - 1} END")
    Map("q62_classified_docs" ->
      s"""WITH feat AS (
         |  SELECT doc_id, ${graft.functions.TextFeatures.sqlFeatures("text", 4).mkString(",\n    ")}
         |  FROM documents
         |), dist AS (
         |  SELECT doc_id,
         |    $dCols
         |  FROM feat
         |)
         |SELECT doc_id, $cluster AS cluster,
         |  ${graft.functions.Hashes.sqlRound("sqrt(m)", 4)} AS dist
         |FROM (SELECT *, $minD AS m FROM dist)
         |ORDER BY doc_id""".stripMargin)
  }

  val oracle: Map[String, String] = Map(
    "q60_text_features" ->
      s"""SELECT doc_id, ${TextFeatures.sqlFeatures("text", 4).mkString(",\n  ")}
         |FROM documents ORDER BY doc_id""".stripMargin,

    // each event belongs to the 12 sliding windows whose start is the
    // enclosing 1h bucket minus k slides, k = 0..11 (12h/1h)
    "q61_activity_frequency" ->
      """SELECT wstart, user_id, count(*) AS frequency
        |FROM (
        |  SELECT e.*, (CAST(floor(epoch(ts)/3600) AS BIGINT) - s.k) * 3600 AS wstart
        |  FROM events e, generate_series(0, 11) s(k)
        |) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    // q62_classified_docs: oracle generated by dynamicOracle (centroid
    // literals require the sf dir — see SparkEntry.oracleContext).
  )
}
