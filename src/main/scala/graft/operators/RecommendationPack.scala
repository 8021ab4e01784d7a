package graft.operators

import graft.Tables
import graft.functions.MinHash
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The reference's Task 2 — friend recommendations by MinHash/LSH user
  * similarity (reference: jobs/recommendations/RecommendationsJob.scala:23-196)
  * — re-expressed as a declarative batch pipeline over `events`:
  *
  *   user features (tags + event types)           RecommendationsJob.scala:276-283 (F4/F6)
  *   → MinHash signatures                         RecommendationUtils.scala:40-41
  *   → LSH band buckets (inverted index)          LoadStaticDataJob.scala:92-105 (A5/F7)
  *   → same-bucket candidate pairs                AsyncCandidateUsersLookupFunction.scala:20-59 (J7)
  *   → exclude known users                        AsyncExcludeKnownPersonsFunction.scala:19-77 (J6)
  *   → estimated-similarity top-5 (min 0.2)       AsyncRecommendUsersFunction + getTopN:21-31 (J8/T1)
  *
  * The async-ElasticSearch lookup chain of the reference (W13) disappears:
  * every lookup is a native join. "Known users" derives deterministically
  * from the data (adjacent user ids, |u−c| <= 2) in place of the
  * person_knows_person table.
  *
  * Scale: the candidate join is per-bucket (Σ bucket² not n²); signatures
  * are 64 longs/user; the top-5 window partitions by user after candidate
  * pruning — the heavy n² never materializes.
  */
object RecommendationPack {
  type Q = (SparkSession, String) => DataFrame

  private[graft] val mh = MinHash(numHashes = 64, bands = 16, seed = 42L)
  private val MIN_SIM = 0.2
  private val TOP_N   = 5
  private val KNOWN_DIST = 2
  /** Policy cap on members MATERIALIZED per signature class when class
    * pairs expand back to user pairs — the reference's candidate limit
    * (AsyncCandidateUsersLookupFunction.scala:44) applied one level down.
    * A pathological giant duplicate class (every user sharing one
    * signature) would otherwise make a single member list — one ROW —
    * arbitrarily large and the pair expansion quadratic in it; the cap
    * keeps the deterministic `cap` smallest user ids per class, bounding
    * any class's expansion at cap² pairs. Not reached at test SF (largest
    * class ≪ cap), so oracle parity is unaffected; at corpus scale it is
    * the same recall-bounding knob the reference applies to candidates. */
  private[graft] val CLASS_MEMBER_CAP = 1024
  // J12 activity timeout. The reference default is 14 days
  // (application.conf activity-timeout); the testdata's event-time span is
  // shorter than that, so 6 h keeps the predicate discriminating here —
  // it's a config knob, not a semantic difference.
  private val ACTIVE_SEC = 21600L

  /** An event's tag feature "T<k mod 20>" (F4 prefixing,
    * RecommendationUtils.toFeature:95). */
  private def tagFeature: Column =
    concat(lit("T"), regexp_extract(col("props"), "(\\d+)", 1).cast("long") % 20)

  /** (user_id, feature) rows WITH duplicates: [[tagFeature]]s + event-type
    * features "E<type>". Set-semantics consumers either distinct
    * (features()) or fold into a set-valued agg directly ([[sig]]'s
    * collect_set). */
  private[graft] def rawFeatures(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val tags = ev.select(col("user_id"), tagFeature.as("feature"))
    val types = ev.select(col("user_id"),
      concat(lit("E"), col("event_type")).as("feature"))
    tags.unionByName(types)
  }

  /** (user_id, feature) distinct rows. */
  private[graft] def features(s: SparkSession, d: String): DataFrame =
    rawFeatures(s, d).distinct()

  /** Precomputed static store for the online Task-2 chain — the Spark
    * stand-in for the reference's ElasticSearch indexes built by
    * LoadStaticDataJob (per-user static feature sets, LSH buckets over
    * static signatures, and the stored signatures candidates are scored
    * against, LoadStaticDataJob.scala:92-105). The static features are the
    * tag interests alone, playing the role of the reference's stored
    * person features (interests ∪ work ∪ study, LoadStaticDataJob.scala:63-88);
    * the event-type features are the ACTIVITY half, recomputed per window
    * fire by the online chain (reference: RecommendationsJob.scala:276-301).
    * One aggregate builds the feature sets; signatures and bands are
    * map-only over it. All three frames are cached and materialized before
    * the stream starts; at 100 TB they are PrepJob's persisted bucketed
    * tables instead of executor cache. */
  final case class StaticStore(featureSets: DataFrame, bands: DataFrame, sigs: DataFrame)

  private[graft] def staticStore(s: SparkSession, d: String): StaticStore = {
    val featureSets = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(sort_array(collect_set(tagFeature)).as("feats"))
      .cache()
    val sigs = featureSets.select(col("user_id"), mh.sig(col("feats")).as("sig"))
      .filter(col("sig").isNotNull).cache()
    val bands = sigs.select(col("user_id"), mh.bandsOf(col("sig"))).cache()
    featureSets.count(); bands.count(); sigs.count()
    StaticStore(featureSets, bands, sigs)
  }

  private val recsType =
    "array<struct<rank:int,rec_user_id:bigint,est_sim:double>>"

  /** The reference's defining online Task-2 recompute
    * (RecommendationsJob.scala:276-301,342-356): for each fired activity
    * window `(user_id, wstart, acts)` — `acts` the event types the user
    * produced inside the window — union the windowed ACTIVITY features
    * with the user's STATIC features, re-MinHash the composite, look up
    * LSH candidates in the static band store, exclude known users, and
    * rank the top-N by estimated similarity against the candidates'
    * STORED static signatures. One row per fired (user_id, wstart) with
    * the (possibly empty) similarity-sorted recommendation list — so
    * recommendations genuinely change with streaming activity.
    *
    * Scale: every join is keyed; the per-fire work is |active users| × 16
    * band probes against the pre-bucketed static index (AQE picks
    * broadcast when the fired batch is small — the common case), never a
    * user×user product. */
  private[graft] def onlineRecommend(fired: DataFrame, store: StaticStore): DataFrame = {
    val keys = Seq("user_id", "wstart")
    val sg = onlineSigs(fired, store)
    val bands = sg.select(col("user_id"), col("wstart"), mh.bandsOf(col("sig")))
    val cands = bands
      .join(store.bands.select(col("user_id").as("c"), col("band"), col("bandkey")),
        Seq("band", "bandkey"))
      .select(col("user_id").as("u"), col("wstart"), col("c"))
      .distinct()
      .filter(col("u") =!= col("c") && abs(col("u") - col("c")) > KNOWN_DIST)
    val scored = cands
      .join(sg.select(col("user_id").as("u"), col("wstart"), col("sig").as("sig_u")),
        Seq("u", "wstart"))
      .join(store.sigs.select(col("user_id").as("c"), col("sig").as("sig_c")), "c")
      .withColumn("est_sim", round(mh.estSim(col("sig_u"), col("sig_c")), 4))
      .filter(col("est_sim") >= MIN_SIM)
    val w = Window.partitionBy(col("u"), col("wstart"))
      .orderBy(col("est_sim").desc, col("c"))
    val recs = scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TOP_N)
      .groupBy(col("u").as("user_id"), col("wstart"))
      .agg(sort_array(collect_list(struct(
        col("rank").cast("int").as("rank"),
        col("c").as("rec_user_id"),
        col("est_sim")))).as("recs"))
    // users active in the window but with no candidate >= MIN_SIM still get
    // a (replaced, possibly empty) recommendation row — the reference emits
    // a Recommendation record per active person regardless
    fired.select(col("user_id"), col("wstart"))
      .join(recs, keys, "left")
      .withColumn("recs", coalesce(col("recs"), array().cast(recsType)))
  }

  /** (user_id, wstart, sig) per fired row: the signature of its activity
    * features ("E"+type) ∪ the user's static feature set, signed in place —
    * a map-only pass, no explode and no re-aggregation (array_union dedups
    * the set). A row with neither has no signature and no row. */
  private[graft] def onlineSigs(fired: DataFrame, store: StaticStore): DataFrame =
    fired.join(store.featureSets, Seq("user_id"), "left")
      .select(col("user_id"), col("wstart"),
        mh.sig(array_union(
          transform(col("acts"), et => concat(lit("E"), et)),
          coalesce(col("feats"), array().cast("array<string>")))).as("sig"))
      .filter(col("sig").isNotNull)

  private val sqlFeatures: String =
    """SELECT DISTINCT user_id, feature FROM (
      |    SELECT user_id,
      |      'T' || (CAST(regexp_extract(props, '(\d+)', 1) AS BIGINT) % 20)::VARCHAR AS feature
      |    FROM events
      |    UNION ALL
      |    SELECT user_id, 'E' || event_type AS feature FROM events
      |  )""".stripMargin

  /** Per-user signature (user_id, sig) of the full feature set — one
    * shuffle (collect_set with map-side partial sets; it dedups, so the
    * feature distinct is not needed) and the map-only kernel. Shared by
    * q51–q54 and PrepJob's `user_minhash` store. */
  private[graft] def sig(s: SparkSession, d: String): DataFrame =
    rawFeatures(s, d)
      .groupBy(col("user_id"))
      .agg(collect_set(col("feature")).as("feats"))
      .select(col("user_id"), mh.sig(col("feats")).as("sig"))
      .filter(col("sig").isNotNull)

  val queries: Map[String, Q] = Map(
    // User feature sets (reference: person features A4/U2 — sorted list
    // canonical form, LoadStaticDataJob.scala:63-111,141-144).
    "q50_user_features" -> ((s, d) =>
      features(s, d)
        .groupBy(col("user_id"))
        .agg(array_join(sort_array(collect_list(col("feature"))), ",").as("features"),
          count(lit(1)).as("n_features"))
        .orderBy(col("user_id"))),

    // MinHash signatures, canonical comma-joined form (reference F6; stored
    // Base64 in db/PersonMinHashIndex — canonical string here), from the
    // one per-user build [[sig]].
    "q51_user_minhash" -> ((s, d) =>
      sig(s, d)
        .select(col("user_id"), array_join(col("sig"), ",").as("signature"))
        .orderBy(col("user_id"))),

    // LSH bucket inverted index (reference A5: bucket → member list,
    // LoadStaticDataJob.scala:99-105). Only multi-member buckets are
    // emitted (singletons generate no candidates).
    "q52_lsh_buckets" -> ((s, d) =>
      sig(s, d)
        .select(col("user_id"), mh.bandsOf(col("sig")))
        .groupBy(col("band"), col("bandkey"))
        .agg(array_join(sort_array(collect_list(col("user_id"))), ",").as("users"),
          count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .orderBy(col("band"), col("bandkey"))),

    // Full recommendation chain: per-user top-5 unknown candidates by
    // estimated Jaccard similarity >= 0.2.
    "q53_recommendations" -> ((s, d) => rankTopN(scored(s, d))),

    // J12 activity semi-filter to ACTIVE candidates (reference:
    // jobs/recommendations/FilterToActivePersonsFunction.scala:38-157 —
    // candidates kept only if their last activity is recent relative to the
    // recommending user's; filter applied BEFORE top-N like the reference).
    // No broadcast hint on lastAct: it is one row PER USER — unbounded at
    // corpus scale — so the join strategy is left to AQE (which broadcasts
    // it when small and sort-merges it when not). At 100 TB the
    // zero-exchange path is PrepJob's bucketed last-activity table.
    "q54_active_recommendations" -> ((s, d) => {
      val lastAct = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(max(unix_timestamp(col("ts"))).as("last_ts"))
      val active = scored(s, d)
        .join(lastAct.select(col("user_id").as("u"), col("last_ts").as("u_last")), "u")
        .join(lastAct.select(col("user_id").as("c"), col("last_ts").as("c_last")), "c")
        .filter(col("c_last") >= col("u_last") - ACTIVE_SEC)
        .select(col("u"), col("c"), col("est_sim"))
      rankTopN(active)
    })
  )

  /** Scored candidate pairs (u, c, est_sim): bands → same-bucket pairs →
    * exclude known → estimated similarity >= MIN_SIM.
    *
    * Scale optimization (exact, not approximate): every LSH band key is a
    * function of the SIGNATURE alone, so bucket membership — and therefore
    * both candidacy and est_sim — is decided per signature CLASS, not per
    * user. Real data has far fewer distinct signatures than users
    * (near-duplicate users collapse; here 173 classes over 1500 users at
    * sf0.1), so the band self-join, the candidate `distinct`, and the
    * 64-slot similarity all run on classes (≤ C² work) and the user-level
    * pair set is recovered by exploding broadcast member lists — the n²
    * user-pair join never materializes, with bit-identical output.
    * (A pathological giant dup class would skew the expansion;
    * [[CLASS_MEMBER_CAP]] bounds every class's materialized member list —
    * the policy knob mirroring the reference's candidate limit,
    * AsyncCandidateUsersLookupFunction:44.)
    */
  private def scored(s: SparkSession, d: String): DataFrame =
    // A per-corpus BUILD artifact shared by q53/q54 (the persisted
    // scored-candidate table of the reference's pipeline): memoized and
    // lineage-truncated like TextPack.bpeChain — a plain .cache() still
    // re-analyzes + canonicalizes the whole LSH lineage on every
    // invocation (~1 s/call of driver time at sf0.1), which the memo removes.
    Artifacts.get(s, d, "scored") { buildScored(s, d) }

  private def buildScored(s: SparkSession, d: String): DataFrame = {
    val sg = sig(s, d)
    // class id = smallest member user id per distinct signature
    val userCls = sg
      .withColumn("cls", min(col("user_id")).over(Window.partitionBy(col("sig"))))
      .select(col("user_id"), col("cls"))
    val repSig = sg.join(
      userCls.filter(col("user_id") === col("cls")).select(col("user_id")), "user_id")
    // band inverted index over class representatives only
    val clsBands = repSig.select(col("user_id").as("cls"), mh.bandsOf(col("sig")))
    // ordered class pairs sharing >= 1 bucket (x = y kept: intra-class
    // user pairs are genuine candidates — identical signatures collide
    // in every band)
    val clsPairs = clsBands.as("x").join(clsBands.as("y"),
        col("x.band") === col("y.band") && col("x.bandkey") === col("y.bandkey"))
      .select(col("x.cls").as("ucls"), col("y.cls").as("ccls"))
      .distinct()
    val clsSims = clsPairs
      .join(repSig.select(col("user_id").as("ucls"), col("sig").as("sig_u")), "ucls")
      .join(repSig.select(col("user_id").as("ccls"), col("sig").as("sig_c")), "ccls")
      .withColumn("est_sim", round(mh.estSim(col("sig_u"), col("sig_c")), 4))
      .filter(col("est_sim") >= MIN_SIM)
      .select(col("ucls"), col("ccls"), col("est_sim"))
    // expand class pairs to user pairs; J6 exclude known. Materialized
    // once (see scored): q53 and q54 rank the SAME scored relation
    // (q54 adds the activity filter).
    expandClassPairs(clsSims, userCls, CLASS_MEMBER_CAP).localCheckpoint()
  }

  /** Class pairs → user pairs through policy-capped member lists.
    *
    * No broadcast hints: the member relation has one row per CLASS, which
    * collapses under near-duplication but degenerates to one row per USER
    * when signatures are all-distinct — an unbounded forced broadcast at
    * corpus scale. AQE broadcasts it when it measures small and
    * sort-merges otherwise; the cap bounds the ROW size (and any single
    * class's fan-out at cap² pairs) either way. */
  private[graft] def expandClassPairs(clsSims: DataFrame, userCls: DataFrame,
                                      memberCap: Int): DataFrame = {
    require(memberCap > 0, "class member cap must be positive")
    // deterministic truncation: the cap smallest user ids of each class.
    // The rank filter runs BEFORE collect_list (WindowGroupLimit keeps each
    // class's cap-smallest ids pre-shuffle), so the aggregation buffer — not
    // just the output row — is bounded at `cap` entries even for a
    // pathological giant duplicate class.
    val members = userCls
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cls")).orderBy(col("user_id"))))
      .filter(col("rn") <= memberCap)
      .groupBy(col("cls"))
      .agg(sort_array(collect_list(col("user_id"))).as("ms"))
    clsSims
      .join(members.select(col("cls").as("ucls"), col("ms").as("us")), "ucls")
      .join(members.select(col("cls").as("ccls"), col("ms").as("cs")), "ccls")
      .select(col("est_sim"), explode(col("us")).as("u"), col("cs"))
      .select(col("est_sim"), col("u"), explode(col("cs")).as("c"))
      .filter(col("u") =!= col("c") && abs(col("u") - col("c")) > KNOWN_DIST)
      .select(col("u"), col("c"), col("est_sim"))
  }

  /** Top-N per user via `row_number ≤ N`: Spark 4 plans the rank filter as
    * a WindowGroupLimit, so every input partition keeps only its N best
    * rows per user BEFORE the shuffle — the window form's historical cost
    * (full sort of all scored pairs) is gone, and it beats the
    * collect_list/array_sort hash-agg (which must move every candidate
    * struct through the aggregation) by ~2× on the expanded pair stream. */
  private def rankTopN(scoredDf: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("u")).orderBy(col("est_sim").desc, col("c"))
    scoredDf
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TOP_N)
      .select(col("u").as("user_id"), col("rank").cast("int").as("rank"),
        col("c").as("rec_user_id"), col("est_sim"))
      .orderBy(col("user_id"), col("rank"))
  }

  val oracle: Map[String, String] = Map(
    "q50_user_features" ->
      s"""WITH feats AS (
         |  $sqlFeatures
         |)
         |SELECT user_id, string_agg(feature, ',' ORDER BY feature) AS features,
         |  count(*) AS n_features
         |FROM feats GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q51_user_minhash" -> {
      // concat_ws (flat call) — a 64-term `||` chain exceeds DuckDB's
      // binder recursion depth
      val arr = (0 until mh.numHashes).map(i => s"m$i")
        .mkString("concat_ws(',', ", ", ", ")")
      s"""WITH feats AS (
         |  $sqlFeatures
         |), sig AS (
         |  ${mh.sqlSignature("feats", "user_id", "feature")}
         |)
         |SELECT user_id, $arr AS signature FROM sig ORDER BY user_id""".stripMargin
    },

    "q52_lsh_buckets" ->
      s"""WITH feats AS (
         |  $sqlFeatures
         |), sig AS (
         |  ${mh.sqlSignature("feats", "user_id", "feature")}
         |), bands AS (
         |  ${mh.sqlBands("sig", "user_id")}
         |)
         |SELECT band, bandkey,
         |  string_agg(user_id, ',' ORDER BY user_id) AS users, count(*) AS n
         |FROM bands GROUP BY band, bandkey HAVING count(*) > 1
         |ORDER BY band, bandkey""".stripMargin,

    "q53_recommendations" ->
      s"""WITH $sqlScoredCtes, ranked AS (
         |  SELECT u, c, est_sim,
         |    row_number() OVER (PARTITION BY u ORDER BY est_sim DESC, c) AS rank
         |  FROM scored
         |)
         |SELECT u AS user_id, rank, c AS rec_user_id, est_sim
         |FROM ranked WHERE rank <= $TOP_N ORDER BY user_id, rank""".stripMargin,

    "q54_active_recommendations" ->
      s"""WITH $sqlScoredCtes, last_act AS (
         |  SELECT user_id, CAST(floor(epoch(max(ts))) AS BIGINT) AS last_ts
         |  FROM events GROUP BY user_id
         |), active AS (
         |  SELECT s.u, s.c, s.est_sim
         |  FROM scored s
         |    JOIN last_act lu ON lu.user_id = s.u
         |    JOIN last_act lc ON lc.user_id = s.c
         |  WHERE lc.last_ts >= lu.last_ts - $ACTIVE_SEC
         |), ranked AS (
         |  SELECT u, c, est_sim,
         |    row_number() OVER (PARTITION BY u ORDER BY est_sim DESC, c) AS rank
         |  FROM active
         |)
         |SELECT u AS user_id, rank, c AS rec_user_id, est_sim
         |FROM ranked WHERE rank <= $TOP_N ORDER BY user_id, rank""".stripMargin
  )

  /** Shared CTE chain feats → sig → bands → cand → scored. */
  private lazy val sqlScoredCtes: String =
    s"""feats AS (
       |  $sqlFeatures
       |), sig AS (
       |  ${mh.sqlSignature("feats", "user_id", "feature")}
       |), bands AS (
       |  ${mh.sqlBands("sig", "user_id")}
       |), cand AS (
       |  SELECT DISTINCT x.user_id AS u, y.user_id AS c
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bandkey = y.bandkey AND x.user_id <> y.user_id
       |  WHERE abs(x.user_id - y.user_id) > $KNOWN_DIST
       |), scored AS (
       |  SELECT u, c, round(${mh.sqlEstSim("su", "sc")}, 4) AS est_sim
       |  FROM cand JOIN sig su ON su.user_id = u JOIN sig sc ON sc.user_id = c
       |  WHERE round(${mh.sqlEstSim("su", "sc")}, 4) >= $MIN_SIM
       |)""".stripMargin
}
