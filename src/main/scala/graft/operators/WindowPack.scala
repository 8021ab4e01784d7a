package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Event-time window operators (SURVEY.md §2.5 A1–A3, §2.4 J11, §2.9 W3).
  *
  * The reference's flagship Task 1 is a sliding-window per-key statistics
  * operator (reference: jobs/activeposts/PostStatisticsFunction.scala:28-267,
  * 12 h window / 30 min slide, per-type counters + exact distinct persons).
  * Here the same shape runs as a declarative `window()` aggregation — Spark's
  * sliding window replicates the per-slide bucketing the reference hand-built
  * (each event lands in size/slide = 24 overlapping windows); the oracle
  * reproduces that expansion with a generate_series bucket join.
  *
  * Window starts are emitted as epoch seconds (`wstart`), never raw
  * timestamps, for cross-engine parity.
  */
object WindowPack {
  type Q = (SparkSession, String) => DataFrame

  /** Candidate watermark delays for the q100 admission curve (seconds). */
  private val WM_DELAYS: Seq[Long] = Seq(0L, 60L, 300L, 1800L, 21600L)

  /** A1/A2 sliding stats transform, shared verbatim by the batch query and
    * the Structured Streaming path (StreamOps) — DataFrame ops are
    * execution-mode agnostic, so batch/stream parity is by construction
    * (tested in StreamingSpec).
    *
    * `exactDistinct=true` (batch/oracle) uses `countDistinct`; streaming —
    * and the 100 TB scale path (SURVEY §7.4.3) — uses
    * `approx_count_distinct` (countDistinct is unsupported on streams and
    * its state is unbounded at scale).
    */
  def slidingStats(events: DataFrame, exactDistinct: Boolean = true,
                   key: String = "user_id"): DataFrame = {
    val distinctTypes =
      if (exactDistinct) countDistinct(col("event_type"))
      else approx_count_distinct(col("event_type"))
    events
      .groupBy(window(col("ts"), "12 hours", "30 minutes").as("w"), col(key))
      .agg(
        count(lit(1)).as("n_events"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
        count(when(col("event_type") === "click", 1)).as("n_click"),
        distinctTypes.as("n_types"))
      .select(unix_timestamp(col("w.start")).as("wstart"), col(key),
        col("n_events"), col("n_purchase"), col("n_click"), col("n_types"))
  }

  /** Per-session funnel staging (q91's core, shared with the streaming
    * twin StreamOps.sessionFunnel): 30-min-gap sessionization, then the
    * ordered view → click → purchase stage timestamps as conditional
    * minima over the session partition. The chained stage windows share
    * ONE (user, sid) partitioning, so the whole staging costs the
    * sessionization shuffle plus one re-key. Emits one row per session:
    * (user_id, sid, sess_start, n_events, tv, tc, tp) — stage timestamps
    * NULL where the funnel broke. */
  def funnelSessions(events: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val es = col("ts").cast("double")
    val wS = Window.partitionBy(col("user_id"), col("sid"))
    events
      .withColumn("new_s",
        when(lag(col("ts"), 1).over(wOrd).isNull
          || es - lag(col("ts"), 1).over(wOrd).cast("double") >= 1800, 1)
          .otherwise(0))
      .withColumn("sid", sum(col("new_s"))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("t_view",
        min(when(col("event_type") === "view", col("ts"))).over(wS))
      .withColumn("t_click",
        min(when(col("event_type") === "click" && col("t_view").isNotNull
          && col("ts") >= col("t_view"), col("ts"))).over(wS))
      .withColumn("t_purchase",
        min(when(col("event_type") === "purchase" && col("t_click").isNotNull
          && col("ts") >= col("t_click"), col("ts"))).over(wS))
      .groupBy(col("user_id"), col("sid"))
      .agg(unix_timestamp(min(col("ts"))).as("sess_start"),
        min(unix_micros(col("ts"))).as("first_us"),
        count(lit(1)).as("n_events"),
        max(col("t_view")).as("tv"), max(col("t_click")).as("tc"),
        max(col("t_purchase")).as("tp"))
  }

  val queries: Map[String, Q] = Map(
    // W3 tumbling window aggregation (reference A2 family:
    // UnusualActivityDetectionJob.scala:274-293 keyed sliding count — the
    // tumbling base case first).
    "q20_tumbling_stats" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          round(sum(col("value")), 2).as("sum_value"))
        .select(unix_timestamp(col("w.start")).as("wstart"), col("event_type"),
          col("n"), col("n_users"), col("sum_value"))
        .orderBy(col("wstart"), col("event_type"))
    }),

    // A1 sliding-window per-key statistics — the reference's flagship
    // operator (PostStatisticsFunction: per-post 12h/30min counters +
    // exact distinct users; here per-user with per-type counters).
    // Two-phase plan: aggregate per (30-min BASE bucket, user, type) FIRST,
    // then fan each counter row out to the 24 sliding windows containing
    // its bucket and re-sum. A 12h/30min slide over window() replicates
    // every raw event ×24 before any aggregation; here the ×24 applies to
    // collapsed counter rows, so fan-out volume ∝ distinct keys — at 100 TB
    // that is the difference between shuffling 24× the events and 24× the
    // (bucket,key) summary. Exactly window()'s semantics: windows with
    // start ∈ (t-12h, t] stepped 30 min. n_types stays exact (countDistinct
    // over pre-bucketed type rows); unbounded domains swap in
    // approx_count_distinct (SURVEY §7.4.3) — both semantics are tested.
    "q21_sliding_stats" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(expr("(unix_timestamp(ts) div 1800) * 1800").as("b0"),
          col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        // repartition the COLLAPSED (bucket, key, type) counters by user
        // BEFORE the ×24 fan-out (r12, guide §2.3 "shuffle fewer bytes"):
        // hash(user) is a subset of every downstream grouping key, so the
        // explode below fans out AFTER the exchange and the 24× stream
        // never crosses the wire — the shuffle carries |buckets·keys·types|
        // rows instead of 24× that (measured 1.8 s → 1.0 s at sf0.1; at
        // 100 TB the exchange moves E/density rows instead of 24·E/density,
        // strictly fewer at any density). n_types stays the plain count of
        // the (window, key, type)-collapsed rows — no countDistinct, no
        // Expand (SCALE.md guardrail). Skew bound: one user's rows per
        // partition ≤ |buckets|·|types|, the same bound the previous
        // (wstart, user) keying already accepted.
        .repartition(s.sparkContext.defaultParallelism, col("user_id"))
        .select(col("b0"), col("user_id"), col("event_type"), col("n"),
          explode(sequence(lit(0), lit(23))).as("k"))
        .select((col("b0") - col("k") * 1800).as("wstart"), col("user_id"),
          col("event_type"), col("n"))
        .groupBy(col("wstart"), col("user_id"), col("event_type"))
        .agg(sum(col("n")).as("n"))
        .groupBy(col("wstart"), col("user_id"))
        .agg(
          sum(col("n")).as("n_events"),
          sum(when(col("event_type") === "purchase", col("n")).otherwise(0L)).as("n_purchase"),
          sum(when(col("event_type") === "click", col("n")).otherwise(0L)).as("n_click"),
          count(lit(1)).as("n_types"))
        .orderBy(col("wstart"), col("user_id"))
    }),

    // A3 windowed collect-set (reference: RecommendationsJob.scala:342-356 +
    // functions/CollectSetFunction.scala — per-person set of interacted
    // posts over 4h windows). Canonical sorted-string output.
    "q22_windowed_collect_set" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(window(col("ts"), "4 hours").as("w"), col("user_id"))
        .agg(array_join(sort_array(collect_set(col("event_type"))), ",").as("types"),
          count(lit(1)).as("n"))
        .select(unix_timestamp(col("w.start")).as("wstart"), col("user_id"),
          col("types"), col("n"))
        .orderBy(col("wstart"), col("user_id"))
    }),

    // J11 as-of join against last-value state with staleness cutoff
    // (reference: jobs/clustering/AggregateFeaturesFunction.scala:22-66 —
    // append the stored per-person frequency, 0 if absent or older than
    // the cutoff). Declarative form per SURVEY §7.4.5: last prior 'view'
    // within 6 h, else 0. Deterministic tiebreak (ts, event_id).
    "q23_asof_join" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .withColumn("pv_ts",
          last(when(col("event_type") === "view", col("ts")), ignoreNulls = true).over(w))
        .withColumn("pv_val",
          last(when(col("event_type") === "view", col("value")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          round(col("value"), 2).as("value"),
          when(col("pv_ts").isNotNull &&
            col("ts").cast("double") - col("pv_ts").cast("double") <= 21600d,
            round(col("pv_val"), 2)).otherwise(0d).as("prior_view_value"))
        .orderBy(col("event_id"))
    }),

    // Session windows (gap-based, 30 min): Spark-native session_window;
    // beyond the reference's fixed windows but first-class in our engine.
    // Oracle reproduces via the classic lag + cumulative-sum sessionization.
    "q24_session_window" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
        .select(col("user_id"), unix_timestamp(col("w.start")).as("sess_start"),
          col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("sess_start"))
    }),

    // Session funnel analysis (view → click → purchase, strictly ordered
    // within a 30-min-gap session): the product-analytics shape the
    // reference's activity jobs feed. Per-session staging lives in
    // [[funnelSessions]] (shared with the streaming twin,
    // StreamOps.sessionFunnel); all counts are integers (rates are ratios
    // of counts) — exact on any engine.
    "q91_funnel" -> ((s, d) => {
      funnelSessions(Tables.events(s, d))
        .groupBy((col("user_id") % 10).as("cohort"))
        .agg(count(lit(1)).as("n_sessions"),
          count(col("tv")).as("n_view"),
          count(col("tc")).as("n_view_click"),
          count(col("tp")).as("n_full_funnel"))
        // guarded ratios: an empty upstream stage yields NULL, not a
        // divide-by-zero (ANSI) or an engine-specific inf
        .withColumn("view_rate",
          round(col("n_view").cast("double") / col("n_sessions"), 4))
        .withColumn("click_conv", when(col("n_view") > 0,
          round(col("n_view_click").cast("double") / col("n_view"), 4)))
        .withColumn("purchase_conv", when(col("n_view_click") > 0,
          round(col("n_full_funnel").cast("double") / col("n_view_click"), 4)))
        .orderBy(col("cohort"))
    }),

    // Cohort retention — the product-analytics matrix behind every
    // "week-N retention" chart: users cohorted by first-active week
    // (absolute epoch weeks — engine-exact integer floor-division of
    // epoch seconds, no calendar arithmetic), one cell per
    // (cohort, week-offset) counting users active that week. All counts
    // are integers; retention ships in exact ppm (positive values, so
    // floor division agrees across engines). Scale: the (user, week)
    // distinct and the per-user min are the only corpus-sized shuffles —
    // both key on user_id so AQE coalesces them into one exchange reuse;
    // the cell table is |cohorts|·|offsets|, tiny, and the cohort-size
    // rejoin broadcasts. A user appears once per (user, week) after the
    // distinct, so the cell count is already distinct-users — no
    // count(DISTINCT) Expand anywhere.
    "q138_retention_cohorts" -> ((s, d) => {
      val weeks = Tables.events(s, d)
        .select(col("user_id"),
          expr("unix_timestamp(ts) div 604800").as("week"))
        .distinct()
      val cohorts = weeks.groupBy(col("user_id"))
        .agg(min(col("week")).as("cohort"))
      val cells = weeks.join(cohorts, "user_id")
        .groupBy(col("cohort"), (col("week") - col("cohort")).as("offset"))
        .agg(count(lit(1)).as("n_users"))
      val sizes = cells.filter(col("offset") === 0)
        .select(col("cohort"), col("n_users").as("cohort_size"))
      cells.join(broadcast(sizes), "cohort")
        .withColumn("retention_ppm",
          expr("(1000000 * n_users) div cohort_size"))
        .select(col("cohort"), col("offset"), col("n_users"),
          col("cohort_size"), col("retention_ppm"))
        .orderBy(col("cohort"), col("offset"))
    }),

    // RFM segmentation — the classic customer-value trichotomy (recency /
    // frequency / monetary), each dimension scored into exact SQL-standard
    // quintiles by the DISTRIBUTED global-ntile operator (q124's block
    // decomposition — no single-partition NTILE window). R and M are
    // quantized first (days / whole dollars): industry RFM bins coarsely
    // anyway, and it's the scale guard — globalNtile's offsets relation is
    // |distinct values|-sized, so scoring on raw epoch-seconds or cents
    // would push an unbounded relation through the one-task prefix sum,
    // while days/dollars keep it bounded by the value RANGE. All integer
    // arithmetic (epoch floor-division, floor-cents), ties broken by
    // user_id — byte-deterministic on any engine.
    "q140_rfm_segments" -> ((s, d) => {
      // localCheckpoint between passes: each globalNtile references its
      // input in THREE subtrees (rows, offsets, total), so three nested
      // passes otherwise replan 3³ = 27 scans of the corpus-sized events
      // aggregation — checkpointing pins it at one scan per pass
      val per = Tables.events(s, d).groupBy(col("user_id")).agg(
        expr("max(unix_timestamp(ts)) div 86400").as("recency_day"),
        count(lit(1)).as("frequency"),
        expr("sum(CAST(floor(value * 100) AS BIGINT)) div 100")
          .as("monetary_usd"))
        .localCheckpoint()
      val r = CurationPack.globalNtile(per, "recency_day", "user_id", 5)
        .withColumnRenamed("bucket", "r_q").localCheckpoint()
      val f = CurationPack.globalNtile(r, "frequency", "user_id", 5)
        .withColumnRenamed("bucket", "f_q").localCheckpoint()
      val m = CurationPack.globalNtile(f, "monetary_usd", "user_id", 5)
        .withColumnRenamed("bucket", "m_q")
      m.select(col("user_id"), col("recency_day"), col("frequency"),
          col("monetary_usd"),
          col("r_q").cast("long").as("r_q"),
          col("f_q").cast("long").as("f_q"),
          col("m_q").cast("long").as("m_q"))
        .withColumn("segment",
          (col("r_q") * 100 + col("f_q") * 10 + col("m_q")).as("segment"))
        .orderBy(col("user_id"))
    }),

    // Out-of-orderness profile — the reference's disorder experiment
    // (reference: jobs/preparation/measure/ReadLikeEventsFromKafkaJob
    // .scala:48-60: late-event count, max lateness, unordered count) as a
    // first-class operator: per arrival order (event_id) within each user
    // partition, an event is late if its event time precedes the running
    // maximum. This is the measurement that sizes watermarks. Per-user
    // windows keep it partition-parallel; lateness is an exact µs diff.
    "q99_disorder_profile" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .withColumn("run_max", max(col("ts")).over(w))
        .withColumn("late",
          col("run_max").isNotNull && col("ts") < col("run_max"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("late"), 1L).otherwise(0L)).cast("long").as("n_late"),
          round(max(when(col("late"),
            col("run_max").cast("double") - col("ts").cast("double"))), 3)
            .as("max_late_sec"))
        .withColumn("late_share",
          round(col("n_late").cast("double") / col("n_events"), 6))
        .orderBy(col("event_type"))
    }),

    // Watermark-coverage curve — q99's decision op: for each candidate
    // watermark delay, the fraction of events a stream job would admit
    // (on-time, or late by no more than the delay). The curve is what
    // actually picks `withWatermark`'s bound: the smallest delay at an
    // acceptable admission rate. Same per-user running-max window as q99,
    // then one conditional-count pass over the candidate delays.
    "q100_watermark_coverage" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val lateness = Tables.events(s, d)
        .withColumn("run_max", max(col("ts")).over(w))
        .withColumn("late_sec",
          when(col("run_max").isNotNull && col("ts") < col("run_max"),
            col("run_max").cast("double") - col("ts").cast("double"))
            .otherwise(0.0))
      lateness
        .select(col("late_sec"),
          explode(typedLit(WM_DELAYS)).as("delay_sec"))
        .groupBy(col("delay_sec"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("late_sec") <= col("delay_sec"), 1L).otherwise(0L))
            .cast("long").as("n_admitted"))
        .withColumn("admit_rate",
          round(col("n_admitted").cast("double") / col("n_events"), 6))
        .orderBy(col("delay_sec"))
    }),

    // Stage-latency histogram — the funnel's companion metric: how long
    // each funnel hop took (session start → first view, view → first
    // ordered click), bucketed to whole minutes per cohort. Durations are
    // exact µs differences floor-divided to minutes — all-integer,
    // engine-exact — and the histogram form keeps the output bounded by
    // cohorts × stages × minutes (a per-cohort exact percentile would
    // instead sort 10 hot groups; any quantile is derivable downstream).
    // Both stages ride ONE pass over q91's per-session staging: the
    // stage rows are an explode of per-row structs, never a self-union
    // that would duplicate the sessionization subtree. Further hops
    // (click → purchase) slot in as more structs; the synthetic corpus
    // never completes that hop, so it is left out rather than shipping a
    // dead branch.
    "q145_stage_latency" -> ((s, d) => {
      funnelSessions(Tables.events(s, d))
        .select((col("user_id") % 10).as("cohort"), explode(array(
          struct(lit("start_view").as("stage"),
            // `div`, not `/`: Column / is double division
            expr("(unix_micros(tv) - first_us) div 60000000")
              .cast("long").as("latency_min")),
          struct(lit("view_click").as("stage"),
            expr("(unix_micros(tc) - unix_micros(tv)) div 60000000")
              .cast("long").as("latency_min")))).as("x"))
        .filter(col("x.latency_min").isNotNull)
        .groupBy(col("cohort"), col("x.stage").as("stage"),
          col("x.latency_min").as("latency_min"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("cohort"), col("stage"), col("latency_min"))
    }),

    // Event-transition (Markov) matrix — the user-journey table behind
    // "what do users do after a click": consecutive same-user event pairs
    // closer than the 30-min session gap (strict <, the complement of
    // q24's >= 1800 new-session rule, so transitions never bridge
    // sessions), counted per (from, to) with the per-from share in exact
    // ppm. Gaps compare as µs longs — engine-exact, no float seconds.
    // Scale: one shuffle on user_id feeds the lag window (per-user
    // partitions, bounded by user activity); everything after the pair
    // count is alphabet²-sized, where the per-from totals are a window sum.
    "q143_event_transitions" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("event_id"))
      val seq = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("tus"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .withColumn("prev_tus", lag(col("tus"), 1).over(w))
      val tr = seq
        .filter(col("prev_type").isNotNull &&
          col("tus") - col("prev_tus") < 1800000000L)
        .groupBy(col("prev_type").as("from_type"),
          col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      // per-from totals as a window over the already-aggregated alphabet²
      // relation — a second aggregation would re-derive (and re-scan) the
      // whole corpus subtree, q140's self-reference replan trap
      tr.withColumn("from_total",
          sum(col("n")).over(Window.partitionBy(col("from_type")))
            .cast("long"))
        .withColumn("share_ppm",
          expr("(1000000 * n) div from_total").cast("long"))
        .select(col("from_type"), col("to_type"), col("n"),
          col("from_total"), col("share_ppm"))
        .orderBy(col("from_type"), col("to_type"))
    }),

    // Hourly-count anomaly detection — the ops-monitoring pass that flags
    // event-rate spikes and dips per type. 3σ on the population variance,
    // expressed entirely in integers: (x−μ)² > 9σ² over observed hourly
    // buckets ⟺ (nb·x − S)² > 9·(nb·Q − S²) with S = Σx, Q = Σx² — no
    // division, no floats, byte-exact on any engine. Output ∝ anomalies
    // (plus direction), never the bucket table. Scale: one (type, hour)
    // partial-agg shuffle; the per-type stats ride a window over the
    // bucket relation (hours × alphabet rows — a second aggregation would
    // duplicate the corpus subtree). The scorecard itself lives in
    // [[anomalyScore]] (DECIMAL(38,0) comparison; shared with the live
    // streaming-fold path).
    "q144_count_anomaly" -> ((s, d) =>
      anomalyScore(Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 3600000000").as("hr"))
        .agg(count(lit(1)).as("cnt")))
        .orderBy(col("event_type"), col("hr"))),

    // A/B experiment evaluation — the two-proportion z-test every
    // product-analytics pipeline ends in, in pure integers: variant =
    // user_id % 2, exposure = any view, conversion = a purchase within
    // 24 h after the user's FIRST view. Significance at 95% without a
    // single float: z² > 3.8416 ⟺ 2500·(c_a·n_b − c_b·n_a)²·(n_a+n_b) >
    // 9604·n_a·n_b·c·(n−c) (pooled variance cleared of its denominators;
    // 3.8416 = 9604/2500 exactly) — the decision is byte-identical on
    // any engine, no rounding contract at all. See [[abEval]] for the
    // shuffle shape and the DECIMAL(38) note.
    "q146_ab_experiment" -> ((s, d) =>
      abEval(Tables.events(s, d), 86400000000L)),

    // ROLLUP grouping sets (absent in the reference — SURVEY §2.5 "absent"
    // list — declared-supported in our engine; Catalyst expands for free).
    "q25_rollup" -> ((s, d) => {
      Tables.events(s, d)
        .rollup(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(unix_timestamp(col("day")).as("day_epoch"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy(col("day_epoch").asc_nulls_first, col("event_type").asc_nulls_first)
    })
  )

  /** q144's 3σ scorecard over an arbitrary (event_type, hr, cnt) bucket
    * relation — shared by the batch query and the live monitor path
    * (StreamingSpec folds hourly counts with a streaming window agg and
    * scores the folded table with this exact pass; counts are the
    * sufficient statistic, the LabelQualityJob pattern). The comparison
    * runs in DECIMAL(38,0) (s² alone crosses 2^63 at ~3e9 events per
    * type — int64 would WRAP silently there; 38 digits cover s ≤ ~1e18);
    * no decimal reaches the output, so the hash contract stays integer. */
  def anomalyScore(b: DataFrame): DataFrame = {
    val wt = Window.partitionBy(col("event_type"))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val dev = dec(col("nb")) * dec(col("cnt")) - dec(col("s"))
    b.withColumn("nb", count(lit(1)).over(wt))
      .withColumn("s", sum(col("cnt")).over(wt).cast("long"))
      // Σcnt² accumulates in decimal too: one 2^31.5-count hour already
      // wraps an int64 square
      .withColumn("q", sum(dec(col("cnt")) * dec(col("cnt"))).over(wt))
      .filter(dev * dev > dec(lit(9L)) *
        (dec(col("nb")) * col("q") - dec(col("s")) * dec(col("s"))))
      .withColumn("direction",
        when(dev > 0, "high").otherwise("low"))
      .select(col("event_type"), col("hr"), col("cnt"), col("direction"))
  }

  /** q146's core over an arbitrary events frame (the spec drives the
    * significant branch with synthetic skew — the uniform corpus's
    * variants are near-identical by construction, so `significant` is
    * false there). Scale: the first-view window and the per-user
    * conversion fold share ONE user_id exchange; the variant rollup
    * partial-aggregates each partition to ≤ 2 rows before its shuffle, so
    * the 2-key "hot" groupBy never moves user-count rows. The z² terms
    * are compared in DECIMAL(38,0) — int64 wraps SILENTLY already at
    * ~10⁶ users/variant with a routine 2pp lift (d = c_a·n_b − c_b·n_a
    * ≈ Δp·n²/4, and 2500·d²·n must fit) — and the decimals stay internal
    * so every output column keeps the integer hash contract. 38 digits
    * hold to n ≈ 10⁷ total in the adversarial worst case (full-vs-zero
    * conversion) and ≈ 10⁹ at realistic lifts; beyond that the overflow
    * SURFACES (NULL verdict on Spark, error on DuckDB) instead of
    * silently flipping the verdict. */
  def abEval(events: DataFrame, windowUs: Long): DataFrame = {
    val wU = Window.partitionBy(col("user_id"))
    val flags = events
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"))
      .withColumn("fv",
        min(when(col("event_type") === "view", col("tus"))).over(wU))
      .filter(col("fv").isNotNull)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase"
        && col("tus") > col("fv")
        && col("tus") <= col("fv") + windowUs, 1L).otherwise(0L)).as("conv"))
    abScore(flags.groupBy((col("user_id") % 2).as("variant"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).cast("long").as("c")))
  }

  /** q146's verdict tail over an arbitrary (variant, n, c) per-variant
    * count relation — factored so the live monitor
    * ([[graft.streaming.StreamOps.abCounts]]: signed per-user deltas
    * folded by a streaming sum; counts are the sufficient statistic,
    * the anomaly-monitor pattern) scores its folded table with the
    * EXACT batch arithmetic. */
  def abScore(perVariant: DataFrame): DataFrame =
    perVariant
      .agg(
        max(when(col("variant") === 0, col("n"))).cast("long").as("n_a"),
        max(when(col("variant") === 0, col("c"))).cast("long").as("c_a"),
        max(when(col("variant") === 1, col("n"))).cast("long").as("n_b"),
        max(when(col("variant") === 1, col("c"))).cast("long").as("c_b"))
      .withColumn("cr_a_ppm", expr("(1000000 * c_a) div n_a"))
      .withColumn("cr_b_ppm", expr("(1000000 * c_b) div n_b"))
      .withColumn("significant", expr(
        """2500 * (CAST(c_a AS DECIMAL(38,0)) * n_b - CAST(c_b AS DECIMAL(38,0)) * n_a)
          |     * (CAST(c_a AS DECIMAL(38,0)) * n_b - CAST(c_b AS DECIMAL(38,0)) * n_a)
          |     * (n_a + n_b)
          | > 9604 * CAST(n_a AS DECIMAL(38,0)) * n_b * (c_a + c_b)
          |     * (n_a + n_b - c_a - c_b)""".stripMargin))

  /** The q91 session-staging CTE chain (sessionize → ordered stage
    * minima → one row per session), shared by the q91 and q145 oracles. */
  private val sqlFunnelCtes: String =
    """marked AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), numbered AS (
      |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM marked
      |), s1 AS (
      |  SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
      |    OVER (PARTITION BY user_id, sid) AS t_view
      |  FROM numbered
      |), s2 AS (
      |  SELECT *, min(CASE WHEN event_type = 'click' AND t_view IS NOT NULL
      |      AND ts >= t_view THEN ts END)
      |    OVER (PARTITION BY user_id, sid) AS t_click
      |  FROM s1
      |), s3 AS (
      |  SELECT *, min(CASE WHEN event_type = 'purchase' AND t_click IS NOT NULL
      |      AND ts >= t_click THEN ts END)
      |    OVER (PARTITION BY user_id, sid) AS t_purchase
      |  FROM s2
      |), per AS (
      |  SELECT user_id, sid, max(t_view) AS tv, max(t_click) AS tc,
      |    max(t_purchase) AS tp, min(epoch_us(ts)) AS first_us
      |  FROM s3 GROUP BY user_id, sid
      |)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q20_tumbling_stats" ->
      """SELECT CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS wstart,
        |  event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
        |  round(sum(value),2) AS sum_value
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    // Each event belongs to the 24 sliding windows whose start is the
    // enclosing 30-min bucket minus k slides, k = 0..23 (12h/30min).
    "q21_sliding_stats" ->
      """SELECT wstart, user_id, count(*) AS n_events,
        |  count(*) FILTER (event_type = 'purchase') AS n_purchase,
        |  count(*) FILTER (event_type = 'click') AS n_click,
        |  count(DISTINCT event_type) AS n_types
        |FROM (
        |  SELECT e.*, (CAST(floor(epoch(ts)/1800) AS BIGINT) - s.k) * 1800 AS wstart
        |  FROM events e, generate_series(0, 23) s(k)
        |) GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "q22_windowed_collect_set" ->
      """SELECT CAST(floor(epoch(ts)/14400) AS BIGINT)*14400 AS wstart, user_id,
        |  string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types,
        |  count(*) AS n
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "q23_asof_join" ->
      """SELECT event_id, user_id, round(value,2) AS value,
        |  CASE WHEN pv_ts IS NOT NULL AND epoch(ts) - epoch(pv_ts) <= 21600
        |       THEN round(pv_val,2) ELSE 0 END AS prior_view_value
        |FROM (
        |  SELECT *,
        |    last_value(CASE WHEN event_type='view' THEN ts END IGNORE NULLS)
        |      OVER w AS pv_ts,
        |    last_value(CASE WHEN event_type='view' THEN value END IGNORE NULLS)
        |      OVER w AS pv_val
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |) WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,

    // Sessionization: new session when gap >= 30 min (Spark's session
    // window is [start, last+gap), an event at exactly last+gap opens a
    // new session).
    "q24_session_window" ->
      """WITH marked AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) >= 1800
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |), numbered AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked
        |)
        |SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS sess_start,
        |  count(*) AS n_events, round(sum(value),2) AS sum_value
        |FROM numbered GROUP BY user_id, sid ORDER BY user_id, sess_start""".stripMargin,

    "q91_funnel" -> {
      def r4(e: String) = graft.functions.Hashes.sqlRound(e, 4)
      s"""WITH $sqlFunnelCtes
         |SELECT user_id % 10 AS cohort, count(*) AS n_sessions,
         |  count(tv) AS n_view, count(tc) AS n_view_click,
         |  count(tp) AS n_full_funnel,
         |  ${r4("count(tv)::DOUBLE / count(*)")} AS view_rate,
         |  CASE WHEN count(tv) > 0
         |    THEN ${r4("count(tc)::DOUBLE / count(tv)")} END AS click_conv,
         |  CASE WHEN count(tc) > 0
         |    THEN ${r4("count(tp)::DOUBLE / count(tc)")} END AS purchase_conv
         |FROM per GROUP BY cohort ORDER BY cohort""".stripMargin
    },

    "q138_retention_cohorts" ->
      """WITH w AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS week
        |  FROM events
        |), c AS (
        |  SELECT user_id, min(week) AS cohort FROM w GROUP BY user_id
        |), cells AS (
        |  SELECT cohort, week - cohort AS "offset", count(*)::BIGINT AS n_users
        |  FROM w JOIN c USING (user_id) GROUP BY 1, 2
        |), sizes AS (
        |  SELECT cohort, n_users AS cohort_size FROM cells WHERE "offset" = 0
        |)
        |SELECT cohort, "offset", n_users, cohort_size,
        |  ((1000000 * n_users) // cohort_size)::BIGINT AS retention_ppm
        |FROM cells JOIN sizes USING (cohort)
        |ORDER BY cohort, "offset"""".stripMargin,

    "q140_rfm_segments" ->
      """WITH per AS (
        |  SELECT user_id,
        |    max(epoch_us(ts) // 1000000) // 86400 AS recency_day,
        |    count(*)::BIGINT AS frequency,
        |    (sum(floor(value * 100)::BIGINT)::BIGINT // 100) AS monetary_usd
        |  FROM events GROUP BY user_id
        |), q AS (
        |  SELECT *,
        |    ntile(5) OVER (ORDER BY recency_day, user_id)::BIGINT AS r_q,
        |    ntile(5) OVER (ORDER BY frequency, user_id)::BIGINT AS f_q,
        |    ntile(5) OVER (ORDER BY monetary_usd, user_id)::BIGINT AS m_q
        |  FROM per
        |)
        |SELECT user_id, recency_day, frequency, monetary_usd, r_q, f_q, m_q,
        |  (r_q * 100 + f_q * 10 + m_q)::BIGINT AS segment
        |FROM q ORDER BY user_id""".stripMargin,

    "q100_watermark_coverage" -> {
      val r6 = graft.functions.Hashes.sqlRound("n_admitted::DOUBLE / n_events", 6)
      s"""WITH lateness AS (
         |  SELECT CASE WHEN run_max IS NOT NULL AND ts < run_max
         |    THEN epoch(run_max) - epoch(ts) ELSE 0.0 END AS late_sec
         |  FROM (
         |    SELECT ts, max(ts) OVER (PARTITION BY user_id ORDER BY event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_max
         |    FROM events
         |  )
         |), curve AS (
         |  SELECT delay_sec, count(*) AS n_events,
         |    sum(CASE WHEN late_sec <= delay_sec THEN 1 ELSE 0 END)::BIGINT
         |      AS n_admitted
         |  FROM lateness, LATERAL unnest(${WM_DELAYS.mkString("[", ",", "]")})
         |    AS u(delay_sec)
         |  GROUP BY delay_sec
         |)
         |SELECT delay_sec, n_events, n_admitted, $r6 AS admit_rate
         |FROM curve ORDER BY delay_sec""".stripMargin
    },

    "q99_disorder_profile" -> {
      val r = graft.functions.Hashes.sqlRound _
      s"""WITH lateness AS (
         |  SELECT event_type,
         |    max(ts) OVER (PARTITION BY user_id ORDER BY event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_max,
         |    ts
         |  FROM events
         |), flagged AS (
         |  SELECT event_type,
         |    (run_max IS NOT NULL AND ts < run_max) AS late,
         |    CASE WHEN run_max IS NOT NULL AND ts < run_max
         |      THEN epoch(run_max) - epoch(ts) END AS late_sec
         |  FROM lateness
         |)
         |SELECT event_type, count(*) AS n_events,
         |  sum(CASE WHEN late THEN 1 ELSE 0 END)::BIGINT AS n_late,
         |  ${r("max(late_sec)", 3)} AS max_late_sec,
         |  ${r("sum(CASE WHEN late THEN 1 ELSE 0 END)::DOUBLE / count(*)", 6)}
         |    AS late_share
         |FROM flagged GROUP BY event_type ORDER BY event_type""".stripMargin
    },

    "q146_ab_experiment" ->
      """WITH fv AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS tus,
        |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
        |      OVER (PARTITION BY user_id) AS fv
        |  FROM events
        |), flags AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' AND tus > fv
        |          AND tus <= fv + 86400000000 THEN 1 ELSE 0 END) AS conv
        |  FROM fv WHERE fv IS NOT NULL GROUP BY user_id
        |), v AS (
        |  SELECT user_id % 2 AS variant, count(*)::BIGINT AS n,
        |    sum(conv)::BIGINT AS c
        |  FROM flags GROUP BY 1
        |), w AS (
        |  SELECT
        |    max(CASE WHEN variant = 0 THEN n END)::BIGINT AS n_a,
        |    max(CASE WHEN variant = 0 THEN c END)::BIGINT AS c_a,
        |    max(CASE WHEN variant = 1 THEN n END)::BIGINT AS n_b,
        |    max(CASE WHEN variant = 1 THEN c END)::BIGINT AS c_b
        |  FROM v
        |)
        |SELECT n_a, c_a, n_b, c_b,
        |  ((1000000 * c_a) // n_a)::BIGINT AS cr_a_ppm,
        |  ((1000000 * c_b) // n_b)::BIGINT AS cr_b_ppm,
        |  2500::HUGEINT * (c_a::HUGEINT*n_b - c_b::HUGEINT*n_a)
        |      * (c_a::HUGEINT*n_b - c_b::HUGEINT*n_a) * (n_a + n_b)
        |    > 9604::HUGEINT * n_a * n_b * (c_a + c_b)
        |      * (n_a + n_b - c_a - c_b)
        |    AS significant
        |FROM w""".stripMargin,

    "q145_stage_latency" ->
      s"""WITH $sqlFunnelCtes, stages AS (
         |  SELECT user_id % 10 AS cohort, 'start_view' AS stage,
         |    (epoch_us(tv) - first_us) // 60000000 AS latency_min
         |  FROM per WHERE tv IS NOT NULL
         |  UNION ALL
         |  SELECT user_id % 10, 'view_click',
         |    (epoch_us(tc) - epoch_us(tv)) // 60000000
         |  FROM per WHERE tc IS NOT NULL
         |)
         |SELECT cohort, stage, latency_min, count(*)::BIGINT AS n
         |FROM stages GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q143_event_transitions" ->
      """WITH seq AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS tus,
        |    lag(event_type) OVER w AS prev_type,
        |    lag(epoch_us(ts)) OVER w AS prev_tus
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), tr AS (
        |  SELECT prev_type AS from_type, event_type AS to_type,
        |    count(*)::BIGINT AS n
        |  FROM seq
        |  WHERE prev_type IS NOT NULL AND tus - prev_tus < 1800000000
        |  GROUP BY 1, 2
        |), tot AS (
        |  SELECT from_type, sum(n)::BIGINT AS from_total FROM tr GROUP BY 1
        |)
        |SELECT from_type, to_type, n, from_total,
        |  ((1000000 * n) // from_total)::BIGINT AS share_ppm
        |FROM tr JOIN tot USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,

    "q144_count_anomaly" ->
      """WITH b AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
        |    count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2
        |), st AS (
        |  SELECT event_type, count(*)::BIGINT AS nb, sum(cnt)::BIGINT AS s,
        |    sum(cnt * cnt)::BIGINT AS q
        |  FROM b GROUP BY 1
        |)
        |SELECT event_type, hr, cnt,
        |  CASE WHEN nb * cnt - s > 0 THEN 'high' ELSE 'low' END AS direction
        |FROM b JOIN st USING (event_type)
        |WHERE (nb * cnt - s) * (nb * cnt - s) > 9 * (nb * q - s * s)
        |ORDER BY event_type, hr""".stripMargin,

    "q25_rollup" ->
      """SELECT CAST(floor(epoch(day)) AS BIGINT) AS day_epoch, event_type,
        |  count(*) AS n, round(sum(value),2) AS sum_value
        |FROM (SELECT date_trunc('day', ts) AS day, event_type, value FROM events)
        |GROUP BY ROLLUP(day, event_type)
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin
  )
}
