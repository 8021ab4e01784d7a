package graft.operators

import graft.Tables
import graft.functions.{FreqSketch, Hashes}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import CurationPack.{SPAN, isTest, sqlIsTest}

/** Corpus statistics & sampling operators — the frequency/probability layer
  * of a training-data pipeline: heavy hitters, weighted reservoir sampling,
  * LM-probability quality scoring, temperature-based mixture rebalancing,
  * and Bloom-pruned decontamination. All new surface beyond the reference
  * (the brief's "operations a large-scale training-data pipeline would
  * need"); grows from the same hash/shingle primitives as TextPack and
  * CurationPack (reference seed: RecommendationUtils.scala:16-49).
  *
  * Scale design (100 TB):
  *  - q81 global top-k never materializes a global sort: Spark plans
  *    `orderBy(...).limit(k)` as TakeOrderedAndProject — per-partition
  *    top-k heaps merged on the driver, O(k) memory per partition. The
  *    streaming/mergeable twin is [[graft.functions.FreqSketch]] (q86).
  *  - q82 weighted sampling is the Efraimidis–Spirakis one-pass reservoir
  *    (key = ln(u)/w, keep k largest) with u derived from a hash of the
  *    row id — stateless, shuffle-free scoring + the same TakeOrdered
  *    top-k; identical sample on any engine, partitioning, or retry.
  *  - q83 LM scoring builds a corpus-small unigram table that broadcasts
  *    back onto the exploded token stream (one wide pass); per-token
  *    log-probs are quantized to integer micro-nats so the per-doc sum is
  *    addition-order exact under any partial-aggregation tree.
  *  - q84 mixture weights fold per-source totals (tiny side table) and
  *    keep/drop rows with the q64 stateless hash predicate; sqrt/division
  *    are IEEE correctly-rounded, so rates are bit-identical cross-engine.
  *  - q85 decontamination is the bloom-prune + exact-confirm pattern: a
  *    driver-built Bloom filter over train span hashes prunes the test
  *    span stream BEFORE the shuffle join (no false negatives, FPs removed
  *    by the exact confirm), so the join's left side shrinks from |test
  *    spans| to |contaminated ∪ FP| — the standard way a 100 TB semi-join
  *    avoids shuffling the big side.
  */
object SamplingPack {
  type Q = (SparkSession, String) => DataFrame

  private val HH_K      = 20      // heavy hitters reported (q81)
  private val WS_K      = 20      // weighted sample size (q82)
  private val U_DENOM   = 1000000L // hash→uniform granularity (q82)
  private val LP_SCALE  = 1000000L // micro-nat quantization (q83)
  private val LM_KEEP_T = -8.0    // avg-logprob keep threshold (q83)
  private val RATE_DENOM = 10000  // keep-rate granularity, basis points (q84)
  private val BLOOM_FPP = 0.01    // q85 prune-stage false-positive rate
  private val MG_K      = 8       // Misra-Gries counter budget (q86)
  private val MARKER_K  = 20      // per-language marker vocabulary (q95)
  private val HIST_W    = 50      // histogram bucket width, chars (q96)
  private val QUOTA     = 5       // per-source sample quota (q97)
  private val Z_T       = 3.0     // outlier |z| threshold (q87)
  private val TS_MIN    = 1704067200L // 2024-01-01 UTC (q88 event-time bounds)
  private val TS_MAX    = 1735689600L // 2025-01-01 UTC
  private val KEY_K     = 10      // distinctive tokens kept per source (q106)
  private val ZIPF_Q    = 1000    // ln-space quantization, milli-nats (q107)
  private val BUDGET_MULT    = 2L    // q123 token budget = 2× corpus tokens
  private val EPOCH_CAP_MILLI = 2000L // q123 max repeats per source (milli-epochs)
  private val DSIR_B      = 1024  // q150 hashed-feature buckets
  private val DSIR_TARGET = "en"  // q150 target distribution: en docs
  private val DSIR_K      = 50    // q150 selected docs reported
  private val EG_ETA      = 0.1   // q157 exponentiated-gradient step size

  private def toks: Column = split(col("text"), " ")

  /** q150's hashed-unigram token view of a documents frame: one row per
    * token with its DSIR feature bucket (base32 % B — bounds the feature
    * model at B rows regardless of vocabulary, the paper's trick). */
  private def dsirTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("source"),
        explode(toks).as("tok"))
      .withColumn("b", Hashes.base32(col("tok")) % DSIR_B)

  /** q150's B-row log-likelihood-ratio table ln(p̂_t[b]/p̂_r[b]) in integer
    * micro-nats — the DSIR "model", trained once from the static corpus
    * and broadcast to every scorer (batch pass or streaming micro-batch).
    * Counts convert long→double BEFORE the ratio multiply (q98's
    * overflow-safe contract). */
  private[graft] def dsirRatios(s: SparkSession, d: String): DataFrame = {
    val dtok = dsirTokens(Tables.documents(s, d))
    // the B-row bucket table is referenced twice (totals + ratios):
    // localCheckpoint pins it to ONE derivation so the corpus-sized
    // explode underneath runs once, not once per consumer
    val bt = dtok.groupBy(col("b")).agg(
      count(lit(1)).as("c_raw"),
      count(when(col("lang") === DSIR_TARGET, 1)).as("c_t"))
      .localCheckpoint()
    val tot = bt.agg(sum(col("c_raw")).cast("long").as("t_raw"),
      sum(col("c_t")).cast("long").as("t_t"))
    bt.crossJoin(broadcast(tot))
      .select(col("b"), floor(log(
        (col("c_t") + 1).cast("double") * (col("t_raw") + DSIR_B).cast("double")
          / ((col("c_raw") + 1).cast("double")
            * (col("t_t") + DSIR_B).cast("double"))) * LP_SCALE)
        .cast("long").as("lr_micro"))
  }

  /** Per-doc DSIR importance scores of `docs` under a FIXED ratio table —
    * a stateless map + per-doc sum once `lr` is broadcast, which is what
    * makes the streaming twin exactly-once-cheap: a doc's score depends
    * only on its own text, so any micro-batching (or replay) of the same
    * docs yields byte-identical rows. Per-bucket ln-ratios are integer
    * micro-nats, so the per-doc sum is exact under any combine tree. */
  private[graft] def dsirScore(docs: DataFrame, lr: DataFrame): DataFrame =
    dsirTokens(docs).select(col("doc_id"), col("lang"), col("source"), col("b"))
      .join(broadcast(lr), "b")
      .groupBy(col("doc_id"), col("lang"), col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("lr_micro")).cast("long").as("w_micro"))

  /** (doc_id, h) span-hash rows: consecutive SPAN-token spans fingerprinted
    * with the 60-bit hash (q77's span definition, hashed — at scale the
    * hash, not the text, is what shuffles). */
  private def spanHashes(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0),
          ((size(col("t")) - 1) / SPAN).cast("long"))).as("k"))
      .select(col("doc_id"),
        Hashes.base60(
          concat_ws(" ", slice(col("t"), col("k") * SPAN + 1, lit(SPAN)))).as("h"))

  private val sqlSpanHashes =
    s"""SELECT doc_id,
       |  ${Hashes.sqlBase60(s"array_to_string(t[k*$SPAN+1 : k*$SPAN+$SPAN], ' ')")} AS h
       |FROM (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
       |     LATERAL unnest(range(0, (len(t)-1)//$SPAN + 1)) AS u(k)""".stripMargin

  val queries: Map[String, Q] = Map(
    // Corpus-wide heavy hitters: exact top-k token frequencies + corpus
    // share. groupBy gives the map-side partial count; orderBy+limit plans
    // as TakeOrderedAndProject (distributed top-k heaps, no global sort).
    // The re-rank window runs over k rows, not the corpus.
    "q81_heavy_hitters" -> ((s, d) => {
      // one derivation of the token rollup for both the total and the
      // top-K heap (the q83 single-derivation contract)
      val tc = Tables.documents(s, d)
        .select(explode(toks).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val tot = tc.agg(sum(col("n")).cast("long").as("tot"))
      tc.orderBy(col("n").desc, col("tok")).limit(HH_K)
        .crossJoin(broadcast(tot))
        .withColumn("share", round(col("n").cast("double") / col("tot"), 6))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("n").desc, col("tok"))))
        .select(col("rank"), col("tok"), col("n"), col("share"))
        .orderBy(col("rank"))
    }),

    // Weighted sampling without replacement (Efraimidis–Spirakis, IPL 2006):
    // key_i = ln(u_i)/w_i with u_i ∈ (0,1] uniform and w_i = n_chars; the
    // k largest keys ARE a weight-proportional sample. u_i comes from the
    // q64 hash (not an RNG), so the sample is reproducible across engines,
    // retries, and partitionings. Rank on the 8-decimal rounding (q63's
    // rank-on-rounded pattern: collapses cross-engine ulp noise in ln).
    "q82_weighted_sample" -> ((s, d) => {
      val u = (Hashes.base32(col("doc_id").cast("string")) % U_DENOM + 1L)
        .cast("double") / lit(U_DENOM.toDouble)
      val key = log(u) / col("n_chars")
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"),
          round(key, 8).as("key8"))
        .orderBy(col("key8").desc, col("doc_id")).limit(WS_K)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("key8").desc, col("doc_id"))))
        .select(col("rank"), col("doc_id"), col("source"), col("n_chars"),
          round(col("key8"), 6).as("es_key"))
        .orderBy(col("rank"))
    }),

    // LM-probability quality scoring (the CCNet/Gopher "perplexity filter"
    // with the corpus itself as the unigram LM): p(tok) = (c+1)/(T+V)
    // add-one smoothed; per-doc mean log-prob decides keep/drop. Per-token
    // log-probs are quantized to integer micro-nats (floor(ln·1e6)) so the
    // per-doc SUM is exact integer arithmetic — addition-order independent
    // under any combine tree, hence bit-identical to the oracle.
    "q83_lm_quality" -> ((s, d) => {
      val dtok = Tables.documents(s, d)
        .select(col("doc_id"), explode(toks).as("tok"))
      // the vocabulary rollup feeds both the 1-row totals and the
      // log-prob table: localCheckpoint pins it to one derivation so the
      // corpus explode underneath runs once, not once per consumer
      val tc = dtok.groupBy(col("tok")).agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val stats = tc.agg(sum(col("c")).cast("long").as("t_tokens"),
        count(lit(1)).as("v_size"))
      val lp = tc.crossJoin(broadcast(stats))
        .select(col("tok"),
          floor(log((col("c") + 1).cast("double")
            / (col("t_tokens") + col("v_size")).cast("double")) * LP_SCALE)
            .cast("long").as("lp_micro"))
      dtok.join(broadcast(lp), "tok")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("lp_micro")).cast("long").as("sum_lp_micro"))
        .withColumn("avg_logprob",
          round(col("sum_lp_micro").cast("double")
            / (col("n_tokens") * LP_SCALE), 4))
        .withColumn("kept", col("avg_logprob") >= LM_KEEP_T)
        .orderBy(col("doc_id"))
    }),

    // DSIR data selection (Xie et al. 2023, "Data Selection for Language
    // Models via Importance Resampling"): rank every raw doc by how much
    // its hashed-unigram profile resembles the TARGET distribution (en
    // docs here, standing in for the curated reference corpus) relative
    // to the raw corpus: w(doc) = Σ_tok ln(p̂_t[h(tok)] / p̂_r[h(tok)]).
    // Hashing (base32 % B) bounds the feature model at B rows regardless
    // of vocabulary — the paper's trick, and what makes the ratio table a
    // broadcast at any corpus size; add-one smoothing keeps every bucket
    // finite. The counts convert long→double BEFORE the ratio multiply
    // (q98's overflow-safe contract: at 1e13 tokens the int64 cross
    // products overflow) and each bucket's ln-ratio quantizes to integer
    // micro-nats (q83's contract) so per-doc sums are exact under any
    // combine tree. Scale: two linear passes over the exploded token
    // stream (bucket stats, then scoring — at 100 TB recompute beats
    // caching a corpus-sized relation), a B-row broadcast, and a top-K
    // TakeOrdered heap; nothing grows with the vocabulary or corpus.
    // The scoring pass carries (lang, source) as grouping keys — they're
    // functionally dependent on doc_id, cost nothing after the map-side
    // partial agg, and save a third corpus scan + a corpus-sized rejoin
    // shuffle (plan-guarded: two scans, no post-scoring join).
    // Split as [[dsirRatios]] (the bootstrap) + [[dsirScore]] (the
    // stateless per-doc map) so the streaming twin
    // ([[graft.streaming.DsirStream]]) scores arriving docs with the
    // SAME code under the same broadcast ratio table.
    "q150_dsir_selection" -> ((s, d) => {
      dsirScore(Tables.documents(s, d), dsirRatios(s, d))
        .orderBy(col("w_micro").desc, col("doc_id")).limit(DSIR_K)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("w_micro").desc, col("doc_id"))))
        .select(col("rank"), col("doc_id"), col("lang"), col("source"),
          col("n_tokens"), col("w_micro"))
        .orderBy(col("rank"))
    }),

    // One DoReMi-style mixture-reweighting step (Xie et al. 2023, "DoReMi:
    // Optimizing Data Mixtures Speeds Up Language Model Pretraining"):
    // domain weights move by exponentiated gradient on per-domain EXCESS
    // LOSS — here each source's mean per-token surprisal under q83's
    // corpus unigram LM, relative to the corpus mean (a source the LM
    // finds harder than average gets upweighted, the paper's worst-case
    // emphasis). Determinism: per-token log-probs are q83's integer
    // micro-nats, each mean is ONE IEEE division of two exact longs, the
    // excess floors to integer micro-nats, and the EG factor
    // w0·exp(η·excess) floors to integer micro-units BEFORE the
    // normalization sum — so Σv and the final ppm weights are exact
    // integer arithmetic under any combine order. Scale: the corpus cost
    // is exactly q83's two passes over the exploded token stream; all the
    // mixture math runs on the |sources|-row rollup with two 1-row
    // broadcasts.
    "q157_mixture_reweight" -> ((s, d) => {
      val dtok = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), explode(toks).as("tok"))
      // one derivation of the vocabulary rollup (q83's contract)
      val tc = dtok.groupBy(col("tok")).agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val stats = tc.agg(sum(col("c")).cast("long").as("t_tokens"),
        count(lit(1)).as("v_size"))
      val lp = tc.crossJoin(broadcast(stats))
        .select(col("tok"),
          floor(log((col("c") + 1).cast("double")
            / (col("t_tokens") + col("v_size")).cast("double")) * LP_SCALE)
            .cast("long").as("lp_micro"))
      val perSrc = dtok.join(broadcast(lp), "tok")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("t_s"),
          sum(col("lp_micro")).cast("long").as("lp_s"))
        // |sources|-row rollup consumed by the corpus totals, the EG
        // step, and (via stepped) the normalizer — truncate so the
        // corpus-sized scoring join underneath runs exactly once
        .localCheckpoint()
      val corpus = perSrc.agg(sum(col("t_s")).cast("long").as("t_all"),
        sum(col("lp_s")).cast("long").as("lp_all"))
      val stepped = perSrc.crossJoin(broadcast(corpus))
        // surprisal = −logprob: excess = source mean surprisal − corpus
        // mean surprisal, each mean one exact-long IEEE division
        .withColumn("excess_micro",
          floor(col("lp_all").cast("double") / col("t_all").cast("double")
            - col("lp_s").cast("double") / col("t_s").cast("double"))
            .cast("long"))
        .withColumn("w0_ppm",
          expr("(1000000 * t_s) div t_all").cast("long"))
        .withColumn("v_micro",
          floor(col("w0_ppm").cast("double")
            * exp(lit(EG_ETA) * col("excess_micro").cast("double") / 1e6))
            .cast("long"))
      // stepped re-derives only from the checkpointed |sources|-row
      // perSrc, so its two consumers (normalizer, final select) are cheap
      val norm = stepped.agg(sum(col("v_micro")).cast("long").as("v_sum"))
      stepped.crossJoin(broadcast(norm))
        .select(col("source"), col("t_s").cast("long").as("tokens"),
          col("w0_ppm"), col("excess_micro"), col("v_micro"),
          expr("(1000000 * v_micro) div v_sum").cast("long").as("w1_ppm"))
        .orderBy(col("source"))
    }),

    // Temperature-based mixture rebalancing (multilingual-LM sampling,
    // α = 0.5): keep-rate ∝ tokens^α/max(tokens^α) flattens the source
    // distribution without equalizing it (q59 equalizes to the minimum —
    // this is the gentler standard knob). sqrt and division are IEEE
    // correctly-rounded, so rate_bp is bit-identical cross-engine;
    // membership is the q64 stateless hash predicate.
    "q84_mix_temperature" -> ((s, d) => {
      val perDoc = Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          size(toks).cast("long").as("ntok"),
          (Hashes.base32(col("doc_id").cast("string")) % RATE_DENOM).as("bucket"))
      // |sources|-row totals feed both the max and the rejoin: truncate
      // so the corpus scan underneath runs once, not once per consumer
      val totals = perDoc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).cast("long").as("tot_tokens"))
        .localCheckpoint()
      val mx = totals.agg(max(col("tot_tokens")).as("max_tokens"))
      perDoc.join(broadcast(totals), "source")
        .crossJoin(broadcast(mx))
        .withColumn("rate_bp",
          floor(lit(RATE_DENOM) * sqrt(col("tot_tokens").cast("double"))
            / sqrt(col("max_tokens").cast("double"))).cast("long"))
        .groupBy(col("source"), col("n_docs"), col("tot_tokens"), col("rate_bp"))
        .agg(count(when(col("bucket") < col("rate_bp"), 1)).as("n_kept"),
          sum(when(col("bucket") < col("rate_bp"), col("ntok")).otherwise(0L))
            .cast("long").as("kept_tokens"))
        .orderBy(col("source"))
    }),

    // Epoch/repeat planner: given a total token budget (BUDGET_MULT × the
    // corpus) and q84's temperature mixture (α = 0.5), how many passes
    // over each source does training make? planned ∝ √tokens, expressed
    // as milli-epochs and capped at EPOCH_CAP_MILLI (the "don't repeat a
    // small domain too often" rule of LLM data plans). All arithmetic
    // after the one correctly-rounded √ is INTEGER (milli-unit weights sum
    // order-invariantly; `div` everywhere), so the plan is bit-identical
    // on any engine or partitioning. Scale: one partial-agg shuffle to
    // |sources| rows, then a broadcast 1-row fold — nothing here grows
    // with the corpus. (At 100 TB budget×w_milli nears 2^63: bump the
    // milli scale down or route through DECIMAL(38,0) — same plan shape.)
    "q123_epoch_plan" -> ((s, d) => {
      val totals = Tables.documents(s, d)
        .select(col("source"), size(toks).cast("long").as("ntok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).cast("long").as("tot_tokens"))
        .withColumn("w_milli",
          floor(sqrt(col("tot_tokens").cast("double")) * 1000.0).cast("long"))
      val g = totals.agg(sum(col("w_milli")).cast("long").as("denom"),
        (lit(BUDGET_MULT) * sum(col("tot_tokens"))).cast("long").as("budget"))
      totals.crossJoin(broadcast(g))
        .withColumn("weight_bp", expr("(10000 * w_milli) div denom"))
        .withColumn("planned_tokens", expr("(budget * w_milli) div denom"))
        .withColumn("epochs_milli",
          expr("(planned_tokens * 1000) div tot_tokens"))
        .withColumn("capped", col("epochs_milli") > EPOCH_CAP_MILLI)
        .withColumn("final_tokens",
          when(col("capped"),
            expr(s"(tot_tokens * $EPOCH_CAP_MILLI) div 1000"))
            .otherwise(col("planned_tokens")))
        .select(col("source"), col("n_docs"), col("tot_tokens"),
          col("weight_bp"), col("planned_tokens"), col("epochs_milli"),
          col("capped"), col("final_tokens"))
        .orderBy(col("source"))
    }),

    // Bloom-pruned train/eval decontamination: test-doc spans whose text
    // appears anywhere in the train split (q55's check at q77's span
    // granularity, on 60-bit hashes). The Bloom filter over train hashes
    // prunes the test span stream BEFORE the shuffle join; the exact
    // confirm join removes its false positives, so the OUTPUT is exactly
    // the no-bloom semi-join (what the oracle computes) while the join
    // input shrinks by ~(1 - contamination - fpp).
    // Filter sizing: expected-item count comes from a one-pass HLL
    // estimate (approx_count_distinct, ~2% err) on the UN-deduplicated
    // train spans — no distinct shuffle and no second full pipeline run
    // just to size the filter. At true corpus scale even a right-sized
    // exact filter is TB-shaped (9.6 bits/item at fpp=0.01), so the scale
    // variant caps the filter size and accepts a higher fpp — the exact
    // confirm join already removes false positives, so a looser filter
    // only prunes less, never changes the output (SCALE.md "Bloom
    // decontamination at corpus scale").
    "q85_bloom_decontam" -> ((s, d) => {
      import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
      import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
      import org.apache.spark.sql.graftglue.ColumnGlue
      val split = Tables.documents(s, d)
        .select(col("doc_id"), isTest.as("is_test"))
      val tagged = spanHashes(s, d).join(split, "doc_id")
      val trainH = tagged.filter(!col("is_test")).select(col("h")).distinct()
      val testSpans = tagged.filter(col("is_test"))
      // the sizing estimate is an EAGER action; memoized per (session, dir)
      // so re-invocations don't re-scan the span stream just to size the
      // filter (the filter itself is still built from the inputs each run)
      val nTrain = Artifacts.get(s, d, "q85.nTrain") {
        math.max(1000L, math.round(1.1 *
          tagged.filter(!col("is_test"))
            .agg(approx_count_distinct(col("h"))).head().getLong(0)))
      }
      // the filter is BUILT AS AN AGGREGATE (Spark's runtime-filter
      // expressions, surfaced through the glue): partial filters merge on
      // the executors and the one-row result broadcasts into the probe's
      // codegen'd might_contain — the filter never materializes on the
      // driver (stat.bloomFilter collects it there, which is what caps
      // the old form at corpus scale)
      val numBits = org.apache.spark.util.sketch.BloomFilter
        .optimalNumOfBits(nTrain, BLOOM_FPP)
      val bfAgg = ColumnGlue.column(new BloomFilterAggregate(
        ColumnGlue.expression(col("h")),
        org.apache.spark.sql.catalyst.expressions.Literal(nTrain),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
        .toAggregateExpression())
      val filt = trainH.agg(bfAgg.as("bf"))
      val totals = testSpans.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"))
      val hits = testSpans
        .filter(ColumnGlue.column(new BloomFilterMightContain(
          ColumnGlue.expression(ColumnGlue.scalarSubquery(filt)),
          ColumnGlue.expression(col("h")))))
        .join(trainH.withColumn("hit", lit(1)), Seq("h"), "left")
        .groupBy(col("doc_id")).agg(count(col("hit")).as("nh"))
      totals.join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_spans"),
          coalesce(col("nh"), lit(0L)).as("n_hit"))
        .withColumn("contaminated", col("n_hit") > 0)
        .orderBy(col("doc_id"))
    }),

    // Per-type z-score outlier detection — the numeric-column cleaning
    // pass of a data-quality pipeline. Moments are exact integer sums of
    // cents (Σx ≤ 6e9, Σx² ≤ 6e13: both far inside Int64), so mean and
    // variance derive from exact integers through a fixed sequence of
    // IEEE-correctly-rounded double ops — bit-identical cross-engine, no
    // addition-order dependence anywhere. NaN values are excluded up
    // front (mirrored in the oracle): Spark's non-ANSI cast turns NaN
    // into 0 while DuckDB's ::BIGINT errors — q88 audits NaN, this query
    // scores the clean remainder, and both engines agree by construction.
    "q87_outlier_events" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .filter(!isnan(col("value")))
        .withColumn("cents", floor(col("value") * 100).cast("long"))
      val stats = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("cents")).as("s1"),
          sum(col("cents") * col("cents")).as("s2"))
        .withColumn("mu", col("s1").cast("double") / col("n"))
        .withColumn("sigma",
          sqrt((col("s2").cast("double") - col("s1").cast("double") * col("s1") / col("n"))
            / (col("n") - 1)))
        .filter(col("sigma") > 0)
      ev.join(broadcast(stats.select(col("event_type"), col("mu"), col("sigma"))),
          "event_type")
        .withColumn("z", round((col("cents") - col("mu")) / col("sigma"), 4))
        .filter(abs(col("z")) > Z_T)
        .select(col("event_id"), col("event_type"),
          round(col("value"), 2).as("value"), col("z"))
        .orderBy(col("event_id"))
    }),

    // Single-pass schema/quality audit — per-column integrity counters
    // (nulls, JSON extraction failures, value-range violations, event-time
    // bounds, cardinalities) a pipeline gates ingestion on. One map-side
    // pass, all-integer output: exact on any engine and any combine tree.
    "q88_schema_audit" -> ((s, d) =>
      Tables.events(s, d).agg(
        count(lit(1)).as("n_rows"),
        count(when(col("props").isNull, 1)).as("null_props"),
        count(when(get_json_object(col("props"), "$.k").isNull, 1)).as("bad_json"),
        count(when(col("value") < 0 || isnan(col("value")), 1)).as("bad_value"),
        count(when(unix_timestamp(col("ts")) < TS_MIN
          || unix_timestamp(col("ts")) >= TS_MAX, 1)).as("ts_oob"),
        countDistinct(col("event_type")).as("n_types"),
        countDistinct(col("user_id")).as("n_users"))),

    // Corpus length histogram — the profiling pass a curation pipeline
    // runs before choosing filter thresholds: equi-width buckets per
    // source with exact counts and in-bucket extrema. One partial-agg
    // shuffle; all integers.
    "q96_length_histogram" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(col("source"),
          (col("n_chars") / HIST_W).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy(col("source"), col("bucket"))),

    // Cross-source contamination matrix: for every source pair, the
    // number of distinct span fingerprints they share and the Jaccard of
    // their span sets — the leakage audit run before declaring corpus
    // slices independent (train/eval drawn from different sources).
    // Scale: the pair join is an INVERTED-INDEX self-join on the span
    // hash — per-hash work is (#sources sharing that span)² ≤ #sources²,
    // never docs²; per-source set sizes are one distinct-count pass; the
    // output is at most C(#sources, 2) rows.
    "q101_source_overlap" -> ((s, d) => {
      val sh = spanHashes(s, d)
        .join(Tables.documents(s, d).select(col("doc_id"), col("source")), "doc_id")
        .select(col("source"), col("h")).distinct()
      val perSrc = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
      sh.as("a").join(sh.as("b"),
          col("a.h") === col("b.h") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
        .agg(count(lit(1)).as("n_shared"))
        .join(broadcast(perSrc.select(col("source").as("s1"), col("n").as("n1"))), "s1")
        .join(broadcast(perSrc.select(col("source").as("s2"), col("n").as("n2"))), "s2")
        .withColumn("jaccard", round(col("n_shared").cast("double")
          / (col("n1") + col("n2") - col("n_shared")), 6))
        .select(col("s1"), col("s2"), col("n1"), col("n2"),
          col("n_shared"), col("jaccard"))
        .orderBy(col("s1"), col("s2"))
    }),

    // q101's sketch twin at 100 TB: the same per-source-pair overlap
    // question answered from fixed 256-register deterministic-HLL sketches
    // ([[graft.functions.Hll]]) instead of the distinct (source, hash)
    // relation. One pass over the span stream builds |sources|×256
    // registers; every pairwise estimate after that is pure sketch algebra
    // — union = per-bucket max, overlap = inclusion–exclusion
    // est(A)+est(B)−est(A∪B) — that never revisits the corpus. The
    // estimate matrix costs O(|sources|²·256) no matter the corpus size,
    // where q101's distinct-relation self-join shuffles every distinct
    // span hash; at 100 TB the sketches are also what a daily pipeline
    // persists and folds incrementally (registers merge by max). The
    // 60-bit span hash is re-hashed to the 32-bit HLL coordinate space
    // through the cross-engine base32, so registers — and therefore every
    // estimate — are bit-identical in Spark and DuckDB: fully hash-checked.
    "q110_overlap_sketch" -> ((s, d) => {
      import graft.functions.Hll
      val sh = spanHashes(s, d)
        .join(Tables.documents(s, d).select(col("doc_id"), col("source")), "doc_id")
        .select(col("source"), Hashes.base32(col("h").cast("string")).as("h32"))
      val regs = sh
        .select(col("source"), Hll.bucket(col("h32")).as("bucket"),
          Hll.rho(col("h32")).as("rho"))
        .groupBy(col("source"), col("bucket")).agg(max(col("rho")).as("reg"))
      val per = Hll.estimate(regs, Seq("source"), "est")
      val srcs = regs.select(col("source")).distinct()
      val pairs = srcs.select(col("source").as("s1"))
        .crossJoin(broadcast(srcs.select(col("source").as("s2"))))
        .filter(col("s1") < col("s2"))
      // each pair contributes its two member sources as equi-join rows —
      // a hash join at O(|sources|²·256), where the naive OR-condition
      // join would be a nested-loop at O(|sources|³·256)
      val pairSides = pairs.select(col("s1").as("source"), col("s1"), col("s2"))
        .unionByName(pairs.select(col("s2").as("source"), col("s1"), col("s2")))
      val uregs = regs.join(broadcast(pairSides), "source")
        .groupBy(col("s1"), col("s2"), col("bucket")).agg(max(col("reg")).as("reg"))
      Hll.estimate(uregs, Seq("s1", "s2"), "est_union")
        .select(col("s1"), col("s2"), col("est_union"))
        .join(broadcast(per.select(col("source").as("s1"), col("est").as("est1"))), "s1")
        .join(broadcast(per.select(col("source").as("s2"), col("est").as("est2"))), "s2")
        .withColumn("est_overlap",
          greatest(col("est1") + col("est2") - col("est_union"), lit(0L)))
        .withColumn("jaccard_est", round(col("est_overlap").cast("double")
          / col("est_union"), 6))
        .select(col("s1"), col("s2"), col("est1"), col("est2"),
          col("est_union"), col("est_overlap"), col("jaccard_est"))
        .orderBy(col("s1"), col("s2"))
    }),

    // Vocabulary-growth profile per source: token total, type count,
    // hapax count, type-token ratio, hapax share — the Heaps'-law corpus
    // profile that calibrates tokenizer vocab size and dedup thresholds.
    // One (source, token) count shuffle + a tiny rollup; ratios are one
    // IEEE division of exact integers.
    "q102_vocab_growth" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("source"), explode(toks).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(col("c")).cast("long").as("n_tokens"),
          count(lit(1)).as("n_types"),
          count(when(col("c") === 1, 1)).as("n_hapax"))
        .withColumn("ttr",
          round(col("n_types").cast("double") / col("n_tokens"), 6))
        .withColumn("hapax_share",
          round(col("n_hapax").cast("double") / col("n_types"), 6))
        .orderBy(col("source"))),

    // Exact-quota stratified sample: exactly QUOTA docs per source, picked
    // by hash order (q64 samples at a RATE; this pins the exact count a
    // balanced eval set needs). row_number over (hash, id) is the q82
    // determinism story; the rank<=k filter plans as WindowGroupLimit —
    // per-partition top-k heaps before the shuffle, never a full sort.
    "q97_quota_sample" -> ((s, d) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(Hashes.base32(col("doc_id").cast("string")), col("doc_id"))
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"))
        .withColumn("pick", row_number().over(w))
        .filter(col("pick") <= QUOTA)
        .orderBy(col("source"), col("pick"))
    }),

    // Classifier evaluation metrics — the eval stage of a labeling
    // pipeline: learn per-language marker vocabularies from the corpus
    // (top-k distinct-doc tokens per gold lang), predict by marker-overlap
    // argmax, then report per-language precision/recall against the gold
    // column. Every metric derives from integer confusion counts, so the
    // whole eval is combine-tree exact. Scale: the marker table is
    // (languages × k) — broadcast; the only wide ops are the token-count
    // shuffle and one (doc) re-key for the argmax.
    "q95_eval_metrics" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dtok = docs.select(col("doc_id"), col("lang"),
        explode(array_distinct(toks)).as("tok"))
      val wm = Window.partitionBy(col("mlang"))
        .orderBy(col("c").desc, col("tok"))
      val markers = dtok.groupBy(col("lang").as("mlang"), col("tok"))
        .agg(count(lit(1)).as("c"))
        .withColumn("r", row_number().over(wm)).filter(col("r") <= MARKER_K)
        .select(col("mlang"), col("tok"))
      val wp = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("mlang"))
      val pred = dtok.join(broadcast(markers), "tok")
        .groupBy(col("doc_id"), col("mlang")).agg(count(lit(1)).as("score"))
        .withColumn("rn", row_number().over(wp)).filter(col("rn") === 1)
        .select(col("doc_id"), col("mlang").as("pred"))
      val predFull = docs.select(col("doc_id"), col("lang"))
        .join(pred, Seq("doc_id"), "left")
        .withColumn("pred", coalesce(col("pred"), lit("none")))
      val gold = predFull.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_gold"),
          sum(when(col("pred") === col("lang"), 1L).otherwise(0L))
            .cast("long").as("tp"))
      val predCnt = predFull.groupBy(col("pred").as("plang"))
        .agg(count(lit(1)).as("n_pred"))
      gold.join(predCnt, col("lang") === col("plang"), "left")
        .select(col("lang"), col("n_gold"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"), col("tp"))
        .withColumn("precision", when(col("n_pred") > 0,
          round(col("tp").cast("double") / col("n_pred"), 4)))
        .withColumn("recall",
          round(col("tp").cast("double") / col("n_gold"), 4))
        .orderBy(col("lang"))
    }),

    // Mergeable frequent-items sketch (Misra-Gries) per source — q81's
    // one-pass bounded-memory twin for streams/hierarchical rollups, the
    // third classic sketch beside q79's HLL and q80's GK quantiles.
    // Candidate SETS are order-sensitive (any MG run is), so the
    // oracle-checked output is the deterministic invariant form: exact
    // heavy-hitter count (reproduced by the DuckDB twin) plus booleans
    // asserting the MG guarantees — candidates cover every true heavy
    // hitter (count > N/(k+1)) and every estimate undercounts by at most
    // N/(k+1). The oracle emits the exact counts and TRUE, so a broken
    // sketch breaks the hash. FreqSketchSpec additionally pins the
    // candidate-level guarantees on the aggregator itself.
    "q86_freq_sketch" -> ((s, d) => {
      val mg = udaf(new FreqSketch(MG_K))
      val tok = Tables.documents(s, d)
        .select(col("source"), explode(toks).as("tok"))
      val sk = tok.groupBy(col("source"))
        .agg(mg(col("tok")).as("sk"), count(lit(1)).as("n_tokens"))
      val exact = tok.groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("c"))
      // integer-exact bound checks: c*(k+1) > N  <=>  c > N/(k+1)
      exact.join(sk, "source")
        .withColumn("est", element_at(col("sk"), col("tok")))
        .withColumn("is_heavy", col("c") * (MG_K + 1) > col("n_tokens"))
        .groupBy(col("source"))
        .agg(first(col("n_tokens")).as("n_tokens"),
          sum(when(col("is_heavy"), 1).otherwise(0)).cast("long").as("n_heavy"),
          (sum(when(col("is_heavy") && col("est").isNull, 1).otherwise(0)) === 0)
            .as("covered"),
          (sum(when(col("est").isNotNull &&
              (col("est") > col("c")
                || col("est") * (MG_K + 1) + col("n_tokens") < col("c") * (MG_K + 1)),
              1).otherwise(0)) === 0).as("bounds_ok"))
        .select(col("source"), col("n_tokens"), col("n_heavy"),
          col("covered"), col("bounds_ok"))
        .orderBy(col("source"))
    }),

    // Deterministic stratified train/val/test split: bucket =
    // md5(source#doc_id) mod 10 → 8/1/1. A pure function of the row key —
    // independent of partitioning, cluster size, arrival order, and
    // re-runs (the property that makes a 100 TB split reproducible and
    // incrementally extendable: new docs land in their split without
    // touching old ones). Stratified: hashing within (source, id) gives
    // every source the same expected ratios. Plan: one narrow codegen'd
    // projection — no shuffle, no state.
    "q103_stratified_split" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          (Hashes.base32(concat(col("source"), lit("#"),
            col("doc_id").cast("string"))) % 10).as("b"))
        .select(col("doc_id"), col("source"),
          when(col("b") < 8, "train").when(col("b") === 8, "val")
            .otherwise("test").as("split"))
        .orderBy(col("doc_id"))),

    // Split-leakage audit: near-duplicate pairs (q31's inverted-index pair
    // base) that straddle split boundaries — train/test leakage through
    // near-dups is the classic eval-inflation failure a split pipeline
    // must gate on. Output: pair counts per unordered split pair; any
    // (train, test) row is leakage to resolve (move or drop one side).
    // Scale: reuses the blocked pair relation (never n²) + two key joins
    // against the one-row-per-doc split table.
    "q104_split_leakage" -> ((s, d) => {
      val pairs = TextPack.queries("q31_ngram_jaccard")(s, d).select(col("i"), col("j"))
      val split = queries("q103_stratified_split")(s, d)
        .select(col("doc_id"), col("split"))
      pairs
        .join(split.select(col("doc_id").as("i"), col("split").as("si")), "i")
        .join(split.select(col("doc_id").as("j"), col("split").as("sj")), "j")
        .select(least(col("si"), col("sj")).as("split_a"),
          greatest(col("si"), col("sj")).as("split_b"))
        .groupBy(col("split_a"), col("split_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("split_a"), col("split_b"))
    }),

    // Distinctive terms per source (corpus keyness): Dunning's G² log-
    // likelihood of each token's in-source count vs its rest-of-corpus
    // count — the standard "what characterizes this source" audit before
    // mixing corpora. Plan: one (source, token) shuffle, then the source
    // totals (|sources| rows) and token totals (vocab rows) fold back via
    // joins Spark can broadcast; over-representation compares the two
    // rates in DOUBLE (a/ns > ct/N — the BIGINT cross-products overflow at
    // corpus scale), and ranking is on the ROUNDED score with a token
    // tiebreak (the repo's rank-on-rounded determinism pattern).
    "q106_source_keyness" -> ((s, d) => {
      val st = Tables.documents(s, d)
        .select(col("source"), explode(toks).as("tok"))
        .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("a"))
      val srcTot = st.groupBy(col("source")).agg(sum(col("a")).as("ns"))
      val tokTot = st.groupBy(col("tok")).agg(sum(col("a")).as("ct"))
      val grand = srcTot.agg(sum(col("ns")).as("nn"))
      // All products run in DOUBLE: the BIGINT products (a·nn etc.) overflow
      // Long once nn reaches corpus scale (~1e13 tokens at 100 TB) and the
      // over-representation filter would silently flip sign. IEEE double
      // multiply/divide with a fixed op order is bit-deterministic, so the
      // DuckDB twin (same shape) still hash-matches.
      val b = col("ct") - col("a")
      val g2 = lit(2.0) * (col("a") * log((col("a").cast("double") * col("nn").cast("double"))
          / (col("ns").cast("double") * col("ct").cast("double")))
        + when(b > 0, b * log((b.cast("double") * col("nn").cast("double"))
          / (col("ct").cast("double") * (col("nn") - col("ns")).cast("double")))).otherwise(lit(0.0)))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("g2").desc, col("tok"))
      st.join(srcTot, "source").join(tokTot, "tok").crossJoin(grand)
        .filter(col("a").cast("double") / col("ns").cast("double")
          > col("ct").cast("double") / col("nn").cast("double"))
        .withColumn("g2", round(g2, 4))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= KEY_K)
        .select(col("source"), col("rank"), col("tok"), col("a").as("n_in"),
          (col("ct") - col("a")).as("n_out"), col("g2"))
        .orderBy(col("source"), col("rank"))
    }),

    // Zipf profile per source: OLS slope of ln(freq) on ln(rank) over the
    // token frequency spectrum — the power-law health check that catches
    // template spam (slope → 0) and boilerplate collapse (slope ≪ -1)
    // per corpus slice. Determinism: ln values are quantized to integer
    // milli-nats, all five OLS moments are exact BIGINT sums (addition-
    // order independent), and the single closing division is IEEE-exact —
    // bit-identical on any engine/partitioning. Plan: one (source, token)
    // shuffle + one per-source window for ranks + a 20-row final agg.
    "q107_zipf_slope" -> ((s, d) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("f").desc, col("tok"))
      val tf = Tables.documents(s, d)
        .select(col("source"), explode(toks).as("tok"))
        .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("f"))
        .withColumn("r", row_number().over(w))
        .select(col("source"), col("f"),
          floor(log(col("r").cast("double")) * ZIPF_Q).cast("long").as("qx"),
          floor(log(col("f").cast("double")) * ZIPF_Q).cast("long").as("qy"))
      val m = tf.groupBy(col("source")).agg(
        count(lit(1)).as("n"), sum(col("f")).as("n_tokens"),
        sum(col("qx")).as("sx"), sum(col("qy")).as("sy"),
        sum(col("qx") * col("qy")).as("sxy"),
        sum(col("qx") * col("qx")).as("sxx"),
        sum(col("qy") * col("qy")).as("syy"))
      val cov = col("n") * col("sxy") - col("sx") * col("sy")
      val vx  = col("n") * col("sxx") - col("sx") * col("sx")
      val vy  = col("n") * col("syy") - col("sy") * col("sy")
      m.select(col("source"), col("n").as("n_types"), col("n_tokens"),
          round(cov.cast("double") / vx.cast("double"), 6).as("slope"),
          round((cov.cast("double") * cov.cast("double"))
            / (vx.cast("double") * vy.cast("double")), 6).as("r2"))
        .orderBy(col("source"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q81_heavy_hitters" ->
      s"""WITH tc AS (
         |  SELECT tok, count(*) AS n
         |  FROM (SELECT unnest(str_split(text, ' ')) AS tok FROM documents)
         |  GROUP BY tok
         |), tot AS (SELECT sum(n)::BIGINT AS tot FROM tc)
         |SELECT row_number() OVER (ORDER BY n DESC, tok) AS rank, tok, n,
         |  ${Hashes.sqlRound("n::DOUBLE / tot", 6)} AS share
         |FROM tc CROSS JOIN tot
         |ORDER BY n DESC, tok LIMIT $HH_K""".stripMargin,

    "q82_weighted_sample" -> {
      val key = s"ln((${Hashes.sqlBase32("doc_id::VARCHAR")} % $U_DENOM + 1)" +
        s"::DOUBLE / $U_DENOM.0) / n_chars"
      val key8 = Hashes.sqlRound(key, 8)
      s"""SELECT row_number() OVER (ORDER BY key8 DESC, doc_id) AS rank,
         |  doc_id, source, n_chars, ${Hashes.sqlRound("key8", 6)} AS es_key
         |FROM (SELECT doc_id, source, n_chars, $key8 AS key8 FROM documents)
         |ORDER BY key8 DESC, doc_id LIMIT $WS_K""".stripMargin
    },

    "q83_lm_quality" -> {
      val avg = Hashes.sqlRound(s"sum(lp_micro)::DOUBLE / (count(*) * $LP_SCALE)", 4)
      s"""WITH dtok AS (
         |  SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents
         |), tc AS (SELECT tok, count(*) AS c FROM dtok GROUP BY tok),
         |st AS (SELECT sum(c)::BIGINT AS t_tokens, count(*)::BIGINT AS v_size FROM tc),
         |lp AS (
         |  SELECT tok, floor(ln((c+1)::DOUBLE / (t_tokens+v_size)::DOUBLE)
         |    * $LP_SCALE)::BIGINT AS lp_micro
         |  FROM tc CROSS JOIN st
         |)
         |SELECT doc_id, count(*) AS n_tokens, sum(lp_micro)::BIGINT AS sum_lp_micro,
         |  $avg AS avg_logprob, $avg >= $LM_KEEP_T AS kept
         |FROM dtok JOIN lp USING (tok)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "q84_mix_temperature" ->
      s"""WITH perdoc AS (
         |  SELECT source, doc_id, len(str_split(text, ' '))::BIGINT AS ntok,
         |    ${Hashes.sqlBase32("doc_id::VARCHAR")} % $RATE_DENOM AS bucket
         |  FROM documents
         |), totals AS (
         |  SELECT source, count(*) AS n_docs, sum(ntok)::BIGINT AS tot_tokens
         |  FROM perdoc GROUP BY source
         |), mx AS (SELECT max(tot_tokens) AS max_tokens FROM totals)
         |SELECT source, n_docs, tot_tokens,
         |  floor($RATE_DENOM * sqrt(tot_tokens::DOUBLE) / sqrt(max_tokens::DOUBLE))
         |    ::BIGINT AS rate_bp,
         |  count(CASE WHEN bucket < floor($RATE_DENOM * sqrt(tot_tokens::DOUBLE)
         |    / sqrt(max_tokens::DOUBLE)) THEN 1 END) AS n_kept,
         |  sum(CASE WHEN bucket < floor($RATE_DENOM * sqrt(tot_tokens::DOUBLE)
         |    / sqrt(max_tokens::DOUBLE)) THEN ntok ELSE 0 END)::BIGINT AS kept_tokens
         |FROM perdoc JOIN totals USING (source) CROSS JOIN mx
         |GROUP BY source, n_docs, tot_tokens, max_tokens
         |ORDER BY source""".stripMargin,

    "q157_mixture_reweight" ->
      s"""WITH dtok AS (
         |  SELECT doc_id, source, unnest(str_split(text, ' ')) AS tok
         |  FROM documents
         |), tc AS (SELECT tok, count(*) AS c FROM dtok GROUP BY tok),
         |st AS (SELECT sum(c)::BIGINT AS t_tokens, count(*)::BIGINT AS v_size FROM tc),
         |lp AS (
         |  SELECT tok, floor(ln((c+1)::DOUBLE / (t_tokens+v_size)::DOUBLE)
         |    * $LP_SCALE)::BIGINT AS lp_micro
         |  FROM tc CROSS JOIN st
         |), ps AS (
         |  SELECT source, count(*)::BIGINT AS t_s,
         |    sum(lp_micro)::BIGINT AS lp_s
         |  FROM dtok JOIN lp USING (tok) GROUP BY source
         |), corpus AS (
         |  SELECT sum(t_s)::BIGINT AS t_all, sum(lp_s)::BIGINT AS lp_all FROM ps
         |), stepped AS (
         |  SELECT source, t_s,
         |    floor(lp_all::DOUBLE / t_all::DOUBLE
         |        - lp_s::DOUBLE / t_s::DOUBLE)::BIGINT AS excess_micro,
         |    ((1000000 * t_s) // t_all)::BIGINT AS w0_ppm
         |  FROM ps CROSS JOIN corpus
         |), v AS (
         |  SELECT source, t_s, excess_micro, w0_ppm,
         |    floor(w0_ppm::DOUBLE
         |      * exp($EG_ETA * excess_micro::DOUBLE / 1000000.0))::BIGINT AS v_micro
         |  FROM stepped
         |), nz AS (SELECT sum(v_micro)::BIGINT AS v_sum FROM v)
         |SELECT source, t_s AS tokens, w0_ppm, excess_micro, v_micro,
         |  ((1000000 * v_micro) // v_sum)::BIGINT AS w1_ppm
         |FROM v CROSS JOIN nz
         |ORDER BY source""".stripMargin,

    "q150_dsir_selection" ->
      s"""WITH dtok AS (
         |  SELECT doc_id, lang,
         |    ${Hashes.sqlBase32("unnest(str_split(text, ' '))")} % $DSIR_B AS b
         |  FROM documents
         |), bt AS (
         |  SELECT b, count(*) AS c_raw,
         |    count(CASE WHEN lang = '$DSIR_TARGET' THEN 1 END) AS c_t
         |  FROM dtok GROUP BY b
         |), tot AS (
         |  SELECT sum(c_raw)::BIGINT AS t_raw, sum(c_t)::BIGINT AS t_t FROM bt
         |), lr AS (
         |  SELECT b, floor(ln((c_t+1)::DOUBLE * (t_raw+$DSIR_B)::DOUBLE
         |      / ((c_raw+1)::DOUBLE * (t_t+$DSIR_B)::DOUBLE))
         |    * $LP_SCALE)::BIGINT AS lr_micro
         |  FROM bt CROSS JOIN tot
         |), sc AS (
         |  SELECT doc_id, count(*) AS n_tokens, sum(lr_micro)::BIGINT AS w_micro
         |  FROM dtok JOIN lr USING (b) GROUP BY doc_id
         |)
         |SELECT row_number() OVER (ORDER BY w_micro DESC, sc.doc_id) AS rank,
         |  sc.doc_id, lang, source, n_tokens, w_micro
         |FROM sc JOIN documents d ON d.doc_id = sc.doc_id
         |ORDER BY w_micro DESC, sc.doc_id LIMIT $DSIR_K""".stripMargin,

    "q123_epoch_plan" ->
      s"""WITH totals AS (
         |  SELECT source, count(*)::BIGINT AS n_docs,
         |    sum(len(str_split(text, ' ')))::BIGINT AS tot_tokens
         |  FROM documents GROUP BY source
         |), w AS (
         |  SELECT *, floor(sqrt(tot_tokens::DOUBLE) * 1000.0)::BIGINT AS w_milli
         |  FROM totals
         |), g AS (
         |  SELECT sum(w_milli)::BIGINT AS denom,
         |    ($BUDGET_MULT * sum(tot_tokens))::BIGINT AS budget FROM w
         |)
         |SELECT source, n_docs, tot_tokens,
         |  (10000 * w_milli) // denom AS weight_bp,
         |  (budget * w_milli) // denom AS planned_tokens,
         |  ((budget * w_milli) // denom * 1000) // tot_tokens AS epochs_milli,
         |  ((budget * w_milli) // denom * 1000) // tot_tokens
         |    > $EPOCH_CAP_MILLI AS capped,
         |  CASE WHEN ((budget * w_milli) // denom * 1000) // tot_tokens
         |         > $EPOCH_CAP_MILLI
         |       THEN (tot_tokens * $EPOCH_CAP_MILLI) // 1000
         |       ELSE (budget * w_milli) // denom END AS final_tokens
         |FROM w CROSS JOIN g ORDER BY source""".stripMargin,

    "q96_length_histogram" ->
      s"""SELECT source, n_chars // $HIST_W AS bucket, count(*) AS n,
         |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
         |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q97_quota_sample" ->
      s"""SELECT source, doc_id, pick FROM (
         |  SELECT source, doc_id,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY ${Hashes.sqlBase32("doc_id::VARCHAR")}, doc_id) AS pick
         |  FROM documents
         |) WHERE pick <= $QUOTA ORDER BY source, pick""".stripMargin,

    "q95_eval_metrics" ->
      s"""WITH dtok AS (
         |  SELECT doc_id, lang, unnest(list_distinct(str_split(text, ' '))) AS tok
         |  FROM documents
         |), markers AS (
         |  SELECT mlang, tok FROM (
         |    SELECT lang AS mlang, tok, count(*) AS c,
         |      row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, tok) AS r
         |    FROM dtok GROUP BY lang, tok
         |  ) WHERE r <= $MARKER_K
         |), pred AS (
         |  SELECT doc_id, mlang AS pred FROM (
         |    SELECT d.doc_id, m.mlang, count(*) AS score,
         |      row_number() OVER (PARTITION BY d.doc_id
         |        ORDER BY count(*) DESC, m.mlang) AS rn
         |    FROM dtok d JOIN markers m ON d.tok = m.tok
         |    GROUP BY d.doc_id, m.mlang
         |  ) WHERE rn = 1
         |), pf AS (
         |  SELECT d.doc_id, d.lang, coalesce(p.pred, 'none') AS pred
         |  FROM (SELECT DISTINCT doc_id, lang FROM documents) d
         |  LEFT JOIN pred p ON p.doc_id = d.doc_id
         |), gold AS (
         |  SELECT lang, count(*) AS n_gold,
         |    sum(CASE WHEN pred = lang THEN 1 ELSE 0 END)::BIGINT AS tp
         |  FROM pf GROUP BY lang
         |), pc AS (
         |  SELECT pred AS plang, count(*) AS n_pred FROM pf GROUP BY pred
         |)
         |SELECT lang, n_gold, coalesce(n_pred, 0) AS n_pred, tp,
         |  CASE WHEN coalesce(n_pred, 0) > 0
         |    THEN ${Hashes.sqlRound("tp::DOUBLE / n_pred", 4)} END AS precision,
         |  ${Hashes.sqlRound("tp::DOUBLE / n_gold", 4)} AS recall
         |FROM gold LEFT JOIN pc ON plang = lang
         |ORDER BY lang""".stripMargin,

    "q87_outlier_events" -> {
      val z = Hashes.sqlRound("(cents - mu) / sigma", 4)
      s"""WITH ev AS (
         |  SELECT event_id, event_type, value,
         |    floor(value * 100)::BIGINT AS cents
         |  FROM events WHERE NOT isnan(value)
         |), st AS (
         |  SELECT event_type, count(*) AS n, sum(cents)::BIGINT AS s1,
         |    sum(cents * cents)::BIGINT AS s2
         |  FROM ev GROUP BY event_type
         |), mus AS (
         |  SELECT event_type, s1::DOUBLE / n AS mu,
         |    sqrt((s2::DOUBLE - s1::DOUBLE * s1 / n) / (n - 1)) AS sigma
         |  FROM st WHERE sqrt((s2::DOUBLE - s1::DOUBLE * s1 / n) / (n - 1)) > 0
         |)
         |SELECT event_id, event_type,
         |  ${Hashes.sqlRound("value", 2)} AS value, $z AS z
         |FROM ev JOIN mus USING (event_type)
         |WHERE abs($z) > $Z_T
         |ORDER BY event_id""".stripMargin
    },

    "q88_schema_audit" ->
      s"""SELECT count(*) AS n_rows,
         |  count(CASE WHEN props IS NULL THEN 1 END) AS null_props,
         |  count(CASE WHEN json_extract_string(props, '$$.k') IS NULL THEN 1 END)
         |    AS bad_json,
         |  count(CASE WHEN value < 0 OR isnan(value) THEN 1 END) AS bad_value,
         |  count(CASE WHEN floor(epoch(ts))::BIGINT < $TS_MIN
         |    OR floor(epoch(ts))::BIGINT >= $TS_MAX THEN 1 END) AS ts_oob,
         |  count(DISTINCT event_type) AS n_types,
         |  count(DISTINCT user_id) AS n_users
         |FROM events""".stripMargin,

    "q101_source_overlap" ->
      s"""WITH sp AS (
         |  $sqlSpanHashes
         |), sh AS (
         |  SELECT DISTINCT d.source, sp.h
         |  FROM sp JOIN documents d USING (doc_id)
         |), per AS (
         |  SELECT source, count(*) AS n FROM sh GROUP BY source
         |), inter AS (
         |  SELECT a.source AS s1, b.source AS s2, count(*) AS n_shared
         |  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
         |  GROUP BY 1, 2
         |)
         |SELECT s1, s2, p1.n AS n1, p2.n AS n2, n_shared,
         |  ${Hashes.sqlRound("n_shared::DOUBLE / (p1.n + p2.n - n_shared)", 6)}
         |    AS jaccard
         |FROM inter
         |  JOIN per p1 ON p1.source = s1
         |  JOIN per p2 ON p2.source = s2
         |ORDER BY s1, s2""".stripMargin,

    "q110_overlap_sketch" -> {
      import graft.functions.Hll
      s"""WITH sp AS (
         |  $sqlSpanHashes
         |), sh AS (
         |  SELECT d.source, ${Hashes.sqlBase32("sp.h::VARCHAR")} AS h32
         |  FROM sp JOIN documents d USING (doc_id)
         |), regs AS (
         |  SELECT source, bucket, max(rho) AS reg FROM (
         |    SELECT source, ${Hll.sqlRegCoords("h32")} FROM sh
         |  ) GROUP BY 1, 2
         |), per AS (
         |  ${Hll.sqlEstimate("regs", Seq("source"), "est")}
         |), pairs AS (
         |  SELECT a.source AS s1, b.source AS s2
         |  FROM (SELECT DISTINCT source FROM regs) a
         |  JOIN (SELECT DISTINCT source FROM regs) b ON a.source < b.source
         |), uregs AS (
         |  SELECT s1, s2, bucket, max(reg) AS reg
         |  FROM regs JOIN pairs ON source = s1 OR source = s2
         |  GROUP BY 1, 2, 3
         |), uest AS (
         |  ${Hll.sqlEstimate("uregs", Seq("s1", "s2"), "est_union")}
         |)
         |SELECT s1, s2, p1.est AS est1, p2.est AS est2, est_union,
         |  greatest(p1.est + p2.est - est_union, 0)::BIGINT AS est_overlap,
         |  ${Hashes.sqlRound(
              "greatest(p1.est + p2.est - est_union, 0)::DOUBLE / est_union", 6)}
         |    AS jaccard_est
         |FROM uest
         |  JOIN per p1 ON p1.source = s1
         |  JOIN per p2 ON p2.source = s2
         |ORDER BY s1, s2""".stripMargin
    },

    "q102_vocab_growth" ->
      s"""WITH c AS (
         |  SELECT source, w, count(*) AS c
         |  FROM (SELECT source, unnest(str_split(text, ' ')) AS w FROM documents)
         |  GROUP BY 1, 2
         |), st AS (
         |  SELECT source, sum(c)::BIGINT AS n_tokens, count(*) AS n_types,
         |    count(CASE WHEN c = 1 THEN 1 END) AS n_hapax
         |  FROM c GROUP BY source
         |)
         |SELECT source, n_tokens, n_types, n_hapax,
         |  ${Hashes.sqlRound("n_types::DOUBLE / n_tokens", 6)} AS ttr,
         |  ${Hashes.sqlRound("n_hapax::DOUBLE / n_types", 6)} AS hapax_share
         |FROM st ORDER BY source""".stripMargin,

    "q85_bloom_decontam" ->
      s"""WITH sp AS (
         |  $sqlSpanHashes
         |), tag AS (
         |  SELECT sp.doc_id, h, m.is_test
         |  FROM sp JOIN (SELECT doc_id, $sqlIsTest AS is_test FROM documents) m
         |    USING (doc_id)
         |), tr AS (SELECT DISTINCT h FROM tag WHERE NOT is_test)
         |SELECT te.doc_id, count(*) AS n_spans, count(tr.h) AS n_hit,
         |  count(tr.h) > 0 AS contaminated
         |FROM (SELECT doc_id, h FROM tag WHERE is_test) te
         |LEFT JOIN tr ON te.h = tr.h
         |GROUP BY te.doc_id ORDER BY te.doc_id""".stripMargin,

    "q103_stratified_split" ->
      s"""SELECT doc_id, source,
         |  CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
         |FROM (
         |  SELECT doc_id, source,
         |    ${Hashes.sqlBase32("source || '#' || doc_id")} % 10 AS b
         |  FROM documents
         |)
         |ORDER BY doc_id""".stripMargin,

    "q104_split_leakage" ->
      s"""WITH ${TextPack.sqlPairCtes}, split AS (
         |  SELECT doc_id,
         |    CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
         |  FROM (
         |    SELECT doc_id,
         |      ${Hashes.sqlBase32("source || '#' || doc_id")} % 10 AS b
         |    FROM documents
         |  )
         |)
         |SELECT least(si.split, sj.split) AS split_a,
         |  greatest(si.split, sj.split) AS split_b,
         |  count(*)::BIGINT AS n_pairs
         |FROM pairs
         |  JOIN split si ON si.doc_id = i
         |  JOIN split sj ON sj.doc_id = j
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q86: exact heavy-hitter counts re-derived in SQL; the MG coverage/
    // undercount booleans are the invariant the Spark sketch must satisfy
    "q86_freq_sketch" ->
      s"""WITH t AS (
         |  SELECT source, unnest(str_split(text, ' ')) AS tok FROM documents
         |), n AS (
         |  SELECT source, count(*)::BIGINT AS n_tokens FROM t GROUP BY 1
         |), c AS (
         |  SELECT source, tok, count(*) AS c FROM t GROUP BY 1, 2
         |)
         |SELECT c.source, any_value(n.n_tokens) AS n_tokens,
         |  sum(CASE WHEN c.c * ${MG_K + 1} > n.n_tokens THEN 1 ELSE 0 END)::BIGINT
         |    AS n_heavy,
         |  true AS covered, true AS bounds_ok
         |FROM c JOIN n USING (source)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q106_source_keyness" -> {
      val g2 = "2.0 * (a * ln((a::DOUBLE * nn::DOUBLE) / (ns::DOUBLE * ct::DOUBLE))" +
        " + CASE WHEN ct - a > 0 THEN (ct - a)" +
        " * ln(((ct - a)::DOUBLE * nn::DOUBLE) / (ct::DOUBLE * (nn - ns)::DOUBLE))" +
        " ELSE 0.0 END)"
      s"""WITH st AS (
         |  SELECT source, tok, count(*) AS a
         |  FROM (SELECT source, unnest(str_split(text, ' ')) AS tok FROM documents)
         |  GROUP BY 1, 2
         |), stot AS (SELECT source, sum(a)::BIGINT AS ns FROM st GROUP BY 1),
         |ttot AS (SELECT tok, sum(a)::BIGINT AS ct FROM st GROUP BY 1),
         |g AS (SELECT sum(ns)::BIGINT AS nn FROM stot),
         |scored AS (
         |  SELECT source, tok, a AS n_in, ct - a AS n_out,
         |    ${Hashes.sqlRound(g2, 4)} AS g2
         |  FROM st JOIN stot USING (source) JOIN ttot USING (tok) CROSS JOIN g
         |  WHERE a::DOUBLE / ns::DOUBLE > ct::DOUBLE / nn::DOUBLE
         |)
         |SELECT source,
         |  row_number() OVER (PARTITION BY source ORDER BY g2 DESC, tok) AS rank,
         |  tok, n_in, n_out, g2
         |FROM scored
         |QUALIFY rank <= $KEY_K
         |ORDER BY source, rank""".stripMargin
    },

    "q107_zipf_slope" ->
      s"""WITH tf AS (
         |  SELECT source, tok, count(*) AS f,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY count(*) DESC, tok) AS r
         |  FROM (SELECT source, unnest(str_split(text, ' ')) AS tok FROM documents)
         |  GROUP BY 1, 2
         |), q AS (
         |  SELECT source, f,
         |    floor(ln(r::DOUBLE) * $ZIPF_Q)::BIGINT AS qx,
         |    floor(ln(f::DOUBLE) * $ZIPF_Q)::BIGINT AS qy
         |  FROM tf
         |), m AS (
         |  SELECT source, count(*) AS n, sum(f)::BIGINT AS n_tokens,
         |    sum(qx)::BIGINT AS sx, sum(qy)::BIGINT AS sy,
         |    sum(qx * qy)::BIGINT AS sxy,
         |    sum(qx * qx)::BIGINT AS sxx,
         |    sum(qy * qy)::BIGINT AS syy
         |  FROM q GROUP BY source
         |)
         |SELECT source, n AS n_types, n_tokens,
         |  round((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE, 6)
         |    AS slope,
         |  round(((n * sxy - sx * sy)::DOUBLE * (n * sxy - sx * sy)::DOUBLE)
         |    / ((n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy)::DOUBLE), 6)
         |    AS r2
         |FROM m ORDER BY source""".stripMargin
  )
}
