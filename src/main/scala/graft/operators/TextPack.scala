package graft.operators

import graft.Tables
import graft.functions.{Hashes, TextLsh}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text-analysis + deduplication operators over the `documents` table —
  * the LLM-training-pipeline surface (dedup, fingerprinting, quality,
  * language-ID, token stats) grown from the reference's MinHash/LSH seed
  * (reference: jobs/recommendations/RecommendationUtils.scala:16-49,
  * jobs/preparation/LoadStaticDataJob.scala:86-105).
  *
  * Everything is built-in-expression level (no UDFs): md5/conv for hashing,
  * higher-order array functions for shingling — the whole pack stays inside
  * whole-stage codegen. MinHash constants come from [[Hashes.family]] and are
  * embedded in BOTH the Spark plan and the generated DuckDB oracle SQL, so
  * the hash-bearing queries are exactly oracle-checkable (the reference's
  * batch/stream determinism contract, README.md:112, re-expressed as
  * Spark/DuckDB determinism).
  *
  * Scale design (100 TB):
  *  - shingle → pair joins shuffle on the shingle; ultra-frequent shingles
  *    are skew keys — `graft.shingle.maxDocFreq` (session conf, default
  *    off = oracle-exact) drops shingles whose posting list exceeds the
  *    cap BEFORE any pair join (see [[cappedShingleRows]]), bounding
  *    per-shingle join work under boilerplate skew;
  *  - MinHash/LSH replaces the quadratic pair join with #bands bucket joins:
  *    only same-bucket docs are compared (the MMDS ch.3 construction);
  *  - signatures are 64 longs/doc — 512 B/doc state, broadcastable per
  *    bucket; exact-Jaccard verification only runs on candidate pairs.
  */
object TextPack {
  type Q = (SparkSession, String) => DataFrame

  // the one text MinHasher and shingle width (graft.functions.TextLsh),
  // shared with the streaming index; parity pinned in DedupStreamSpec
  private val mh         = TextLsh.minHash
  private val JACC_T     = 0.5
  private val BPE_ROUNDS = 5 // q113: full BPE merge rounds (sequential part)

  /** q113/q118's shared BPE word state: (w, wc, s) where s is the word's
    * space-joined symbol string padded with spaces, so a literal ' x y '
    * replace can only match whole symbols. Vocabulary-sized: the corpus
    * collapses to word counts first (q108's guarded shape). */
  private def bpeVocab(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .select(col("w"), col("wc"), concat(lit(" "),
        concat_ws(" ", split(col("w"), "")), lit(" ")).as("s"))

  /** Round r's argmax adjacent pair (count desc, pair asc — total order)
    * as a 1-row (round, pair, merged, n) relation. */
  private def bpeBest(w: DataFrame, r: Int): DataFrame =
    w.select(col("wc"), split(trim(col("s")), " ").as("syms"))
      .filter(size(col("syms")) >= 2)
      .select(col("wc"), explode(expr(
        """transform(sequence(1, size(syms) - 1),
          |  i -> concat(element_at(syms, i), ' ', element_at(syms, i + 1)))"""
          .stripMargin)).as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).cast("long").as("n"))
      .orderBy(col("n").desc, col("pair")).limit(1)
      .select(lit(r).cast("long").as("round"), col("pair"),
        translate(col("pair"), " ", "").as("merged"), col("n"))

  /** Apply one merge as TWO replace passes (both engines replace
    * non-overlapping left-to-right, so pass 2 catches the occurrence
    * pass 1's consumed trailing space hides — 'a a a a' → 'aa aa', the
    * greedy BPE result). The 1-row best relation broadcasts. */
  private def bpeMerge(w: DataFrame, best: DataFrame): DataFrame =
    w.crossJoin(broadcast(
        best.select(col("pair").as("_p"), col("merged").as("_m"))))
      .withColumn("s", expr(
        """replace(replace(s, ' ' || _p || ' ', ' ' || _m || ' '),
          |        ' ' || _p || ' ', ' ' || _m || ' ')""".stripMargin))
      .select(col("w"), col("wc"), col("s"))

  /** The full BPE_ROUNDS training chain, with EVERY round's word state
    * (and its 1-row argmax) cache()'d: round r's plan references state
    * r-1 twice — once under the argmax broadcast, once as the merge's
    * stream side — so an uncached fold recomputes compounding prefixes
    * (2^r plan copies by round r; q113 measured 31 s in the r9 sweep,
    * ~1.5 s cached). States are vocabulary-sized (the corpus collapsed
    * to word counts before round 1), so the cached footprint is
    * BPE_ROUNDS+1 small tables. q113/q118/q125 all call this, and
    * CacheManager's canonical-plan match makes the three queries share
    * one set of cached states rather than rebuilding the chain each.
    *
    * Round states are lineage-TRUNCATED (eager localCheckpoint), not just
    * cache()'d: even a fully-cached fold still carries the ~2^r
    * self-similar LOGICAL plan — every downstream Dataset pays seconds of
    * driver-side analysis + CacheManager canonicalization per invocation
    * (measured 2-3 s at 30 state rows). Checkpointing collapses each state
    * to a materialized LogicalRDD, the standard Spark iterative-training
    * pattern (cf. ALS checkpointInterval); on a real cluster use reliable
    * `checkpoint()` against the checkpoint dir instead of the
    * executor-local variant. Built once per (session, dir) through
    * [[Artifacts]]. */
  private def bpeChain(s: SparkSession, d: String): (Seq[DataFrame], DataFrame) =
    Artifacts.get(s, d, "bpeChain") {
      (1 to BPE_ROUNDS).foldLeft(
          (Seq.empty[DataFrame], bpeVocab(s, d).localCheckpoint())) {
        case ((acc, w), r) =>
          val best = bpeBest(w, r).localCheckpoint()
          (acc :+ best, bpeMerge(w, best).localCheckpoint())
      }
    }

  /** Test probe: round 1's argmax WITHOUT the lineage truncation, so
    * PlanQualitySpec can assert the per-round plan shape (TakeOrdered
    * heap over the vocabulary-collapsed pair relation) that
    * [[bpeChain]]'s eager localCheckpoint makes invisible in q113's own
    * executed plan. Every round plans the same two operators over the
    * previous state, so round 1 pins the shape for all of them. */
  private[graft] def bpeProbeRound1(s: SparkSession, d: String): DataFrame =
    bpeBest(bpeVocab(s, d), 1)

  private def toks: Column = split(col("text"), " ")

  /** q36's per-doc quality relation, unsorted — q36 adds the presentation
    * sort; q124's curriculum ntile composes this raw form so no global
    * sort rides mid-plan. The token array is projected ONCE and reused by
    * all three measures — the inline form re-split the text per derived
    * column (3 splits/row). */
  private[operators] def qualityCore(s: SparkSession, d: String): DataFrame =
    qualityCoreOf(Tables.documents(s, d))

  /** q36's five quality measures as COLUMN expressions over a
    * pre-projected token-array column — the one place the formulas live,
    * consumed by [[qualityCoreOf]] and by q119's fused single-scan
    * verdict (identical values by construction: the same expressions,
    * only the surrounding projection differs). */
  private[graft] def qualityExprs(t: Column): Seq[Column] = {
    val nTok = size(t)
    val nDis = size(array_distinct(t))
    val ttr = round(nDis.cast("double") / nTok, 4)
    val stop = round(
      size(filter(t, w => w.isin("the", "a", "value"))).cast("double") / nTok, 4)
    val q = round(
      lit(0.4) * ttr + lit(0.3) * (lit(1.0) - stop)
        + lit(0.3) * least(lit(1.0), nTok.cast("double") / 100.0), 4)
    Seq(nTok.as("n_tokens"), nDis.as("n_distinct"), ttr.as("ttr"),
      stop.as("stop_ratio"), q.as("quality"))
  }

  /** [[qualityCore]] over an arbitrary documents frame — a pure per-doc
    * map (no cross-doc state), which is what lets the streaming curation
    * verdict ([[graft.streaming.CurateStream]]) score arriving docs with
    * the SAME code and get byte-identical quality values. */
  private[graft] def qualityCoreOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), toks.as("t"))
      .select(col("doc_id") +: qualityExprs(col("t")): _*)

  /** The overlap-pair base relation (i, j, shared, ni, nj): doc pairs with
    * ≥1 common shingle, their intersection size, and both set sizes — the
    * one inverted-index self-join EVERY set-similarity score derives from
    * (Jaccard q31, containment q69). Cached so the expensive join is paid
    * once per session; at cluster scale this is the persisted candidate-
    * pair table every dedup pass downstream reads. */
  private[operators] def pairBase(s: SparkSession, d: String): DataFrame =
    // memoized + lineage-truncated (bpeChain's pattern): a plain .cache()
    // still re-analyzes and canonicalizes the inverted-index lineage on
    // every call, and MANY queries compose this relation. The hot-shingle
    // cap changes the relation's contents, so it is part of the key (the
    // BenchOne SPARK_GRAFT_CONF knob and the cap specs flip it in-session).
    Artifacts.get(s, d, s"pairBase|cap=${dfCap(s).getOrElse(-1L)}") {
      val shx = cappedShingleRows(s, d)
      val counts = shx.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      shx.as("a")
        .join(shx.as("b"), col("a.shingle") === col("b.shingle")
          && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
        .agg(count(lit(1)).as("shared"))
        .join(counts.select(col("doc_id").as("i"), col("n").as("ni")), "i")
        .join(counts.select(col("doc_id").as("j"), col("n").as("nj")), "j")
        .localCheckpoint()
    }

  /** q31's near-dup pair relation (i, j, shared, jac) — a cheap scoring
    * projection over [[pairBase]]; also the edge input of q28's clustering
    * and q44's connected components. */
  private[operators] def pairsDf(s: SparkSession, d: String): DataFrame =
    pairBase(s, d)
      .withColumn("jac", round(col("shared").cast("double")
        / (col("ni") + col("nj") - col("shared")), 4))
      .filter(col("jac") >= JACC_T)
      .select(col("i"), col("j"), col("shared"), col("jac"))

  /** (doc_id, shingle) exploded rows — the shingle inverted index. Cached:
    * (also the input of PipelinePack's q69 containment dedup.)
    * it is the shared build artifact of q31 (both self-join sides), q28 and
    * q32 (Spark's CacheManager matches the identical plan across calls), the
    * same "build once, probe many times" role as the reference's persisted
    * LSH index (LoadStaticDataJob.scala:92-105). At cluster scale this is a
    * materialized table bucketed by shingle, not an in-memory cache. */
  private[operators] def shingleRows(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"), explode(TextLsh.shinglesOf(col("t"))).as("shingle"))
      // cached PRE-PARTITIONED on the posting key (guide §2.4): every
      // consumer joins or groups on `shingle` (pairBase's self-join, q105's
      // batch×corpus posting join, q55's train-distinct + hit join), so the
      // one exchange paid at build time replaces an exchange in each of
      // them — and the cache holds shuffle-partitions-many slices instead
      // of the single partition the one-row-group scan would leave it with
      // (every consumer then reads it with full parallelism). At cluster
      // scale this is the table bucketed by shingle.
      .repartition(s.sparkContext.defaultParallelism, col("shingle"))
      .cache()

  /** Session conf knob for the hot-shingle document-frequency cap: a
    * shingle appearing in more than this many documents is dropped from
    * the posting lists BEFORE any pair join. Unset (default) = off, which
    * keeps every pair query byte-exact against its DuckDB oracle. */
  private[operators] val MaxDocFreqKey = "graft.shingle.maxDocFreq"

  /** Shared parse/validate for the document-frequency-cap confs (this
    * shingle cap and SimilarityPack's token cap). */
  private[operators] def parseDfCap(s: SparkSession, key: String,
                                    what: String): Option[Long] =
    s.conf.getOption(key).map(_.trim).filter(_.nonEmpty).map { v =>
      val cap = try v.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$key must be a positive integer, got '$v'")
      }
      require(cap >= 1,
        s"$key must be >= 1 (a cap of $cap would drop every $what)")
      cap
    }

  private def dfCap(s: SparkSession): Option[Long] =
    parseDfCap(s, MaxDocFreqKey, "shingle")

  /** [[shingleRows]] with the document-frequency cap applied when
    * configured. A boilerplate-heavy corpus — the norm at 100 TB — puts a
    * near-identical header shingle in millions of docs; its posting list
    * makes every posting-list self-join quadratic IN THAT ONE KEY. The cap
    * drops such shingles from the similarity universe entirely (they carry
    * no discriminative signal — the same reasoning as stopword removal, and
    * the standard spam/C4-style dedup configuration), so set sizes (`ni`,
    * `nj`) and intersections downstream are consistently measured over the
    * capped universe. Plan: one count per shingle + an anti-join against
    * the over-cap shingle set, which is at most |postings|/cap keys — AQE
    * broadcasts it when small. */
  private[operators] def cappedShingleRows(s: SparkSession, d: String): DataFrame = {
    val shx = shingleRows(s, d)
    dfCap(s) match {
      case None => shx
      case Some(cap) =>
        val hot = shx.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select(col("shingle"))
        shx.join(hot, Seq("shingle"), "left_anti")
    }
  }

  private[operators] val sqlShingleRows: String =
    s"""SELECT doc_id, unnest(s) AS shingle FROM (
       |    SELECT doc_id, ${TextLsh.sqlShingles} AS s
       |    FROM (SELECT doc_id, str_split(text, ' ') AS t FROM documents))""".stripMargin

  /** Per-doc MinHash signature (doc_id, sig) through the one MinHasher:
    * the shingle set sits in one row, so the signature is a map-only
    * codegen'd pass — no explode, no shuffle. Oracle-checked by q32. */
  private def sigDf(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"), mh.sig(TextLsh.shinglesOf(col("t"))).as("sig"))
      .filter(col("sig").isNotNull)

  /** q32's verified near-dup pair relation, unsorted — q32 adds the
    * presentation sort; q112's funnel composes this raw form so no global
    * sort rides mid-plan. 64-slot signatures, 16 bands x 4 rows,
    * candidates = docs sharing any band bucket, then exact-Jaccard
    * verification of candidates only (MMDS ch.3; reference seed:
    * RecommendationUtils.scala:40-49 + LoadStaticDataJob.scala:92-105). */
  private[operators] def minhashNearDupPairs(s: SparkSession, d: String): DataFrame =
    // memoized like pairBase (no cap dependency: candidates come from the
    // signature table, verification from raw shingle sets)
    Artifacts.get(s, d, "minhash") { buildMinhashNearDupPairs(s, d) }

  private def buildMinhashNearDupPairs(s: SparkSession, d: String): DataFrame = {
    val sig = sigDf(s, d)
    val bands = sig.select(col("doc_id"), mh.bandsOf(col("sig")))
    val cand = bands.as("x")
      .join(bands.as("y"), col("x.band") === col("y.band")
        && col("x.bandkey") === col("y.bandkey") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"))
      .distinct()
    val shArr = Tables.documents(s, d)
      .select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"), TextLsh.shinglesOf(col("t")).as("sh"))
    cand
      .join(sig.select(col("doc_id").as("i"), col("sig").as("sig_a")), "i")
      .join(sig.select(col("doc_id").as("j"), col("sig").as("sig_b")), "j")
      .join(shArr.select(col("doc_id").as("i"), col("sh").as("sh_a")), "i")
      .join(shArr.select(col("doc_id").as("j"), col("sh").as("sh_b")), "j")
      .withColumn("est_sim", round(mh.estSim(col("sig_a"), col("sig_b")), 4))
      .withColumn("jac", round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
        / size(array_union(col("sh_a"), col("sh_b"))), 4))
      .filter(col("jac") >= JACC_T)
      .select(col("i"), col("j"), col("est_sim"), col("jac"))
      // materialized once (Artifacts): q32 and q112's funnel share the one
      // LSH-candidate + verify join (near-dup pairs are corpus-small)
      .localCheckpoint()
  }

  /** SimHash: 48-bit per-doc sketch over distinct tokens — bit b is the
    * sign of sum over tokens of ±1 by token-hash bit b. Token hash is
    * base60 (60 bits) so all 48 sketch bits are live; 48 bits keeps the
    * value positive in a signed 64-bit integer in both engines.
    * Plan shape: ONE shuffle (groupBy doc_id) carrying 48 partial-agg
    * columns — no per-bit row explosion, no second aggregate; the final
    * sketch assembly is a codegen'd 48-term projection. Unsorted core;
    * q33 adds the presentation sort. */
  private def simhashSketch(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(array_distinct(toks)).as("tok"))
      .select(col("doc_id"), Hashes.base60(col("tok")).as("x"))
      .groupBy(col("doc_id"))
      .agg(sum(when(expr("(x >> 0) & 1") === 1, 1).otherwise(-1)).as("s0"),
        (1 until 48).map(b =>
          sum(when(expr(s"(x >> $b) & 1") === 1, 1).otherwise(-1)).as(s"s$b")): _*)
      .select(col("doc_id"),
        (0 until 48).map(b =>
          when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))

  /** SimHash near-dup pairs (hamming ≤ 8), unsorted — q34 adds the
    * presentation sort. All-pairs xor scan (sketches are one long per doc,
    * the comparison is two instructions — n² with a tiny constant). An
    * EXACT banded variant exists — 9 bands over 48 bits guarantee a clean
    * band for ≤ 8 errors by pigeonhole — but when sketches cluster (shared
    * vocabulary, as here) bucket sizes explode and Σ bucket² > n²:
    * measured 3.4× SLOWER at sf0.1, so the scan stays. At 100 TB the
    * choice is data-dependent; both are exact, pick by a bucket-size
    * histogram. */
  private[operators] def simhashNearDupPairs(s: SparkSession, d: String): DataFrame =
    Artifacts.get(s, d, "simhash") { buildSimhashNearDupPairs(s, d) }

  private def buildSimhashNearDupPairs(s: SparkSession, d: String): DataFrame = {
    // cache: both self-join sides read the sketch table instead of
    // re-deriving it from raw text (64 bits/doc — trivially resident)
    val sh = simhashSketch(s, d).cache()
    // repartition: BNLJ parallelism = streamed-side partitions (see q41);
    // defaultParallelism, not a constant — scale-adaptive like q41's
    sh.repartition(sh.sparkSession.sparkContext.defaultParallelism)
      .as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("hamming", expr("bit_count(a.simhash ^ b.simhash)"))
      .filter(col("hamming") <= 8)
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"), col("hamming"))
      // materialized once (Artifacts): q34 and q112's funnel share the one
      // n² sketch scan — the in-memory stand-in for the persisted pair
      // table a cluster keeps
      .localCheckpoint()
  }

  val queries: Map[String, Q] = Map(
    // Exact dedup: canonical doc per identical text (hash-groupBy; the
    // baseline dedup pass of any training-data pipeline). Window-min keeps
    // the lowest doc_id as canonical — deterministic keep-first.
    "q30_dedup_exact" -> ((s, d) => {
      val w = Window.partitionBy(col("fp"))
      Tables.documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("fp"))
        .withColumn("canonical_id", min(col("doc_id")).over(w))
        .select(col("doc_id"), col("canonical_id"),
          (col("doc_id") =!= col("canonical_id")).as("is_dup"))
        .orderBy(col("doc_id"))
    }),

    // N-gram Jaccard near-dup pairs, computed scalably: explode shingles,
    // self-join on the shingle (the inverted-index block join — reference
    // A5 shape, LoadStaticDataJob.scala:99-105), count shared, then
    // |A∩B| / (|A|+|B|-|A∩B|). Quadratic only within a shingle's posting
    // list, never across the corpus.
    "q31_ngram_jaccard" -> ((s, d) =>
      pairsDf(s, d).orderBy(col("i"), col("j"))),

    // MinHash + LSH near-dup detection — the scale path: 64-slot signatures,
    // 16 bands x 4 rows, candidates = docs sharing any band bucket, then
    // exact-Jaccard verification of candidates only (MMDS ch.3; reference
    // seed: RecommendationUtils.scala:40-49 + LoadStaticDataJob.scala:92-105).
    "q32_dedup_minhash_lsh" -> ((s, d) =>
      minhashNearDupPairs(s, d).orderBy(col("i"), col("j"))),

    // Dedup-threshold operating curve — the table a pipeline owner reads
    // before PICKING the near-dup threshold: for each candidate cutoff,
    // how many verified pairs fire and how many docs would drop under the
    // keep-smallest-id convention (distinct higher ids in qualifying
    // pairs — the quick curve; the exact transitive count for one chosen
    // cutoff is q44's job). Rides the SAME cached LSH-candidate + verify
    // relation as q32/q112 (no extra corpus work); the sweep itself is an
    // explode over 5 literals on the pair table. Jaccard lifts to exact
    // e4 integers (round() clears FP dust on the 4-dp doubles) so the
    // threshold compare is integral. Floor of the sweep = the LSH design
    // point (banding guarantees recall only above it).
    "q160_dedup_threshold_sweep" -> ((s, d) => {
      val pairs = minhashNearDupPairs(s, d)
      pairs.select(col("j"),
          round(col("jac") * 10000).cast("long").as("jac_e4"),
          explode(array(Seq(5000L, 6000L, 7000L, 8000L, 9000L)
            .map(lit): _*)).as("t_e4"))
        .filter(col("jac_e4") >= col("t_e4"))
        .groupBy(col("t_e4"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("j")).as("n_docs_dropped"))
        .orderBy(col("t_e4"))
    }),

    "q33_simhash" -> ((s, d) => simhashSketch(s, d).orderBy(col("doc_id"))),

    // SimHash near-dup pairs: hamming distance <= 8 of the 48-bit sketches.
    // All-pairs xor scan (sketches are one long per doc, the comparison is
    // two instructions — n² with a tiny constant). An EXACT banded variant
    // exists — 9 bands over 48 bits guarantee a clean band for <= 8 errors
    // by pigeonhole — but when sketches cluster (shared vocabulary, as
    // here) bucket sizes explode and Σ bucket² > n²: measured 3.4× SLOWER
    // at sf0.1, so the scan stays. At 100 TB the choice is data-dependent;
    // both are exact, pick by a bucket-size histogram.
    "q34_simhash_neardup" -> ((s, d) =>
      simhashNearDupPairs(s, d).orderBy(col("i"), col("j"))),

    // Language/profile ID by marker-token scoring: count tokens from each
    // profile's marker list, argmax with deterministic tie order. For
    // natural language the profiles are per-language stopword lists; the
    // plan shape (one codegen'd pass, no shuffle) is the point.
    "q35_langid_markers" -> ((s, d) => {
      // token array projected ONCE for the three marker scans (the inline
      // form re-split the text per profile)
      Tables.documents(s, d)
        .select(col("doc_id"), toks.as("t"))
        .withColumn("s_storage", expr(
          "size(filter(t, w -> w IN ('table', 'row', 'scan', 'part', 'key')))"))
        .withColumn("s_compute", expr(
          "size(filter(t, w -> w IN ('join', 'merge', 'batch', 'hash', 'agg')))"))
        .withColumn("s_stream", expr(
          "size(filter(t, w -> w IN ('window', 'filter', 'order', 'data', 'value')))"))
        .withColumn("pred_profile",
          when(col("s_storage") >= col("s_compute") && col("s_storage") >= col("s_stream"), "storage")
            .when(col("s_compute") >= col("s_stream"), "compute")
            .otherwise("stream"))
        .select(col("doc_id"), col("s_storage"), col("s_compute"),
          col("s_stream"), col("pred_profile"))
        .orderBy(col("doc_id"))
    }),

    // Quality scoring: type-token ratio, stopword ratio, length credit —
    // the standard cheap pre-filter of a training-data pipeline.
    // (Core below the oracle map — q124's curriculum composes the unsorted
    // form so q36's presentation sort never rides mid-plan.)
    "q36_quality_score" -> ((s, d) =>
      qualityCore(s, d).orderBy(col("doc_id"))),

    // Token statistics per source: whitespace tokens + BPE-ish subword
    // count (ceil(len/4) pieces per token) via higher-order aggregate —
    // single codegen'd pass, one small shuffle on source.
    "q37_token_stats" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("source"), col("n_chars"), toks.as("t"))
        .withColumn("n_tokens", size(col("t")).cast("long"))
        .withColumn("n_subwords", expr(
          "aggregate(transform(t, w -> CAST(ceil(length(w) / 4.0) AS BIGINT)), CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(col("n_subwords")).as("total_subwords"),
          round(sum(col("n_chars")).cast("double") / sum(col("n_tokens")), 4).as("chars_per_token"))
        .orderBy(col("source"))
    }),

    // Keep-best dedup: within each near-dup cluster (3-gram jaccard >= 0.5,
    // connected via the q31 pair relation's canonical = min doc id), keep
    // the doc with the highest quality score (q36's formula) — the
    // realistic "which duplicate survives" policy, via max_by/arg_max.
    "q28_dedup_keep_best" -> ((s, d) => {
      val pairs = pairsDf(s, d).select(col("i"), col("j"))
      // cluster id = min doc id over the pair relation (single-hop: the
      // planted dup pairs are disjoint edges; transitive closure is q45's
      // machinery and overkill here)
      val cluster = pairs.select(col("i").as("doc_id"), col("i").as("cluster"))
        .unionByName(pairs.select(col("j").as("doc_id"), col("i").as("cluster")))
        .groupBy(col("doc_id")).agg(min(col("cluster")).as("cluster"))
      val quality = queries("q36_quality_score")(s, d).select(col("doc_id"), col("quality"))
      cluster.join(quality, "doc_id")
        .groupBy(col("cluster"))
        // comparator = quality*1e12 - doc_id: exact in doubles (quality has
        // 4 decimals so the quality gap is >= 1e8 >> any doc_id), ties on
        // quality break to the smaller doc id — same composite in the oracle
        .agg(max_by(col("doc_id"), col("quality") * 1e12 - col("doc_id")).as("kept_doc"),
          round(max(col("quality")), 4).as("best_quality"),
          count(lit(1)).as("cluster_size"))
        .orderBy(col("cluster"))
    }),

    // Text normalization / cleaning: lowercase, collapse whitespace, drop
    // stopwords — the standard pre-tokenization scrub pass (for PII/URL
    // scrubbing the same shape swaps the token filter for regexp classes).
    // One narrow codegen'd pass, no shuffle before the final sort.
    "q29_normalize" -> ((s, d) => {
      // normalized token array projected ONCE (the inline form ran the
      // lower/regexp/split chain twice per row)
      Tables.documents(s, d)
        .select(col("doc_id"),
          split(trim(regexp_replace(lower(col("text")), " +", " ")), " ").as("tn"))
        .select(col("doc_id"), col("tn"),
          expr("filter(tn, t -> t NOT IN ('the', 'a', 'value'))").as("kept"))
        .select(col("doc_id"),
          concat_ws(" ", col("kept")).as("normalized"),
          (size(col("tn")) - size(col("kept"))).as("n_removed"))
        .orderBy(col("doc_id"))
    }),

    // Document chunking: fixed-size token windows with stride — the
    // context-window preparation step of a training pipeline. One narrow
    // pass + explode; chunk count ~ n_tokens/stride per doc.
    "q39_chunking" -> ((s, d) => {
      val CHUNK = 32; val STRIDE = 16
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), col("t"),
          posexplode(sequence(lit(0),
            greatest(ceil((size(col("t")) - lit(CHUNK)).cast("double") / STRIDE).cast("long"), lit(0))))
            .as(Seq("chunk_id", "k")))
        .select(col("doc_id"), col("chunk_id"),
          concat_ws(" ", slice(col("t"), col("k") * STRIDE + 1, lit(CHUNK))).as("chunk"),
          least(size(col("t")) - col("k") * STRIDE, lit(CHUNK)).as("n_tokens"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // Document fingerprinting: 60-bit content hash of whitespace-normalized
    // lowercase text + fingerprint-group size (dup-cluster cardinality).
    "q38_fingerprint" -> ((s, d) => {
      val norm = trim(regexp_replace(lower(col("text")), " +", " "))
      val w = Window.partitionBy(col("fp60"))
      Tables.documents(s, d)
        .select(col("doc_id"), Hashes.base60(norm).as("fp60"))
        .withColumn("group_size", count(lit(1)).over(w))
        .orderBy(col("doc_id"))
    }),

    // Incremental corpus dedup: a NEW ingest batch (hash-designated ~20% of
    // docs) deduped against the standing corpus without ever re-pairing
    // corpus×corpus — the shape a 100 TB pipeline actually runs daily. The
    // shingle inverted index splits by membership and only batch-side
    // postings join corpus-side postings, so per-shingle work is
    // |batch postings| × |corpus postings| (vs the full index's quadratic
    // posting-list blowup) and yesterday's corpus pairs are never
    // recomputed. Per batch doc: match count, best corpus match
    // (max Jaccard, min corpus id on ties), and the drop verdict.
    "q105_incremental_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        (Hashes.base32(col("doc_id").cast("string")) % 5 === 0).as("is_new"))
      val shx = cappedShingleRows(s, d).join(docs, "doc_id")
      val counts = shx.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val pairs = shx.filter(col("is_new")).as("a")
        .join(shx.filter(!col("is_new")).as("b"),
          col("a.shingle") === col("b.shingle"))
        .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
        .agg(count(lit(1)).as("shared"))
        .join(counts.select(col("doc_id").as("i"), col("n").as("ni")), "i")
        .join(counts.select(col("doc_id").as("j"), col("n").as("nj")), "j")
        .withColumn("jac", round(col("shared").cast("double")
          / (col("ni") + col("nj") - col("shared")), 4))
        .filter(col("jac") >= JACC_T)
      val bw = Window.partitionBy(col("i"))
      val matched = pairs
        .withColumn("bj", max(col("jac")).over(bw))
        .groupBy(col("i"))
        .agg(count(lit(1)).as("n_matches"), first(col("bj")).as("best_jac"),
          min(when(col("jac") === col("bj"), col("j"))).as("best_match"))
      docs.filter(col("is_new")).select(col("doc_id").as("i"))
        .join(matched, Seq("i"), "left")
        .select(col("i").as("doc_id"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"),
          coalesce(col("best_jac"), lit(0.0)).as("best_jac"),
          coalesce(col("best_match"), lit(-1L)).as("best_match"),
          coalesce(col("n_matches") > 0, lit(false)).as("is_dup"))
        .orderBy(col("doc_id"))
    }),

    // BPE merge-candidate counting — the distributed inner loop of
    // byte-pair-encoding tokenizer training (Sennrich et al. 2016): count
    // adjacent symbol pairs across the corpus weighted by word frequency;
    // the argmax pair is the next merge rule. This is the first
    // iteration's candidate table (symbols = characters); the training
    // loop re-runs the same distributed step after applying each merge.
    // Scale: the corpus collapses to the word-frequency table FIRST (one
    // shuffle on the word, vocabulary-sized), pairs then explode from the
    // (word, count) relation — pair volume ∝ Σ|word| over the VOCABULARY,
    // not over the corpus; the final count is a second vocabulary-sized
    // shuffle. Integer counts, total order, top-20 → hash-exact.
    "q108_bpe_pairs" -> ((s, d) => {
      val words = Tables.documents(s, d)
        .select(explode(split(lower(col("text")), " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      words
        .select(col("wc"), explode(
          expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy(col("pair")).agg(sum(col("wc")).cast("long").as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
    }),

    // (q113/q118 share the BPE kernel below the oracle map: bpeVocab /
    // bpeBest / bpeMerge.)
    // Multi-round distributed BPE training (Sennrich et al. 2016) — q108
    // is ONE round's candidate table; this runs BPE_ROUNDS full rounds:
    // count adjacent symbol pairs over the (vocabulary-sized) word-freq
    // relation, pick the argmax pair (count desc, pair asc — total order),
    // apply the merge, repeat. Words are space-joined symbol strings padded
    // with spaces, so a literal ' x y ' replace can only match whole
    // symbols; the merge applies as TWO replace passes (both engines
    // replace non-overlapping left-to-right, so pass 2 catches the
    // occurrence pass 1's consumed trailing space hides — 'a a a a'
    // merges to 'aa aa', the greedy BPE result). Fully declarative: each
    // round's argmax is a 1-row broadcast crossJoin, no driver-side data.
    // Scale: pair volume ∝ Σ|word| over the VOCABULARY (corpus collapses
    // to word counts first, exactly q108's guarded shape), and each round
    // is one vocabulary-sized shuffle — rounds are the sequential part,
    // as in any BPE trainer.
    "q113_bpe_merges" -> ((s, d) => {
      val (rows, _) = bpeChain(s, d)
      rows.reduce(_ unionByName _).orderBy(col("round"))
    }),

    // TOKENIZE with the trained merges — the application half of the BPE
    // story (train q113 → apply → measure): re-run the five merge rounds
    // and emit the top-20 words by frequency with their final symbol
    // segmentation and symbol count. The oracle re-trains AND re-applies
    // end-to-end, so a wrong merge or a wrong application order cannot
    // hash-match. Scale: identical to q113 (vocabulary-sized states, the
    // corpus collapses to word counts first); tokenizing actual documents
    // is then a broadcast join of this vocabulary-sized (word → seg) map
    // against the corpus — no per-doc iteration anywhere.
    "q118_bpe_apply" -> ((s, d) => {
      val wT = bpeChain(s, d)._2
      wT.select(col("w").as("word"), col("wc"),
          trim(col("s")).as("seg"),
          size(split(trim(col("s")), " ")).cast("long").as("n_sym"))
        .orderBy(col("wc").desc, col("word")).limit(20)
    }),

    // Tokenizer fertility per language — the standard multilingual
    // tokenizer-evaluation table: symbols-per-word and chars-per-symbol of
    // the q113-trained vocabulary, by language. The trained word→n_sym map
    // is vocabulary-sized, so applying it to the corpus is a broadcast
    // join onto the per-(lang, word) counts — the corpus itself is touched
    // once for the counts and never re-tokenized per round. Oracle
    // re-trains all five rounds (q113's chain) before measuring, so a
    // wrong merge anywhere upstream breaks the hash here too.
    "q125_bpe_fertility" -> ((s, d) => {
      val wT = bpeChain(s, d)._2
      val segs = wT.select(col("w"),
        size(split(trim(col("s")), " ")).cast("long").as("n_sym"))
      val perLang = Tables.documents(s, d)
        .select(col("lang"), explode(split(lower(col("text")), " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("wc"))
      perLang.join(broadcast(segs), "w")
        .groupBy(col("lang"))
        .agg(sum(col("wc")).cast("long").as("n_words"),
          sum(col("wc") * col("n_sym")).cast("long").as("n_symbols"),
          sum(col("wc") * length(col("w"))).cast("long").as("n_chars"))
        .withColumn("fertility",
          round(col("n_symbols").cast("double") / col("n_words"), 4))
        .withColumn("chars_per_sym",
          round(col("n_chars").cast("double") / col("n_symbols"), 4))
        .orderBy(col("lang"))
    }),

    // Dedup-funnel report — stage-by-stage survivor accounting across the
    // dedup stack: raw → exact (q30 keep-first) → MinHash-LSH near-dup
    // (q32's verified pairs) → SimHash near-dup (q34's hamming ≤ 8 pairs).
    // The per-stage rule is deterministic keep-first: a doc is dropped at
    // stage N iff some SMALLER-id near-dup partner survived stage N-1 —
    // order- and engine-independent, no transitive-closure dependence.
    // This is the "how much data does each dedup pass cost me" audit every
    // training-data pipeline publishes before committing a filter chain.
    // Scale: each stage adds one semi-join + one anti-join on doc_id over
    // the (already sub-quadratic) pair relations; the report itself is 4
    // rows of integer counters — combine-tree exact.
    "q112_dedup_funnel" -> ((s, d) => {
      val w = Window.partitionBy(col("fp"))
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("ntok"),
          md5(col("text")).as("fp"))
        .withColumn("canonical_id", min(col("doc_id")).over(w))
      val s1 = docs.filter(col("doc_id") === col("canonical_id"))
        .select(col("doc_id"), col("ntok"))
      def dropBy(pairs: DataFrame, prev: DataFrame): DataFrame = {
        val drop = pairs
          .join(prev.select(col("doc_id").as("i")), Seq("i"), "left_semi")
          .select(col("j").as("doc_id")).distinct()
        prev.join(drop, Seq("doc_id"), "left_anti")
      }
      val s2 = dropBy(minhashNearDupPairs(s, d).select(col("i"), col("j")), s1)
      val s3 = dropBy(simhashNearDupPairs(s, d).select(col("i"), col("j")), s2)
      def stat(df: DataFrame, idx: Int, name: String): DataFrame =
        df.agg(count(lit(1)).as("docs"),
            coalesce(sum(col("ntok")), lit(0L)).as("tokens"))
          .select(lit(idx).cast("long").as("stage"), lit(name).as("stage_name"),
            col("docs"), col("tokens"))
      stat(docs, 0, "raw")
        .unionByName(stat(s1, 1, "exact"))
        .unionByName(stat(s2, 2, "minhash_lsh"))
        .unionByName(stat(s3, 3, "simhash"))
        .orderBy(col("stage"))
    })
  )

  /** CTE chain shx → counts → pairs producing q31's near-dup pair relation
    * (i, j) — shared by the q28 oracle and PipelinePack's q44 clustering
    * oracle (same single source of truth as the Spark side, which calls
    * queries("q31_ngram_jaccard")). */
  private[operators] val sqlPairCtes: String =
    s"""shx AS (
       |  $sqlShingleRows
       |), counts AS (
       |  SELECT doc_id, count(*) AS n FROM shx GROUP BY doc_id
       |), pairs AS (
       |  SELECT i, j FROM (
       |    SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS shared
       |    FROM shx a JOIN shx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |    GROUP BY 1, 2
       |  ) s JOIN counts ci ON ci.doc_id = i JOIN counts cj ON cj.doc_id = j
       |  WHERE round(shared::DOUBLE / (ci.n + cj.n - shared), 4) >= $JACC_T
       |)""".stripMargin

  /** q32's full statement — also composed (as a derived table) into the
    * q112 funnel oracle. */
  private val sqlQ32: String =
    s"""WITH shx AS (
       |  $sqlShingleRows
       |), sig AS (
       |  ${mh.sqlSignature("shx", "doc_id", "shingle")}
       |), bands AS (
       |  ${mh.sqlBands("sig", "doc_id")}
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS i, y.doc_id AS j
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bandkey = y.bandkey AND x.doc_id < y.doc_id
       |), sh AS (
       |  SELECT doc_id, ${TextLsh.sqlShingles} AS s
       |  FROM (SELECT doc_id, str_split(text, ' ') AS t FROM documents)
       |)
       |SELECT i, j,
       |  round(${mh.sqlEstSim("sa", "sb")}, 4) AS est_sim,
       |  round(len(list_intersect(pa.s, pb.s))::DOUBLE
       |        / len(list_distinct(list_concat(pa.s, pb.s))), 4) AS jac
       |FROM cand
       |  JOIN sig sa ON sa.doc_id = i JOIN sig sb ON sb.doc_id = j
       |  JOIN sh pa ON pa.doc_id = i JOIN sh pb ON pb.doc_id = j
       |WHERE round(len(list_intersect(pa.s, pb.s))::DOUBLE
       |        / len(list_distinct(list_concat(pa.s, pb.s))), 4) >= $JACC_T
       |ORDER BY i, j""".stripMargin

  /** q34's full statement — also composed into the q112 funnel oracle. */
  private val sqlQ34: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(list_distinct(str_split(text, ' '))) AS tok FROM documents
       |), bits AS (
       |  SELECT doc_id, b,
       |    sum(CASE WHEN ((${Hashes.sqlBase60("tok")} >> b) & 1) = 1 THEN 1 ELSE -1 END) AS sgn
       |  FROM tok, range(0, 48) r(b) GROUP BY doc_id, b
       |), sh AS (
       |  SELECT doc_id,
       |    sum(CASE WHEN sgn > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
       |  FROM bits GROUP BY doc_id
       |)
       |SELECT a.doc_id AS i, b.doc_id AS j,
       |  bit_count(xor(a.simhash, b.simhash)) AS hamming
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
       |ORDER BY i, j""".stripMargin

  val oracle: Map[String, String] = Map(
    "q30_dedup_exact" ->
      """SELECT doc_id, canonical_id, doc_id <> canonical_id AS is_dup FROM (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
        |  FROM documents
        |) ORDER BY doc_id""".stripMargin,

    "q31_ngram_jaccard" ->
      s"""WITH shx AS (
         |  $sqlShingleRows
         |), counts AS (
         |  SELECT doc_id, count(*) AS n FROM shx GROUP BY doc_id
         |), shared AS (
         |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS shared
         |  FROM shx a JOIN shx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT i, j, shared,
         |  round(shared::DOUBLE / (ci.n + cj.n - shared), 4) AS jac
         |FROM shared JOIN counts ci ON ci.doc_id = i JOIN counts cj ON cj.doc_id = j
         |WHERE round(shared::DOUBLE / (ci.n + cj.n - shared), 4) >= $JACC_T
         |ORDER BY i, j""".stripMargin,

    "q32_dedup_minhash_lsh" -> sqlQ32,

    "q160_dedup_threshold_sweep" ->
      s"""WITH pairs AS (
         |  $sqlQ32
         |), th(t_e4) AS (VALUES (5000), (6000), (7000), (8000), (9000))
         |SELECT t_e4::BIGINT AS t_e4, count(*)::BIGINT AS n_pairs,
         |  count(DISTINCT j)::BIGINT AS n_docs_dropped
         |FROM pairs JOIN th ON round(jac * 10000)::BIGINT >= t_e4
         |GROUP BY t_e4 ORDER BY t_e4""".stripMargin,

    "q33_simhash" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(list_distinct(str_split(text, ' '))) AS tok FROM documents
         |), bits AS (
         |  SELECT doc_id, b,
         |    sum(CASE WHEN ((${Hashes.sqlBase60("tok")} >> b) & 1) = 1 THEN 1 ELSE -1 END) AS sgn
         |  FROM tok, range(0, 48) r(b) GROUP BY doc_id, b
         |)
         |SELECT doc_id,
         |  sum(CASE WHEN sgn > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
         |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q34_simhash_neardup" -> sqlQ34,

    // each stage's survivors are read by the next stage and by the
    // counts: MATERIALIZED keeps DuckDB from re-running the MinHash and
    // SimHash pair joins per reference (at sf0.01 on a 4-vCPU VM:
    // 3.7-5.3 s before, 1.3 s after)
    "q112_dedup_funnel" ->
      s"""WITH d AS (
         |  SELECT doc_id, len(str_split(text, ' '))::BIGINT AS ntok FROM documents
         |), ex AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS c
         |    FROM documents
         |  ) WHERE doc_id = c
         |), s1 AS MATERIALIZED (
         |  SELECT d.* FROM d JOIN ex USING (doc_id)
         |), mh AS (
         |  SELECT i, j FROM ($sqlQ32)
         |), mdrop AS MATERIALIZED (
         |  SELECT DISTINCT j AS doc_id FROM mh JOIN s1 ON s1.doc_id = mh.i
         |), s2 AS MATERIALIZED (
         |  SELECT * FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM mdrop)
         |), sh2 AS (
         |  SELECT i, j FROM ($sqlQ34)
         |), sdrop AS MATERIALIZED (
         |  SELECT DISTINCT j AS doc_id FROM sh2 JOIN s2 ON s2.doc_id = sh2.i
         |), s3 AS (
         |  SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM sdrop)
         |)
         |SELECT 0::BIGINT AS stage, 'raw' AS stage_name,
         |  count(*) AS docs, coalesce(sum(ntok), 0)::BIGINT AS tokens FROM d
         |UNION ALL
         |SELECT 1::BIGINT, 'exact', count(*), coalesce(sum(ntok), 0)::BIGINT FROM s1
         |UNION ALL
         |SELECT 2::BIGINT, 'minhash_lsh', count(*), coalesce(sum(ntok), 0)::BIGINT FROM s2
         |UNION ALL
         |SELECT 3::BIGINT, 'simhash', count(*), coalesce(sum(ntok), 0)::BIGINT FROM s3
         |ORDER BY stage""".stripMargin,

    "q35_langid_markers" ->
      """SELECT doc_id, s_storage, s_compute, s_stream,
        |  CASE WHEN s_storage >= s_compute AND s_storage >= s_stream THEN 'storage'
        |       WHEN s_compute >= s_stream THEN 'compute'
        |       ELSE 'stream' END AS pred_profile
        |FROM (
        |  SELECT doc_id,
        |    len(list_filter(str_split(text, ' '), t -> list_contains(['table', 'row', 'scan', 'part', 'key'], t))) AS s_storage,
        |    len(list_filter(str_split(text, ' '), t -> list_contains(['join', 'merge', 'batch', 'hash', 'agg'], t))) AS s_compute,
        |    len(list_filter(str_split(text, ' '), t -> list_contains(['window', 'filter', 'order', 'data', 'value'], t))) AS s_stream
        |  FROM documents
        |) ORDER BY doc_id""".stripMargin,

    "q36_quality_score" ->
      s"""SELECT doc_id, n_tokens, n_distinct, ttr, stop_ratio,
        |  ${Hashes.sqlRound("0.4::DOUBLE * ttr + 0.3::DOUBLE * (1.0::DOUBLE - stop_ratio) + 0.3::DOUBLE * least(1.0::DOUBLE, n_tokens::DOUBLE / 100.0::DOUBLE)", 4)} AS quality
        |FROM (
        |  SELECT doc_id, n_tokens, n_distinct,
        |    round(n_distinct::DOUBLE / n_tokens, 4) AS ttr,
        |    round(n_stop::DOUBLE / n_tokens, 4) AS stop_ratio
        |  FROM (
        |    SELECT doc_id,
        |      len(str_split(text, ' ')) AS n_tokens,
        |      len(list_distinct(str_split(text, ' '))) AS n_distinct,
        |      len(list_filter(str_split(text, ' '), t -> list_contains(['the', 'a', 'value'], t))) AS n_stop
        |    FROM documents
        |  )
        |) ORDER BY doc_id""".stripMargin,

    "q37_token_stats" ->
      s"""SELECT source, count(*) AS n_docs,
        |  sum(n_tokens)::BIGINT AS total_tokens,
        |  sum(n_subwords)::BIGINT AS total_subwords,
        |  ${Hashes.sqlRound("sum(n_chars)::DOUBLE / sum(n_tokens)", 4)} AS chars_per_token
        |FROM (
        |  SELECT source, n_chars,
        |    len(str_split(text, ' '))::BIGINT AS n_tokens,
        |    list_aggregate(list_transform(str_split(text, ' '),
        |      t -> ceil(len(t) / 4.0)::BIGINT), 'sum') AS n_subwords
        |  FROM documents
        |) GROUP BY source ORDER BY source""".stripMargin,

    "q28_dedup_keep_best" ->
      s"""WITH $sqlPairCtes, cluster AS (
         |  SELECT doc_id, min(cluster) AS cluster FROM (
         |    SELECT i AS doc_id, i AS cluster FROM pairs
         |    UNION ALL SELECT j AS doc_id, i AS cluster FROM pairs
         |  ) GROUP BY doc_id
         |), quality AS (
         |  SELECT doc_id,
         |    ${Hashes.sqlRound("0.4::DOUBLE * ttr + 0.3::DOUBLE * (1.0::DOUBLE - stop_ratio) + 0.3::DOUBLE * least(1.0::DOUBLE, n_tokens::DOUBLE / 100.0::DOUBLE)", 4)} AS quality
         |  FROM (
         |    SELECT doc_id,
         |      round(len(list_distinct(str_split(text, ' ')))::DOUBLE / len(str_split(text, ' ')), 4) AS ttr,
         |      round(len(list_filter(str_split(text, ' '), t -> list_contains(['the', 'a', 'value'], t)))::DOUBLE / len(str_split(text, ' ')), 4) AS stop_ratio,
         |      len(str_split(text, ' ')) AS n_tokens
         |    FROM documents
         |  )
         |)
         |SELECT cluster,
         |  arg_max(c.doc_id, quality * 1e12 - c.doc_id) AS kept_doc,
         |  round(max(quality), 4) AS best_quality,
         |  count(*) AS cluster_size
         |FROM cluster c JOIN quality q ON q.doc_id = c.doc_id
         |GROUP BY cluster ORDER BY cluster""".stripMargin,

    "q29_normalize" ->
      """SELECT doc_id,
        |  array_to_string(kept, ' ') AS normalized,
        |  len(t) - len(kept) AS n_removed
        |FROM (
        |  SELECT doc_id, t,
        |    list_filter(t, x -> NOT list_contains(['the', 'a', 'value'], x)) AS kept
        |  FROM (
        |    SELECT doc_id,
        |      str_split(trim(regexp_replace(lower(text), ' +', ' ', 'g')), ' ') AS t
        |    FROM documents
        |  )
        |) ORDER BY doc_id""".stripMargin,

    "q39_chunking" ->
      """SELECT doc_id, chunk_id,
        |  array_to_string(t[chunk_id * 16 + 1 : chunk_id * 16 + 32], ' ') AS chunk,
        |  least(len(t) - chunk_id * 16, 32) AS n_tokens
        |FROM (
        |  SELECT doc_id, t,
        |    unnest(range(0, greatest(ceil((len(t) - 32)::DOUBLE / 16)::BIGINT, 0) + 1)) AS chunk_id
        |  FROM (SELECT doc_id, str_split(text, ' ') AS t FROM documents)
        |) ORDER BY doc_id, chunk_id""".stripMargin,

    "q38_fingerprint" ->
      s"""SELECT doc_id, fp60, count(*) OVER (PARTITION BY fp60) AS group_size
         |FROM (
         |  SELECT doc_id,
         |    ${Hashes.sqlBase60("trim(regexp_replace(lower(text), ' +', ' ', 'g'))")} AS fp60
         |  FROM documents
         |) ORDER BY doc_id""".stripMargin,

    "q105_incremental_dedup" ->
      s"""WITH m AS (
         |  SELECT doc_id, ${Hashes.sqlBase32("doc_id::VARCHAR")} % 5 = 0 AS is_new
         |  FROM documents
         |), shx AS (
         |  SELECT s.doc_id, shingle, m.is_new
         |  FROM ($sqlShingleRows) s JOIN m USING (doc_id)
         |), counts AS (
         |  SELECT doc_id, count(*) AS n FROM shx GROUP BY doc_id
         |), pr AS (
         |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS shared
         |  FROM shx a JOIN shx b ON a.shingle = b.shingle
         |    AND a.is_new AND NOT b.is_new
         |  GROUP BY 1, 2
         |), scored AS (
         |  SELECT i, j, round(shared::DOUBLE / (ci.n + cj.n - shared), 4) AS jac
         |  FROM pr JOIN counts ci ON ci.doc_id = i JOIN counts cj ON cj.doc_id = j
         |  WHERE round(shared::DOUBLE / (ci.n + cj.n - shared), 4) >= $JACC_T
         |), win AS (
         |  SELECT i, j, jac, max(jac) OVER (PARTITION BY i) AS bj FROM scored
         |), agg AS (
         |  SELECT i, count(*) AS n_matches, any_value(bj) AS best_jac,
         |    min(CASE WHEN jac = bj THEN j END) AS best_match
         |  FROM win GROUP BY i
         |)
         |SELECT m.doc_id, coalesce(n_matches, 0)::BIGINT AS n_matches,
         |  coalesce(best_jac, 0.0) AS best_jac,
         |  coalesce(best_match, -1)::BIGINT AS best_match,
         |  coalesce(n_matches > 0, false) AS is_dup
         |FROM m LEFT JOIN agg ON agg.i = m.doc_id
         |WHERE m.is_new ORDER BY m.doc_id""".stripMargin,

    "q108_bpe_pairs" ->
      """WITH w AS (
        |  SELECT w, count(*) AS wc FROM (
        |    SELECT unnest(str_split(lower(text), ' ')) AS w FROM documents)
        |  WHERE len(w) >= 2 GROUP BY 1
        |), p AS (
        |  SELECT unnest([substr(w, i, 2) FOR i IN range(1, len(w))]) AS pair, wc
        |  FROM w
        |)
        |SELECT pair, sum(wc)::BIGINT AS n FROM p
        |GROUP BY 1 ORDER BY n DESC, pair LIMIT 20""".stripMargin,

    // The oracle recomputes every round's argmax itself (no merge literals
    // are fed in): round r's word state is rebuilt by chaining the SAME
    // two-pass replace with the PREVIOUS rounds' argmax pairs as scalar
    // subqueries, so a wrong merge selection on the Spark side cannot
    // hash-match.
    "q113_bpe_merges" -> {
      val ctes = (1 to BPE_ROUNDS).map(r =>
        if (r < BPE_ROUNDS) s"${bpeSqlBest(r)}, ${bpeSqlStep(r)}"
        else bpeSqlBest(r)).mkString(", ")
      val sel = (1 to BPE_ROUNDS).map(r =>
        s"SELECT $r::BIGINT AS round, pair, replace(pair, ' ', '') AS merged, n FROM b$r")
        .mkString("\n|UNION ALL\n|".stripMargin)
      s"""WITH $bpeSqlW0, $ctes
         |$sel
         |ORDER BY round""".stripMargin
    },

    // Re-trains AND re-applies all five rounds (shares q113's generators),
    // so a wrong merge or application on the Spark side cannot hash-match.
    "q118_bpe_apply" -> {
      val ctes = (1 to BPE_ROUNDS).map(r =>
        s"${bpeSqlBest(r)}, ${bpeSqlStep(r)}").mkString(", ")
      s"""WITH $bpeSqlW0, $ctes
         |SELECT w AS word, wc, trim(s) AS seg,
         |  len(str_split(trim(s), ' '))::BIGINT AS n_sym
         |FROM w$BPE_ROUNDS
         |ORDER BY wc DESC, word LIMIT 20""".stripMargin
    },

    // Re-trains the full chain, then measures it per language.
    "q125_bpe_fertility" -> {
      val ctes = (1 to BPE_ROUNDS).map(r =>
        s"${bpeSqlBest(r)}, ${bpeSqlStep(r)}").mkString(", ")
      s"""WITH $bpeSqlW0, $ctes, segs AS MATERIALIZED (
         |  SELECT w, len(str_split(trim(s), ' '))::BIGINT AS n_sym
         |  FROM w$BPE_ROUNDS
         |), pl AS MATERIALIZED (
         |  SELECT lang, w, count(*)::BIGINT AS wc FROM (
         |    SELECT lang, unnest(str_split(lower(text), ' ')) AS w
         |    FROM documents)
         |  WHERE len(w) >= 2 GROUP BY 1, 2
         |)
         |SELECT lang, sum(wc)::BIGINT AS n_words,
         |  sum(wc * n_sym)::BIGINT AS n_symbols,
         |  sum(wc * len(w))::BIGINT AS n_chars,
         |  ${Hashes.sqlRound("sum(wc * n_sym)::DOUBLE / sum(wc)", 4)}
         |    AS fertility,
         |  ${Hashes.sqlRound("sum(wc * len(w))::DOUBLE / sum(wc * n_sym)", 4)}
         |    AS chars_per_sym
         |FROM pl JOIN segs USING (w)
         |GROUP BY lang ORDER BY lang""".stripMargin
    }
  )

  /** Shared oracle generators for the BPE chain (q113/q118): the initial
    * word state and, per round, the argmax pair + the two-pass replace.
    * The word rides through every state so q118 can emit segmentations.
    *
    * Every CTE is `AS MATERIALIZED`: w_r references w_{r-1} four times
    * (two scalar subqueries on b_r times two replace passes), and DuckDB
    * inlines plain CTEs, so without materialization each round recomputes
    * the whole chain — the same 2^r compounding recompute the Spark side
    * fixed with the lineage-truncated `bpeChain`. Measured at sf0.01:
    * q113 30.5 s → 0.03 s, q118 211 s → 0.05 s, q125 >600 s → 0.04 s,
    * identical results. */
  private def bpeSqlW0: String =
    """w0 AS MATERIALIZED (
      |  SELECT w, wc, ' ' || array_to_string(
      |    [substr(w, i, 1) FOR i IN range(1, len(w) + 1)], ' ') || ' ' AS s
      |  FROM (
      |    SELECT w, count(*) AS wc FROM (
      |      SELECT unnest(str_split(lower(text), ' ')) AS w FROM documents)
      |    WHERE len(w) >= 2 GROUP BY 1
      |  )
      |)""".stripMargin

  private def bpeSqlBest(r: Int): String =
    s"""b$r AS MATERIALIZED (
       |  SELECT pair, sum(wc)::BIGINT AS n FROM (
       |    SELECT wc, unnest([syms[i] || ' ' || syms[i+1]
       |                       FOR i IN range(1, len(syms))]) AS pair
       |    FROM (SELECT wc, str_split(trim(s), ' ') AS syms FROM w${r - 1})
       |  ) GROUP BY 1 ORDER BY n DESC, pair LIMIT 1
       |)""".stripMargin

  private def bpeSqlStep(r: Int): String =
    s"""w$r AS MATERIALIZED (
       |  SELECT w, wc, replace(replace(s,
       |    ' ' || (SELECT pair FROM b$r) || ' ',
       |    ' ' || (SELECT replace(pair, ' ', '') FROM b$r) || ' '),
       |    ' ' || (SELECT pair FROM b$r) || ' ',
       |    ' ' || (SELECT replace(pair, ' ', '') FROM b$r) || ' ') AS s
       |  FROM w${r - 1}
       |)""".stripMargin
}
