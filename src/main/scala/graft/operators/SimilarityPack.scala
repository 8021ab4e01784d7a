package graft.operators

import graft.Tables
import graft.functions.{Hashes, KMeans}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings` table (`Array[Float]` column) —
  * the ANN surface of a training-data pipeline, grown from the reference's
  * LSH-candidate machinery (reference:
  * jobs/recommendations/AsyncCandidateUsersLookupFunction.scala:20-59 —
  * bucket → candidates → exact score → top-N; same skeleton, vectors
  * instead of MinHash sets).
  *
  * All vector math runs in DOUBLE via higher-order functions
  * (`zip_with` + `aggregate` — codegen'd, no UDFs). Floats are cast to
  * double BEFORE any arithmetic so Spark and the DuckDB oracle see
  * bit-identical inputs; norms are computed once per vector, not per pair.
  *
  * Scale design (100 TB):
  *  - q40 broadcast-joins the (small) query set against the full corpus —
  *    no shuffle of the big side; the only shuffle is the per-query top-k.
  *    At cluster scale, partial top-k per partition precedes that shuffle
  *    (mapPartitions heap) — the declarative window form is kept here for
  *    oracle parity.
  *  - q41's all-pairs form is quadratic: it exists as the correctness
  *    baseline. The scale path is q42: L hash tables of k sign-projections
  *    each; candidates = pairs sharing ≥1 bucket. Join cost collapses from
  *    n² to Σ bucket².
  *  - Projection constants are seeded Scala literals embedded in both the
  *    Spark plan and the oracle SQL — same determinism contract as
  *    TextPack's MinHash family.
  */
object SimilarityPack {
  type Q = (SparkSession, String) => DataFrame

  private val DIM      = 64
  private[graft] val TOP_K    = 10
  private val NEARDUP_T = 0.4
  private val TABLES   = 4   // LSH tables (L)
  private val BITS     = 8   // sign-projection bits per table (k)
  private[graft] val HYB_QMOD = 100 // hybrid-search query set: doc_id % 100 == 0
  // Absolute bound on the query panel: retrieval queries are user-issued,
  // not corpus-sized, so the panel must NOT grow with the corpus (the
  // r10 sfx1 sweep measured exponent 1.83 for the unbounded %-only panel
  // vs ~1 with the cap). 5000 covers the full native doc_id range of
  // every shipped SF, so gate results are bit-identical with or without
  // the cap; it binds only on larger corpora.
  private[graft] val HYB_QCAP = 5000
  private val ANN_QMOD = 50 // ANN evaluation panel: vec_id % 50 == 0
  // Absolute bound for every ANN/bitext/eval query panel (same rationale
  // and same gate-identical range as HYB_QCAP above).
  private val ANN_QCAP = 5000
  /** The ANN evaluation panel as a predicate: a FIXED query set — modulus
    * for spread, absolute cap so the panel does not grow with the corpus
    * (panel × corpus work must stay linear in the corpus at 100 TB). */
  private[graft] def annPanel(id: Column): Column =
    id % ANN_QMOD === 0 && id < ANN_QCAP
  private[graft] val HYB_RRF  = 60  // RRF constant (standard k=60)
  private[graft] val HYB_TOP  = 5   // fused results per query
  private val BITEXT_QMOD = 25 // bitext query set: non-en docs, id % 25 == 0
  private val MARGIN_K    = 4  // margin denominator: avg of top-K cosines
  private val NEG_K       = 5  // q151 mined negatives per anchor
  // q151 semi-hard band: a negative within 0.05 cosine BELOW the anchor's
  // nearest positive is semi-hard (FaceNet's margin, in micro-units)
  private val SEMI_MARGIN_MICRO = 50000L

  /** Seeded ±1 projection planes: TABLES*BITS planes × DIM entries. */
  private val planes: IndexedSeq[IndexedSeq[Int]] = {
    val r = new scala.util.Random(7)
    IndexedSeq.fill(TABLES * BITS, DIM)(if (r.nextBoolean()) 1 else -1)
  }

  /** embeddings with double vector + norm, computed once per vector. */
  private[graft] def vecs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("norm", sqrt(graft.functions.VecDot.of(col("v"), col("v"))))
      .select(col("vec_id"), col("label"), col("v"), col("norm"))

  private val sqlVecs: String =
    """SELECT vec_id, label, [x::DOUBLE FOR x IN embedding] AS v,
      |         sqrt(list_dot_product([x::DOUBLE FOR x IN embedding],
      |                               [x::DOUBLE FOR x IN embedding])) AS norm
      |  FROM embeddings""".stripMargin

  /** cosine of two (pre-normed) vector columns.
    *
    * Dot product = the native [[graft.functions.VecDot]] kernel: same
    * sequential fold (bit-identical to `aggregate(zip_with(...))` and the
    * oracle's `list_dot_product`) but reading both arrays in place — no
    * per-pair intermediate array in the n² scan. A 64-term unrolled
    * `v[0]*c[0] + ...` sum was also tried and measured 4-7× SLOWER
    * end-to-end (deep Add trees explode Catalyst planning + janino
    * compile and ship MiB-sized task binaries) — kernel > higher-order
    * form > unrolled literals. */
  private def cosine(va: String, vb: String, na: String, nb: String): Column =
    graft.functions.VecDot.of(col(va), col(vb)) / (col(na) * col(nb))

  private def sqlCosine(va: String, vb: String, na: String, nb: String): String =
    s"list_dot_product($va, $vb) / ($na * $nb)"

  /** Session conf knob for q89's hot-token document-frequency cap: a token
    * appearing in more than this many documents is dropped from the lexical
    * posting relation BEFORE candidate generation. Unset (default) = off,
    * which keeps q89 byte-exact against its DuckDB oracle. */
  private[operators] val MaxTokDocFreqKey = "graft.hybrid.maxDocFreq"

  /** Distinct (doc_id, token) posting relation — the lexical leg's index. */
  private[operators] def tokenRows(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))

  /** [[tokenRows]] with the token document-frequency cap applied when
    * configured — the hybrid-retrieval analogue of TextPack's hot-shingle
    * cap. A stopword-grade token sits in (nearly) every document, so its
    * posting list makes per-query candidate volume O(|corpus|) and the
    * lexical leg degenerates to |queries|×|corpus| — the exact blowup the
    * BM25 impact index avoids by construction (matched postings only).
    * Capping drops such tokens from the candidate universe (they carry no
    * discriminative lexical signal — an IR system prunes them as stopwords
    * or via impact ordering). Plan: one count per token + an anti-join
    * against the over-cap token set (≤ |postings|/cap keys — AQE
    * broadcasts it when small). */
  private[graft] def cappedTokenRows(s: SparkSession, d: String): DataFrame = {
    val base = tokenRows(s, d)
    TextPack.parseDfCap(s, MaxTokDocFreqKey, "token") match {
      case None => base
      case Some(cap) =>
        val hot = base.groupBy(col("tok")).agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select(col("tok"))
        base.join(hot, Seq("tok"), "left_anti")
    }
  }

  /** LSH table signatures: for table t, an int in [0, 2^BITS) from the sign
    * of BITS seeded ±1 projections. */
  private def sigCol(t: Int): Column =
    (0 until BITS).map { b =>
      val plane = planes(t * BITS + b).mkString("array(", "D,", "D)")
      when(graft.functions.VecDot.of(col("v"), expr(plane)) > 0,
        lit(1 << b)).otherwise(lit(0))
    }.reduce(_ + _)

  private def sqlSig(t: Int): String =
    (0 until BITS).map { b =>
      val plane = planes(t * BITS + b).map(_.toDouble).mkString("[", ",", "]")
      s"CASE WHEN list_dot_product(v, $plane) > 0 THEN ${1 << b} ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** q156's fixed coarse quantization: each vector's table-0
    * sign-projection bucket (2^BITS cells) — the same seeded planes as
    * the LSH tables, so drift is attributable to the data, not the
    * binning. Stateless per row (no norm needed), so it applies to a
    * batch or streaming embeddings frame alike. */
  private[graft] def driftSigs(emb: DataFrame): DataFrame =
    emb.withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .select(col("vec_id"), sigCol(0).as("sig"))

  /** q156's static old-snapshot histogram (sig, c_a) — the baseline a
    * live drift monitor compares arriving new-snapshot counts against. */
  private[graft] def driftBaseline(s: SparkSession, d: String): DataFrame =
    driftSigs(Tables.embeddings(s, d).filter(col("vec_id") % 2 === 0))
      .groupBy(col("sig")).agg(count(lit(1)).cast("long").as("c_a"))

  /** PSI table from a (sig, c_a, c_b) bucket-count relation — the shared
    * tail of batch q156 and [[graft.jobs.DriftMonitorJob]]'s per-batch
    * re-derive, so the monitor's output is the batch table by
    * construction. Each bucket's term (p_a−p_b)·ln(p_a/p_b) is ≥ 0 (both
    * factors share sign), so the micro-nat floor has no negative-zero
    * hazard; per-bucket math runs on doubles derived from exact longs in
    * the same operation order on both engines. */
  private[graft] def psiOf(cnt: DataFrame): DataFrame = {
    val nb = 1 << BITS
    val tot = cnt.agg(sum(col("c_a")).cast("long").as("t_a"),
      sum(col("c_b")).cast("long").as("t_b"))
    cnt.crossJoin(broadcast(tot))
      .withColumn("pa", (col("c_a") + 1).cast("double")
        / (col("t_a") + nb).cast("double"))
      .withColumn("pb", (col("c_b") + 1).cast("double")
        / (col("t_b") + nb).cast("double"))
      .withColumn("psi_micro",
        floor((col("pa") - col("pb")) * log(col("pa") / col("pb")) * 1e6)
          .cast("long"))
      .select(col("sig").cast("long").as("sig"),
        col("c_a").cast("long").as("c_a"),
        col("c_b").cast("long").as("c_b"), col("psi_micro"))
      .orderBy(col("sig"))
  }

  /** Brute-force cosine top-k — the exact baseline every ANN variant is
    * measured against. Query set = [[annPanel]] (bounded), broadcast against the
    * corpus; rank by round(cos, 6) with vec_id tiebreak for cross-engine
    * determinism. */
  private def bruteTopK(s: SparkSession, d: String): DataFrame =
    Artifacts.get(s, d, "ann|brute") { buildBruteTopK(s, d).localCheckpoint() }

  // The three per-corpus top-k search results and the IVF cell
  // assignment are BUILD artifacts shared across the ANN family (q40/
  // q42/q43 expose them; q111 composes all three, q126 re-ranks the LSH
  // one, q78/q166 reuse the cell assignment) — built once per (session,
  // dir) through Artifacts and lineage-truncated, the bpeChain pattern.

  /** Test probe: the brute top-k WITHOUT the memo's lineage truncation,
    * so SimilarityPackSpec can assert the build's plan shape (query-side
    * broadcast, corpus never shuffled) that q40's own executed plan no
    * longer shows — bpeProbeRound1's pattern. */
  private[graft] def bruteTopKProbe(s: SparkSession, d: String): DataFrame =
    buildBruteTopK(s, d)

  private def buildBruteTopK(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d)
    val q = e.filter(annPanel(col("vec_id")))
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qn"))
    val pairs = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("cos", round(cosine("qv", "v", "qn", "norm"), 6))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TOP_K)
      .select(col("qid"), col("rank"), col("vec_id").as("nid"),
        round(col("cos"), 4).as("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  /** LSH-bucketed ANN: L=TABLES tables of k=BITS sign-projection bits;
    * candidates for a query = vectors sharing any table bucket; exact
    * cosine + top-k within candidates only. Sub-quadratic: n² collapses to
    * Σ bucket². */
  private def lshTopK(s: SparkSession, d: String): DataFrame =
    Artifacts.get(s, d, "ann|lsh") { buildLshTopK(s, d).localCheckpoint() }

  private def buildLshTopK(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d)
    val sigs = e.select(col("vec_id") +: col("v") +: col("norm") +:
      (0 until TABLES).map(t => sigCol(t).as(s"sig$t")): _*)
    val buckets = sigs.select(col("vec_id"), col("v"), col("norm"),
      posexplode(array((0 until TABLES).map(t => col(s"sig$t")): _*)).as(Seq("t", "sig")))
    val qb = buckets.filter(annPanel(col("vec_id")))
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qn"),
        col("t"), col("sig"))
    val cand = buckets.join(broadcast(qb), Seq("t", "sig"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qv"), col("qn"), col("vec_id"), col("v"), col("norm"))
      .distinct()
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    cand.withColumn("cos", round(cosine("qv", "v", "qn", "norm"), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TOP_K)
      .select(col("qid"), col("rank"), col("vec_id").as("nid"),
        round(col("cos"), 4).as("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  /** IVF ANN: k-means coarse quantizer (seeded, trained like a real IVF
    * build), every vector assigned to its nearest cell by a codegen'd
    * argmin over centroid literals (one narrow pass), queries probe the
    * NPROBE nearest cells, exact cosine top-k within probed cells only.
    * Search cost: n/IVF_CELLS * NPROBE candidates per query instead of n. */
  private def ivfTopK(s: SparkSession, d: String): DataFrame =
    Artifacts.get(s, d, "ann|ivf") { buildIvfTopK(s, d).localCheckpoint() }

  private def buildIvfTopK(s: SparkSession, d: String): DataFrame = {
    val cents = ivfCentroids(s, d)
    val assigned = assignedCells(s, d)
    // queries probe their NPROBE nearest cells
    val qscores = assigned.filter(annPanel(col("vec_id")))
      .select(col("vec_id").as("qid") +: col("v").as("qv") +: col("norm").as("qn")
        +: cents.zipWithIndex.map { case (c, i) => KMeans.score(col("v"), c).as(s"cs$i") }: _*)
    val probes = qscores.select(col("qid"), col("qv"), col("qn"),
      posexplode(array((0 until IVF_CELLS).map(i => col(s"cs$i")): _*)).as(Seq("cell", "score")))
    val wp = Window.partitionBy(col("qid")).orderBy(col("score"), col("cell"))
    val probed = probes.withColumn("pr", row_number().over(wp))
      .filter(col("pr") <= NPROBE).select(col("qid"), col("qv"), col("qn"), col("cell"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    assigned.join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", round(cosine("qv", "v", "qn", "norm"), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TOP_K)
      .select(col("qid"), col("rank"), col("vec_id").as("nid"),
        round(col("cos"), 4).as("cos"), col("cell"))
      .orderBy(col("qid"), col("rank"))
  }

  val queries: Map[String, Q] = Map(
    "q40_cosine_topk" -> (bruteTopK _),

    // Embedding-cosine near-duplicate pairs (threshold 0.4) — all-pairs
    // correctness baseline for embedding dedup; q42 is the sub-quadratic
    // path at scale. Input-capped: see embedNearDup's contract.
    "q41_embed_neardup" -> ((s, d) => embedNearDup(vecs(s, d))),

    // Recall vs q40 is data-dependent (sign-LSH needs genuinely-near
    // neighbors to shine; on near-uniform vectors it prunes aggressively) —
    // the structural contract (candidates share a bucket, exact rescoring,
    // deterministic ranking) is what the oracle pins down; q111 MEASURES
    // the recall.
    "q42_ann_lsh" -> (lshTopK _),

    // Hard-negative mining for embedding-model training (the FaceNet /
    // contrastive-learning recipe, Schroff et al. CVPR'15; standard in
    // dense-retriever training à la DPR): for each anchor in the bounded
    // eval panel, the top-K most-similar OTHER-label vectors are the
    // mined negatives, each tagged against the anchor's nearest
    // SAME-label cosine — 'hard' (outranks the best positive),
    // 'semi_hard' (within the margin band below it), else 'easy'.
    // Engine-exact: ranking and the band compare both use round-6
    // cosines lifted to integer micro-units (q139's trick), so the
    // category boundary has no FP hazard. Scale: the anchor panel is
    // bounded and broadcast; the corpus is scanned twice (best-positive
    // agg, then negative top-K — both partial-aggregate/heap map-side;
    // at 100 TB two linear scans beat caching a corpus×panel relation),
    // and the best-positive relation rejoins panel-sized. The
    // sub-quadratic path swaps the brute scans for q42's LSH buckets /
    // q43's IVF cells, mining within candidate buckets only — identical
    // tagging arithmetic.
    "q151_hard_negatives" -> ((s, d) => {
      val e = vecs(s, d)
      val q = e.filter(annPanel(col("vec_id")))
        .select(col("vec_id").as("qid"), col("label").as("qlab"),
          col("v").as("qv"), col("norm").as("qn"))
      def pairs = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("c_micro",
          round(round(cosine("qv", "v", "qn", "norm"), 6) * 1e6)
            .cast("long"))
      val posBest = pairs.filter(col("label") === col("qlab"))
        .groupBy(col("qid")).agg(max(col("c_micro")).as("pos_micro"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("c_micro").desc, col("vec_id"))
      pairs.filter(col("label") =!= col("qlab"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= NEG_K)
        .join(broadcast(posBest), Seq("qid"))
        .withColumn("category",
          when(col("c_micro") >= col("pos_micro"), "hard")
            .when(col("c_micro") >= col("pos_micro") - SEMI_MARGIN_MICRO,
              "semi_hard")
            .otherwise("easy"))
        .select(col("qid"), col("rank"), col("vec_id").as("nid"),
          col("c_micro"), col("pos_micro"), col("category"))
        .orderBy(col("qid"), col("rank"))
    }),

    // Embedding-distribution drift (PSI) between two corpus snapshots —
    // the monitoring table a production embedding pipeline watches after
    // every model/data refresh: both snapshots (deterministic vec_id
    // parity split here, standing in for old/new) are histogrammed over
    // table-0's 256 sign-projection buckets (q42's seeded planes — a
    // FIXED coarse quantization, so drift is attributable to the data,
    // not the binning) and each bucket contributes the standard
    // population-stability term (p_a−p_b)·ln(p_a/p_b), add-one smoothed.
    // The term is ≥ 0 by construction (both factors share sign), so the
    // micro-nat floor has no negative-zero hazard; per-bucket math runs
    // on doubles derived from exact longs in the same operation order on
    // both engines. Scale: one linear pass histograms the corpus into
    // 256×2 counts (map-side partial agg); everything downstream —
    // totals, smoothing, the PSI terms — is bucket-table-sized, and the
    // 1-row totals broadcast.
    // Split as [[driftSigs]] (the fixed quantization) + [[psiOf]] (the
    // bucket-table→PSI math) so the streaming monitor
    // ([[graft.jobs.DriftMonitorJob]]) derives the identical table from
    // its incrementally-folded counts.
    "q156_embedding_drift" -> ((s, d) => {
      val sigs = driftSigs(Tables.embeddings(s, d))
      val cnt = sigs.groupBy(col("sig")).agg(
        sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)).as("c_a"),
        sum(when(col("vec_id") % 2 === 1, 1L).otherwise(0L)).as("c_b"))
      psiOf(cnt)
    }),

    // IVF cell-balance audit — the index-health table read before
    // committing a 100 TB IVF build: per-cell occupancy and corpus
    // share, a HOT flag (occupancy > 2× the mean cell: probing that
    // cell dominates query cost — re-train or split), and DEAD cells
    // reported explicitly (quantizer capacity wasted; they never appear
    // in an occupancy groupBy, so the audit left-joins the full cell
    // range). Hot test in cleared-denominator integers
    // (n_vecs·|cells| > 2·N — q146's discipline); share in ppm by
    // integer division. Scale: one narrow assignment pass (the same
    // codegen'd argmin as q43) partial-aggs to |cells| rows; everything
    // downstream is cell-table-sized with a 1-row totals broadcast.
    "q166_ivf_balance" -> ((s, d) => {
      val hist = assignedCells(s, d).groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"))
      val tot = hist.agg(sum(col("n_vecs")).cast("long").as("n_total"))
      s.range(IVF_CELLS).select(col("id").cast("int").as("cell"))
        .join(hist, Seq("cell"), "left")
        .withColumn("n_vecs", coalesce(col("n_vecs"), lit(0L)))
        .crossJoin(broadcast(tot))
        .withColumn("share_ppm", expr("(n_vecs * 1000000) div n_total"))
        .withColumn("hot",
          col("n_vecs") * lit(IVF_CELLS.toLong) > lit(2L) * col("n_total"))
        .withColumn("dead", col("n_vecs") === 0L)
        .select(col("cell").cast("long").as("cell"),
          col("n_vecs").cast("long").as("n_vecs"),
          col("share_ppm"), col("hot"), col("dead"))
        .orderBy(col("cell"))
    }),

    // Bitext-mining candidates — margin-based cross-lingual pairing
    // (Artetxe & Schwenk, "Margin-based Parallel Corpus Mining", ACL'19
    // — the public CCMatrix/LASER recipe): each non-English query doc is
    // paired with its nearest English doc, scored by the MARGIN (top-1
    // cosine over the mean of its top-K cosines) rather than raw cosine —
    // absolute similarity varies by register, the margin's local contrast
    // doesn't. Engine-exact: ranking uses the round-6 cosine (q40's
    // parity contract); the margin itself converts those to integer
    // micro-units (exactly representable: cos6·10⁶ is integral, one
    // round() recovers it) so the top-K sum and the final floor-division
    // margin_ppm are all-integer — no FP-addition-order hazard. Scale:
    // the query set is bounded (broadcast side); the English corpus side
    // stays distributed and is scanned once; per-query top-K is a
    // WindowGroupLimit heap. The sub-quadratic path at 100 TB swaps the
    // brute scan for q42's LSH buckets (or q43's IVF cells) — identical
    // downstream margin arithmetic.
    "q139_bitext_margin" -> ((s, d) => {
      val langs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
      val e = vecs(s, d)
        .join(langs, col("vec_id") === col("doc_id")).drop("doc_id")
      val q = e.filter(col("lang") =!= "en"
          && col("vec_id") % BITEXT_QMOD === 0
          && col("vec_id") < ANN_QCAP)
        .select(col("vec_id").as("qid"), col("lang").as("src_lang"),
          col("v").as("qv"), col("norm").as("qn"))
      val tgt = e.filter(col("lang") === "en")
        .select(col("vec_id").as("nid"), col("v"), col("norm"))
      val scored = tgt.join(broadcast(q))
        .withColumn("cos6", round(cosine("qv", "v", "qn", "norm"), 6))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos6").desc, col("nid"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= MARGIN_K)
        .withColumn("micro", round(col("cos6") * 1e6).cast("long"))
        .groupBy(col("qid"), col("src_lang"))
        .agg(max_by(col("nid"), -col("rank")).as("nid"),
          max_by(col("cos6"), -col("rank")).as("cos1"),
          sum(col("micro")).cast("long").as("sum_micro"),
          count(lit(1)).as("n_top"))
        .select(col("qid"), col("src_lang"), col("nid"),
          round(col("cos1"), 4).as("cos"),
          // margin = cos1 / mean(top-K cos) ships as the exact integer
          // pair (num = cos1_micro·n_top, den = Σ micro): cosines go
          // negative on uncorrelated vectors and floor-dividing a negative
          // numerator differs across engines (Spark `div` truncates,
          // DuckDB `//` floors) — q136's precedent
          expr("CAST(round(cos1 * 1e6) AS BIGINT) * n_top")
            .as("margin_num"),
          col("sum_micro").as("margin_den"),
          col("n_top"))
        .orderBy(col("qid"))
    }),

    // Embedding-dimension health audit — the feature-store check a vector
    // pipeline runs before indexing 100 TB of embeddings: per-dimension
    // count/min/max/mean/std plus a dead-dimension signal (exact zeros).
    // Values quantize to integer milli-units FIRST (float→double is exact,
    // one correctly-rounded multiply, floor), so every sum is an integer —
    // addition-order exact under any partial-agg tree, and n·Σx² stays
    // under 2^63 at these scales (drop to coarser units or DECIMAL(38,0)
    // beyond ~10^9 rows). One narrow explode + one 64-group partial-agg
    // shuffle; output is |dims| rows.
    "q128_embedding_stats" -> ((s, d) => {
      val q = Tables.embeddings(s, d)
        .select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("dim").cast("long").as("dim"),
          floor(col("x").cast("double") * 1000.0).cast("long").as("q"))
      q.groupBy(col("dim"))
        .agg(count(lit(1)).as("n"),
          count(when(col("q") === 0, 1)).as("n_zero"),
          min(col("q")).as("min_milli"), max(col("q")).as("max_milli"),
          sum(col("q")).cast("long").as("sum_milli"),
          sum(col("q") * col("q")).cast("long").as("sumsq"))
        .withColumn("mean_milli",
          round(col("sum_milli").cast("double") / col("n"), 4))
        .withColumn("std_milli", round(sqrt(
          (col("n") * col("sumsq") - col("sum_milli") * col("sum_milli"))
            .cast("double") / (col("n") * col("n")).cast("double")), 4))
        .select(col("dim"), col("n"), col("n_zero"),
          col("min_milli"), col("max_milli"),
          col("mean_milli"), col("std_milli"))
        .orderBy(col("dim"))
    }),

    // Retrieval-quality evaluation: nDCG@k of the LSH index against label
    // relevance (retrieved nid is relevant iff it shares the query's
    // label) — the graded companion to q111's recall. Per-rank gains are
    // ln-ratio discounts quantized to integer micro-units (q107's
    // ln-quantization parity precedent), so DCG/IDCG sums and the final
    // ppm ratio are all-integer — addition-order exact under any
    // partial-agg tree. IDCG folds the gain prefix inside one higher-order
    // aggregate over sequence(1, min(k, n_rel)) — no per-rank join. Scale:
    // the ranked set is |queries|·k rows; the label side-tables broadcast.
    "q126_ndcg" -> ((s, d) => {
      val lab = vecs(s, d).select(col("vec_id"), col("label"))
      val gain = "CAST(floor(1000000.0 * ln(2.0) / " +
        "ln(CAST(rank AS DOUBLE) + 1.0)) AS BIGINT)"
      val dcg = lshTopK(s, d)
        .join(broadcast(lab.select(col("vec_id").as("qid"),
          col("label").as("qlab"))), "qid")
        .join(lab.select(col("vec_id").as("nid"), col("label").as("nlab")),
          "nid")
        .withColumn("rel", (col("qlab") === col("nlab")).cast("long"))
        .groupBy(col("qid"))
        .agg(sum(col("rel")).cast("long").as("hits"),
          sum(col("rel") * expr(gain)).cast("long").as("dcg_micro"))
      val nRel = lab.join(broadcast(
          lab.groupBy(col("label")).agg(count(lit(1)).as("n_lab"))), "label")
        .select(col("vec_id").as("qid"), (col("n_lab") - 1).as("n_rel"))
        .filter(annPanel(col("qid")))
      nRel.join(dcg, Seq("qid"), "left")
        .withColumn("hits", coalesce(col("hits"), lit(0L)))
        .withColumn("dcg_micro", coalesce(col("dcg_micro"), lit(0L)))
        // n_rel = 0 guard: Spark's sequence(1, 0) DESCENDS (infers step
        // -1), so the empty ideal set must short-circuit before it
        .withColumn("idcg_micro", expr(
          s"""CASE WHEN n_rel < 1 THEN CAST(0 AS BIGINT) ELSE aggregate(
             |  sequence(CAST(1 AS BIGINT), least(CAST($TOP_K AS BIGINT), n_rel)),
             |  CAST(0 AS BIGINT),
             |  (acc, r) -> acc + CAST(floor(1000000.0 * ln(2.0) /
             |    ln(CAST(r AS DOUBLE) + 1.0)) AS BIGINT)) END""".stripMargin))
        .withColumn("ndcg_ppm",
          when(col("idcg_micro") > 0,
            expr("(1000000 * dcg_micro) div idcg_micro")).otherwise(lit(0L)))
        .select(col("qid"), col("n_rel"), col("hits"),
          col("dcg_micro"), col("idcg_micro"), col("ndcg_ppm"))
        .orderBy(col("qid"))
    }),

    // Centroids are data-dependent → hash-checked via the dynamic oracle;
    // exactness vs a driver-side reimplementation is pinned in
    // SimilarityPackSpec.
    "q43_ann_ivf" -> (ivfTopK _),

    // ANN recall evaluation — the knob-tuning harness: score each
    // approximate index (q42's LSH tables, q43's IVF cells) against q40's
    // exact top-k ground truth, per query. This is how a pipeline operator
    // picks TABLES/BITS or IVF_CELLS/NPROBE before committing a 100 TB
    // index build: run the eval on a sample, read recall@k vs candidate
    // cost. All-integer outputs (hits, basis points via integer division)
    // → hash-exact cross-engine. Scale: ground truth on a SAMPLE of
    // queries is one brute-force pass (q40's broadcast shape); the
    // intersection joins touch only 2·|queries|·k rows.
    "q111_ann_recall" -> ((s, d) => {
      val truth = bruteTopK(s, d).select(col("qid"), col("nid"))
      val truthN = truth.groupBy(col("qid")).agg(count(lit(1)).as("truth_k"))
      def recallOf(res: DataFrame, idx: String): DataFrame = {
        val hits = res.select(col("qid"), col("nid"))
          .join(truth, Seq("qid", "nid"), "left_semi")
          .groupBy(col("qid")).agg(count(lit(1)).as("hits"))
        truthN.join(hits, Seq("qid"), "left")
          .select(lit(idx).as("index_type"), col("qid"),
            coalesce(col("hits"), lit(0L)).as("hits"), col("truth_k"))
      }
      recallOf(lshTopK(s, d), "lsh")
        .unionByName(recallOf(ivfTopK(s, d), "ivf"))
        .withColumn("recall_bp", expr("(hits * 10000) DIV truth_k"))
        .orderBy(col("index_type"), col("qid"))
    }),

    // Int8 scalar-quantized ANN — the embedding COMPRESSION leg of the
    // index family (q42 prunes candidates, q43 prunes cells; this shrinks
    // every vector 4× so the index fits executor memory / page cache at
    // 100 TB, the standard faiss SQ8 move). Codes are SYMMETRIC around
    // zero on the NORMALIZED vector — floor(x/‖x‖ · 127/gmax) clamped to
    // ±127, gmax = the corpus-global max |component| (one scalar partial
    // agg, broadcast back) — so the integer code dot is (127/gmax)² times
    // the true cosine up to quantization noise: a MONOTONE proxy with no
    // affine cross-term distortion (a per-dim min/max quantizer was
    // measured at recall@10 ≈ 0.15 here precisely because its shift terms
    // wreck the ranking; the symmetric form measures 0.95+). Search
    // scores are exact BIGINT arithmetic (|dot| ≤ 64·127² ≪ 2⁶³), so
    // ranking needs no rounding contract at all and the whole query is
    // hash-exact cross-engine. The quantizer and the probe scan are both
    // map-only; the only shuffle is the per-query top-k, same shape as
    // q40. Quantization error vs exact cosine is MEASURED, not assumed:
    // SimilarityPackSpec checks recall@10 against q40's float ground
    // truth.
    "q120_quantized_ann" -> ((s, d) => {
      val e = vecs(s, d)
      val gmax = e.agg(
        max(expr("array_max(transform(v, x -> abs(x / norm)))")).as("gmax"))
      // codes are kept as INTEGRAL DOUBLES (|code| ≤ 127) so the pair scan
      // can run through the in-place vec_dot kernel instead of the
      // zip_with+aggregate fold, which materializes a 64-element array per
      // PAIR (measured 1.9× on the whole query at sf0.1). Exactness is
      // unchanged: every code is an integer in [-127, 127], every product
      // ≤ 127² is an exact double, and the 64-term sum ≤ 64·127² ≪ 2⁵³ —
      // the BIGINT cast after the dot reproduces the old integer score
      // bit-for-bit (oracle-checked).
      val qz = e.crossJoin(broadcast(gmax))
        .withColumn("qv", expr(
          """transform(v, x -> GREATEST(CAST(-127 AS DOUBLE),
            |  LEAST(CAST(127 AS DOUBLE),
            |    CAST(FLOOR(x / norm * 127.0D / gmax) AS DOUBLE))))""".stripMargin))
        .select(col("vec_id"), col("qv"))
      val probes = qz.filter(annPanel(col("vec_id")))
        .select(col("vec_id").as("qid"), col("qv").as("pq"))
      val w = Window.partitionBy(col("qid")).orderBy(col("dotq").desc, col("nid"))
      qz.join(broadcast(probes), col("vec_id") =!= col("qid"))
        .withColumn("dotq",
          graft.functions.VecDot.of(col("pq"), col("qv")).cast("long"))
        .select(col("qid"), col("vec_id").as("nid"), col("dotq"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= TOP_K)
        .select(col("qid"), col("rank"), col("nid"), col("dotq"))
        .orderBy(col("qid"), col("rank"))
    }),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup =
    // k-means-cluster the embedding space, then compare pairs only WITHIN
    // a cluster — pairwise cost collapses from n² to Σ cell², the same
    // move the IVF index makes for search. Verdict per vector: dropped iff
    // some smaller-id vector in the same cell has cosine ≥ 0.35 (keep-first
    // is engine- and order-independent). Reuses q43's trained quantizer
    // (memoized — cluster once, dedup + search off the same index); the
    // centroid literals make the whole thing hash-checkable via the
    // data-dependent oracle. At 100 TB: cells ≫ cores so the equi-join on
    // cell is an even shuffle, and an oversized cell (≫ mean) gets split by
    // re-clustering within — same skew discipline as q48.
    "q78_semantic_dedup" -> ((s, d) => {
      val a = assignedCells(s, d)
      val b = a.select(col("vec_id").as("j"), col("v").as("vj"),
        col("norm").as("nj"), col("cell"))
      val dup = a.join(b, Seq("cell"))
        .filter(col("j") < col("vec_id"))
        .withColumn("cos6", round(cosine("v", "vj", "norm", "nj"), 6))
        .filter(col("cos6") >= SEMDEDUP_T)
        .groupBy(col("vec_id"))
        .agg(count(lit(1)).as("n_dups"), max(col("cos6")).as("max_cos"))
      a.join(dup, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          coalesce(col("n_dups"), lit(0L)).cast("long").as("n_dups"),
          coalesce(col("max_cos"), lit(0.0)).as("max_cos"),
          col("n_dups").isNotNull.as("dropped"))
        .orderBy(col("vec_id"))
    }),

    // Hybrid retrieval with reciprocal-rank fusion: candidates sharing ≥1
    // distinct token with the query doc are ranked lexically (shared-token
    // count) and semantically (embedding cosine), then fused by RRF
    // (1/(60+r_lex) + 1/(60+r_vec)) — the standard lexical+vector fusion a
    // retrieval-augmented data pipeline runs. All ranks are integers with
    // id tiebreaks and the RRF sum has exactly two IEEE terms, so the
    // fused ordering is bit-identical cross-engine. Scale: the query-token
    // side broadcasts (queries ≪ corpus); the candidate relation shuffles
    // once on (qid, cid); both rank windows ride the same partitioning.
    "q89_hybrid_search" -> ((s, d) => {
      // the distinct-token posting relation is the lexical leg's index —
      // cached like TextPack.shingleRows (at scale: a table bucketed by
      // tok), pre-partitioned on the posting key so the candidate probe
      // runs with full parallelism (the raw scan is one row group → a bare
      // .cache() would hold ONE partition and the probe would be
      // single-core) and a non-broadcast plan of the tok join needs no
      // exchange on either side (guide §2.4)
      val dt = cappedTokenRows(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("tok")).cache()
      val shared = dt.filter(col("doc_id") % HYB_QMOD === 0
          && col("doc_id") < HYB_QCAP)
        .select(col("doc_id").as("qid"), col("tok")).as("q")
        .join(dt.as("c"), col("q.tok") === col("c.tok")
          && col("qid") =!= col("c.doc_id"))
        .groupBy(col("qid"), col("c.doc_id").as("cid"))
        .agg(count(lit(1)).as("shared"))
      val e = vecs(s, d)
      val cand = shared
        .join(e.select(col("vec_id").as("qid"), col("v").as("qv"),
          col("norm").as("qn")), "qid")
        .join(e.select(col("vec_id").as("cid"), col("v").as("cv"),
          col("norm").as("cn")), "cid")
        .withColumn("cos6", round(cosine("qv", "cv", "qn", "cn"), 6))
      val wLex = Window.partitionBy(col("qid"))
        .orderBy(col("shared").desc, col("cid"))
      val wVec = Window.partitionBy(col("qid"))
        .orderBy(col("cos6").desc, col("cid"))
      val fused = cand
        .withColumn("rank_lex", row_number().over(wLex))
        .withColumn("rank_vec", row_number().over(wVec))
        .withColumn("rrf", round(lit(1.0) / (lit(HYB_RRF) + col("rank_lex"))
          + lit(1.0) / (lit(HYB_RRF) + col("rank_vec")), 6))
      val wF = Window.partitionBy(col("qid"))
        .orderBy(col("rrf").desc, col("cid"))
      fused.withColumn("rank", row_number().over(wF))
        .filter(col("rank") <= HYB_TOP)
        .select(col("qid"), col("rank"), col("cid"), col("shared"),
          col("rank_lex"), col("rank_vec"), col("rrf"))
        .orderBy(col("qid"), col("rank"))
    })
  )

  private val IVF_CELLS = 8
  private val NPROBE    = 2
  private val SEMDEDUP_T = 0.35
  /** Hard input cap for the O(n²) baseline — ~100 k vectors ≈ 5·10⁹ pair
    * evaluations, the most a single "exact baseline" run should ever do. */
  private[graft] val NEARDUP_MAX_N = 100000L

  /** All-pairs cosine near-dup — the EXACT baseline q42 (LSH) and q78
    * (IVF-cell SemDeDup) are validated against. Contract: this form is
    * O(n²) BY DESIGN and refuses inputs above `maxN` rows — running it on
    * an unbounded corpus is always a mistake, so the blast radius is
    * bounded here instead of in the caller's judgment. Use q42/q78 at
    * scale; cap pinned by SimilarityPackSpec. */
  private[graft] def embedNearDup(e: DataFrame, maxN: Long = NEARDUP_MAX_N): DataFrame = {
    val n = e.count()
    require(n <= maxN,
      s"q41_embed_neardup is an O(n²) correctness baseline: |input| = $n " +
        s"exceeds the $maxN-row cap; use q42_ann_lsh (banded LSH) or " +
        "q78_semantic_dedup (IVF cells) for corpus-scale near-dup")
    // repartition the streamed side: the corpus arrives as one parquet
    // file, and a BroadcastNestedLoopJoin's parallelism = streamed-side
    // partitions — without this the n² scan runs on one core
    val a = e.select(col("vec_id").as("i"), col("v").as("va"), col("norm").as("na"))
      .repartition(e.sparkSession.sparkContext.defaultParallelism)
    val b = e.select(col("vec_id").as("j"), col("v").as("vb"), col("norm").as("nb"))
    a.join(b, col("i") < col("j"))
      .withColumn("cos", cosine("va", "vb", "na", "nb"))
      .filter(col("cos") >= NEARDUP_T)
      .select(col("i"), col("j"), round(col("cos"), 4).as("cos"))
      .orderBy(col("i"), col("j"))
  }

  /** Every vector assigned to its nearest trained cell by
    * [[KMeans.nearest]] over [[KMeans.score]]s of centroid literals — one
    * narrow pass, shared by the IVF search (q43) and semantic dedup (q78). */
  private def assignedCells(s: SparkSession, d: String): DataFrame =
    Artifacts.get(s, d, "ann|cells") { buildAssignedCells(s, d).localCheckpoint() }

  private def buildAssignedCells(s: SparkSession, d: String): DataFrame = {
    val cents = ivfCentroids(s, d)
    val scores = cents.zipWithIndex.map { case (c, i) => KMeans.score(col("v"), c).as(s"cs$i") }
    val (cellOf, _) = KMeans.nearest((0 until IVF_CELLS).map(i => col(s"cs$i")))
    vecs(s, d)
      .select(col("vec_id") +: col("v") +: col("norm") +: scores: _*)
      .withColumn("cell", cellOf)
      .select(col("vec_id"), col("v"), col("norm"), col("cell"))
  }

  /** Seeded coarse quantizer over an sf dir's embeddings. Memoized per
    * (session, dir) in [[Artifacts]]: an IVF index is built once and
    * probed many times — re-collecting + re-training per query call would
    * repeat the build.
    * Cap-selected ([[graft.functions.KMeansDistributed.train]]): at or
    * below the TrainSample cap the full set is collected in vec_id order
    * and trained driver-side (bit-identical to previous rounds, so the
    * data-dependent oracle regenerates unchanged); above it, the
    * quantizer trains DISTRIBUTED over all vectors from a bootstrap
    * seeded by the deterministic hash-priority sample — the driver holds
    * only the sample and the IVF_CELLS centroids at any input size. */
  def ivfCentroids(s: SparkSession, d: String): Vector[Vector[Double]] =
    Artifacts.get(s, d, "ivfCentroids") {
      graft.functions.KMeansDistributed.train(
          vecs(s, d).select(col("vec_id"), col("v")),
          col("vec_id"), col("v"), IVF_CELLS, seed = 137L)
        .clusters.map(_.centroid)
    }

  /** Data-dependent oracle for q43: the trained IVF centroids are embedded
    * as DOUBLE literals (Double.toString round-trips exactly through the
    * DuckDB parser), making the whole probe/assign/rank pipeline
    * hash-checkable — called by Verify once the sf dir is known
    * (SparkEntry.oracleContext). */
  def dynamicOracle(s: SparkSession, d: String): Map[String, String] = {
    val cents = ivfCentroids(s, d)
    def scoreSql(c: Vector[Double]): String = {
      val arr = c.map(x => s"($x)::DOUBLE").mkString("[", ",", "]")
      s"(list_dot_product(v, $arr) * -2.0 + (${c.map(x => x * x).sum})::DOUBLE)"
    }
    val csCols = cents.zipWithIndex
      .map { case (c, i) => s"${scoreSql(c)} AS cs$i" }.mkString(",\n    ")
    val minCs = (0 until IVF_CELLS).map(i => s"cs$i").mkString("least(", ", ", ")")
    val cellCase = (0 until IVF_CELLS - 1)
      .map(i => s"WHEN cs$i = m THEN $i").mkString("CASE ", " ", s" ELSE ${IVF_CELLS - 1} END")
    val qsc = (0 until IVF_CELLS)
      .map(i => s"SELECT vec_id AS qid, v AS qv, norm AS qn, $i AS cell, cs$i AS score FROM scored WHERE vec_id % $ANN_QMOD = 0 AND vec_id < $ANN_QCAP")
      .mkString("\n  UNION ALL\n  ")
    val cos6 = Hashes.sqlRound(sqlCosine("qv", "av", "qn", "anorm"), 6)
    val ivfSql =
      s"""WITH e AS (
         |  $sqlVecs
         |), scored AS (
         |  SELECT vec_id, v, norm,
         |    $csCols
         |  FROM e
         |), assigned AS (
         |  SELECT vec_id, v, norm, $cellCase AS cell
         |  FROM (SELECT *, $minCs AS m FROM scored)
         |), qsc AS (
         |  $qsc
         |), probes AS (
         |  SELECT qid, qv, qn, cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score, cell) AS pr
         |    FROM qsc
         |  ) WHERE pr <= $NPROBE
         |), ranked AS (
         |  SELECT qid, nid, cell, cos6,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos6 DESC, nid) AS rank
         |  FROM (
         |    SELECT p.qid, a.vec_id AS nid, a.cell, p.qv, p.qn,
         |      a.v AS av, a.norm AS anorm, $cos6 AS cos6
         |    FROM probes p JOIN assigned a ON a.cell = p.cell
         |    WHERE a.vec_id <> p.qid
         |  )
         |)
         |SELECT qid, rank, nid, ${Hashes.sqlRound("cos6", 4)} AS cos, cell
         |FROM ranked WHERE rank <= $TOP_K ORDER BY qid, rank""".stripMargin

    // q111's oracle composes the full q40/q42/q43 statements as
    // subqueries (DuckDB allows a WITH inside a derived table), then
    // counts per-query intersections with the exact top-k — the same
    // all-integer recall arithmetic as the Spark side.
    val recallSql =
      s"""WITH truth AS (
         |  SELECT qid, nid FROM (${oracle("q40_cosine_topk")})
         |), lsh AS (
         |  SELECT qid, nid FROM (${oracle("q42_ann_lsh")})
         |), ivf AS (
         |  SELECT qid, nid FROM ($ivfSql)
         |), tn AS (
         |  SELECT qid, count(*) AS truth_k FROM truth GROUP BY qid
         |), lh AS (
         |  SELECT l.qid, count(*) AS hits FROM lsh l
         |  JOIN truth t ON t.qid = l.qid AND t.nid = l.nid GROUP BY l.qid
         |), ih AS (
         |  SELECT i.qid, count(*) AS hits FROM ivf i
         |  JOIN truth t ON t.qid = i.qid AND t.nid = i.nid GROUP BY i.qid
         |), unioned AS (
         |  SELECT 'lsh' AS index_type, tn.qid,
         |    coalesce(lh.hits, 0)::BIGINT AS hits, tn.truth_k
         |  FROM tn LEFT JOIN lh ON lh.qid = tn.qid
         |  UNION ALL
         |  SELECT 'ivf' AS index_type, tn.qid,
         |    coalesce(ih.hits, 0)::BIGINT AS hits, tn.truth_k
         |  FROM tn LEFT JOIN ih ON ih.qid = tn.qid
         |)
         |SELECT index_type, qid, hits, truth_k,
         |  ((hits * 10000) // truth_k)::BIGINT AS recall_bp
         |FROM unioned ORDER BY index_type, qid""".stripMargin

    // q166 re-derives the same scored/assigned chain, then histograms;
    // range() supplies the dead cells the occupancy groupBy can't see.
    val balanceSql =
      s"""WITH e AS (
         |  $sqlVecs
         |), scored AS (
         |  SELECT vec_id, v, norm,
         |    $csCols
         |  FROM e
         |), assigned AS (
         |  SELECT vec_id, $cellCase AS cell
         |  FROM (SELECT *, $minCs AS m FROM scored)
         |), hist AS (
         |  SELECT cell, count(*)::BIGINT AS n_vecs FROM assigned GROUP BY cell
         |), occ AS (
         |  SELECT c.range::BIGINT AS cell, coalesce(h.n_vecs, 0)::BIGINT AS n_vecs
         |  FROM range(0, $IVF_CELLS) c LEFT JOIN hist h ON h.cell = c.range
         |), t AS (
         |  SELECT sum(n_vecs)::BIGINT AS n_total FROM occ
         |)
         |SELECT cell, n_vecs,
         |  ((n_vecs * 1000000) // n_total)::BIGINT AS share_ppm,
         |  n_vecs * $IVF_CELLS > 2 * n_total AS hot,
         |  n_vecs = 0 AS dead
         |FROM occ CROSS JOIN t ORDER BY cell""".stripMargin

    Map("q43_ann_ivf" -> ivfSql,

    "q166_ivf_balance" -> balanceSql,

    "q111_ann_recall" -> recallSql,

    "q78_semantic_dedup" -> {
      val pcos6 = Hashes.sqlRound(sqlCosine("a.v", "b.v", "a.norm", "b.norm"), 6)
      s"""WITH e AS (
         |  $sqlVecs
         |), scored AS (
         |  SELECT vec_id, v, norm,
         |    $csCols
         |  FROM e
         |), assigned AS (
         |  SELECT vec_id, v, norm, $cellCase AS cell
         |  FROM (SELECT *, $minCs AS m FROM scored)
         |), pairs AS (
         |  SELECT a.vec_id, $pcos6 AS cos6
         |  FROM assigned a JOIN assigned b
         |    ON b.cell = a.cell AND b.vec_id < a.vec_id
         |), dup AS (
         |  SELECT vec_id, count(*) AS n_dups, max(cos6) AS max_cos
         |  FROM pairs WHERE cos6 >= $SEMDEDUP_T GROUP BY vec_id
         |)
         |SELECT s.vec_id, s.cell, coalesce(d.n_dups, 0)::BIGINT AS n_dups,
         |  coalesce(d.max_cos, CAST(0 AS DOUBLE)) AS max_cos,
         |  d.vec_id IS NOT NULL AS dropped
         |FROM assigned s LEFT JOIN dup d ON d.vec_id = s.vec_id
         |ORDER BY s.vec_id""".stripMargin
    })
  }

  val oracle: Map[String, String] = Map(
    "q156_embedding_drift" ->
      s"""WITH e AS (
         |  $sqlVecs
         |), sg AS (
         |  SELECT vec_id, ${sqlSig(0)} AS sig FROM e
         |), cnt AS (
         |  SELECT sig,
         |    count(CASE WHEN vec_id % 2 = 0 THEN 1 END)::BIGINT AS c_a,
         |    count(CASE WHEN vec_id % 2 = 1 THEN 1 END)::BIGINT AS c_b
         |  FROM sg GROUP BY sig
         |), tot AS (
         |  SELECT sum(c_a)::BIGINT AS t_a, sum(c_b)::BIGINT AS t_b FROM cnt
         |)
         |SELECT sig::BIGINT AS sig, c_a, c_b,
         |  floor(((c_a + 1)::DOUBLE / (t_a + ${1 << BITS})::DOUBLE
         |       - (c_b + 1)::DOUBLE / (t_b + ${1 << BITS})::DOUBLE)
         |    * ln(((c_a + 1)::DOUBLE / (t_a + ${1 << BITS})::DOUBLE)
         |       / ((c_b + 1)::DOUBLE / (t_b + ${1 << BITS})::DOUBLE))
         |    * 1000000)::BIGINT AS psi_micro
         |FROM cnt CROSS JOIN tot
         |ORDER BY sig""".stripMargin,

    "q151_hard_negatives" ->
      s"""WITH e AS (
         |  $sqlVecs
         |), q AS (
         |  SELECT vec_id AS qid, label AS qlab, v AS qv, norm AS qn
         |  FROM e WHERE vec_id % $ANN_QMOD = 0 AND vec_id < $ANN_QCAP
         |), pairs AS (
         |  SELECT q.qid, q.qlab, e.vec_id, e.label,
         |    round(round(${sqlCosine("qv", "v", "qn", "norm")}, 6)
         |      * 1000000)::BIGINT AS c_micro
         |  FROM e JOIN q ON e.vec_id <> q.qid
         |), pos AS (
         |  SELECT qid, max(c_micro) AS pos_micro
         |  FROM pairs WHERE label = qlab GROUP BY qid
         |), negs AS (
         |  SELECT qid, vec_id AS nid, c_micro,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY c_micro DESC, vec_id) AS rank
         |  FROM pairs WHERE label <> qlab
         |)
         |SELECT n.qid, rank, nid, c_micro, pos_micro,
         |  CASE WHEN c_micro >= pos_micro THEN 'hard'
         |       WHEN c_micro >= pos_micro - $SEMI_MARGIN_MICRO
         |         THEN 'semi_hard'
         |       ELSE 'easy' END AS category
         |FROM negs n JOIN pos USING (qid)
         |WHERE rank <= $NEG_K
         |ORDER BY qid, rank""".stripMargin,

    // Same construction end-to-end: normalize, global symmetric scale,
    // clamped floor codes, integer dots (list_dot_product over BIGINT
    // codes is exact well below 2^53, cast back to BIGINT).
    "q120_quantized_ann" ->
      s"""WITH e AS (
         |  $sqlVecs
         |), g AS (
         |  SELECT max(abs(x)) AS gmax
         |  FROM (SELECT unnest(v) / norm AS x FROM e)
         |), qz AS (
         |  SELECT vec_id,
         |    list(GREATEST(-127.0, LEAST(127.0, FLOOR(x * 127.0 / gmax)))::BIGINT
         |         ORDER BY i) AS qv
         |  FROM (SELECT vec_id, unnest(v) / norm AS x,
         |          unnest(generate_series(1, $DIM)) AS i FROM e), g
         |  GROUP BY vec_id
         |), ranked AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS nid,
         |    list_dot_product(q.qv, c.qv)::BIGINT AS dotq,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_dot_product(q.qv, c.qv) DESC, c.vec_id) AS rank
         |  FROM qz q JOIN qz c ON c.vec_id <> q.vec_id
         |  WHERE q.vec_id % $ANN_QMOD = 0 AND q.vec_id < $ANN_QCAP
         |)
         |SELECT qid, rank, nid, dotq FROM ranked
         |WHERE rank <= $TOP_K ORDER BY qid, rank""".stripMargin,

    "q89_hybrid_search" -> {
      val cos6 = Hashes.sqlRound(sqlCosine("qv.v", "cv.v", "qv.norm", "cv.norm"), 6)
      val rrf = Hashes.sqlRound(
        s"1.0 / ($HYB_RRF + rank_lex) + 1.0 / ($HYB_RRF + rank_vec)", 6)
      s"""WITH dt AS (
         |  SELECT doc_id, unnest(list_distinct(str_split(text, ' '))) AS tok
         |  FROM documents
         |), sh AS (
         |  SELECT q.doc_id AS qid, c.doc_id AS cid, count(*) AS shared
         |  FROM dt q JOIN dt c ON q.tok = c.tok AND q.doc_id <> c.doc_id
         |  WHERE q.doc_id % $HYB_QMOD = 0 AND q.doc_id < $HYB_QCAP
         |  GROUP BY 1, 2
         |), ev AS (
         |  $sqlVecs
         |), cand AS (
         |  SELECT qid, cid, shared, $cos6 AS cos6
         |  FROM sh JOIN ev qv ON qv.vec_id = qid JOIN ev cv ON cv.vec_id = cid
         |), ranked AS (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY qid ORDER BY shared DESC, cid)
         |      AS rank_lex,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos6 DESC, cid)
         |      AS rank_vec
         |  FROM cand
         |), fused AS (
         |  SELECT qid, cid, shared, rank_lex, rank_vec, $rrf AS rrf,
         |    row_number() OVER (PARTITION BY qid ORDER BY $rrf DESC, cid) AS rank
         |  FROM ranked
         |)
         |SELECT qid, rank, cid, shared, rank_lex, rank_vec, rrf
         |FROM fused WHERE rank <= $HYB_TOP
         |ORDER BY qid, rank""".stripMargin
    },

    "q40_cosine_topk" ->
      s"""WITH e AS (
         |  $sqlVecs
         |), q AS (
         |  SELECT vec_id AS qid, v AS qv, norm AS qn FROM e WHERE vec_id % $ANN_QMOD = 0 AND vec_id < $ANN_QCAP
         |), ranked AS (
         |  SELECT qid, e.vec_id AS nid,
         |    ${Hashes.sqlRound(sqlCosine("qv", "e.v", "qn", "e.norm"), 6)} AS cos,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY ${Hashes.sqlRound(sqlCosine("qv", "e.v", "qn", "e.norm"), 6)} DESC, e.vec_id) AS rank
         |  FROM e JOIN q ON e.vec_id <> q.qid
         |)
         |SELECT qid, rank, nid, ${Hashes.sqlRound("cos", 4)} AS cos
         |FROM ranked WHERE rank <= $TOP_K ORDER BY qid, rank""".stripMargin,

    "q139_bitext_margin" ->
      s"""WITH e AS (
         |  $sqlVecs
         |), ev AS (
         |  SELECT vec_id, lang, v, norm
         |  FROM e JOIN documents d ON d.doc_id = e.vec_id
         |), q AS (
         |  SELECT vec_id AS qid, lang AS src_lang, v AS qv, norm AS qn
         |  FROM ev WHERE lang <> 'en' AND vec_id % $BITEXT_QMOD = 0 AND vec_id < $ANN_QCAP
         |), ranked AS (
         |  SELECT qid, src_lang, t.vec_id AS nid,
         |    ${Hashes.sqlRound(sqlCosine("qv", "t.v", "qn", "t.norm"), 6)} AS cos6,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY ${Hashes.sqlRound(sqlCosine("qv", "t.v", "qn", "t.norm"), 6)} DESC,
         |        t.vec_id) AS rank
         |  FROM (SELECT * FROM ev WHERE lang = 'en') t, q
         |), top AS (
         |  SELECT qid, src_lang,
         |    max(CASE WHEN rank = 1 THEN nid END) AS nid,
         |    max(CASE WHEN rank = 1 THEN cos6 END) AS cos1,
         |    sum(round(cos6 * 1e6)::BIGINT)::BIGINT AS sum_micro,
         |    count(*)::BIGINT AS n_top
         |  FROM ranked WHERE rank <= $MARGIN_K GROUP BY 1, 2
         |)
         |SELECT qid, src_lang, nid, ${Hashes.sqlRound("cos1", 4)} AS cos,
         |  (round(cos1 * 1e6)::BIGINT * n_top)::BIGINT AS margin_num,
         |  sum_micro AS margin_den, n_top
         |FROM top ORDER BY qid""".stripMargin,

    "q41_embed_neardup" ->
      s"""WITH e AS (
         |  $sqlVecs
         |)
         |SELECT a.vec_id AS i, b.vec_id AS j,
         |  ${Hashes.sqlRound(sqlCosine("a.v", "b.v", "a.norm", "b.norm"), 4)} AS cos
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE ${sqlCosine("a.v", "b.v", "a.norm", "b.norm")} >= $NEARDUP_T
         |ORDER BY i, j""".stripMargin,

    "q42_ann_lsh" -> lshSql,

    "q128_embedding_stats" ->
      s"""WITH q AS (
         |  SELECT dim::BIGINT AS dim, floor(x::DOUBLE * 1000.0)::BIGINT AS q
         |  FROM (
         |    SELECT unnest(embedding) AS x,
         |      unnest(range(1, len(embedding) + 1)) - 1 AS dim
         |    FROM embeddings)
         |), a AS (
         |  SELECT dim, count(*)::BIGINT AS n,
         |    count(CASE WHEN q = 0 THEN 1 END)::BIGINT AS n_zero,
         |    min(q)::BIGINT AS min_milli, max(q)::BIGINT AS max_milli,
         |    sum(q)::BIGINT AS sum_milli, sum(q * q)::BIGINT AS sumsq
         |  FROM q GROUP BY dim
         |)
         |SELECT dim, n, n_zero, min_milli, max_milli,
         |  ${Hashes.sqlRound("sum_milli::DOUBLE / n", 4)} AS mean_milli,
         |  ${Hashes.sqlRound(
             "sqrt((n * sumsq - sum_milli * sum_milli)::DOUBLE / (n * n)::DOUBLE)", 4)}
         |    AS std_milli
         |FROM a ORDER BY dim""".stripMargin,

    // Shares q42's full LSH statement as a CTE (so a ranking bug upstream
    // breaks this hash too); gains quantized with the same ln-ratio shape
    // as the Spark side.
    "q126_ndcg" -> {
      val gain = (r: String) =>
        s"floor(1000000.0 * ln(2.0) / ln(($r)::DOUBLE + 1.0))::BIGINT"
      s"""WITH lsh AS (
         |  SELECT qid, rank, nid FROM ($lshSql)
         |), lab AS (
         |  SELECT vec_id, label FROM embeddings
         |), d AS (
         |  SELECT l.qid, sum(CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END)
         |      ::BIGINT AS hits,
         |    sum(CASE WHEN ql.label = nl.label THEN ${gain("l.rank")}
         |        ELSE 0 END)::BIGINT AS dcg_micro
         |  FROM lsh l
         |  JOIN lab ql ON ql.vec_id = l.qid
         |  JOIN lab nl ON nl.vec_id = l.nid
         |  GROUP BY l.qid
         |), nr AS (
         |  SELECT e.vec_id AS qid, (c.n_lab - 1)::BIGINT AS n_rel
         |  FROM embeddings e JOIN (
         |    SELECT label, count(*) AS n_lab FROM embeddings GROUP BY label
         |  ) c USING (label)
         |  WHERE e.vec_id % $ANN_QMOD = 0 AND e.vec_id < $ANN_QCAP
         |), j AS (
         |  SELECT nr.qid, n_rel, coalesce(hits, 0)::BIGINT AS hits,
         |    coalesce(dcg_micro, 0)::BIGINT AS dcg_micro,
         |    coalesce(list_aggregate([${gain("r")}
         |      FOR r IN range(1, least($TOP_K, n_rel) + 1)], 'sum'), 0)
         |      ::BIGINT AS idcg_micro
         |  FROM nr LEFT JOIN d USING (qid)
         |)
         |SELECT qid, n_rel, hits, dcg_micro, idcg_micro,
         |  (CASE WHEN idcg_micro > 0 THEN (1000000 * dcg_micro) // idcg_micro
         |        ELSE 0 END)::BIGINT AS ndcg_ppm
         |FROM j ORDER BY qid""".stripMargin
    }
  )

  /** q42's full LSH-ANN oracle statement — a def so q126's nDCG oracle can
    * embed it as a CTE. */
  private def lshSql: String = {
    val sigSelects = (0 until TABLES)
      .map(t => s"SELECT vec_id, v, norm, $t AS t, ${sqlSig(t)} AS sig FROM e")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH e AS (
       |  $sqlVecs
       |), buckets AS (
       |  $sigSelects
       |), cand AS (
       |  SELECT DISTINCT q.vec_id AS qid, q.v AS qv, q.norm AS qn,
       |    n.vec_id AS nid, n.v AS nv, n.norm AS nn
       |  FROM buckets q JOIN buckets n ON q.t = n.t AND q.sig = n.sig
       |  WHERE q.vec_id % $ANN_QMOD = 0 AND q.vec_id < $ANN_QCAP AND n.vec_id <> q.vec_id
       |), ranked AS (
       |  SELECT qid, nid,
       |    ${Hashes.sqlRound(sqlCosine("qv", "nv", "qn", "nn"), 6)} AS cos,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY ${Hashes.sqlRound(sqlCosine("qv", "nv", "qn", "nn"), 6)} DESC, nid) AS rank
       |  FROM cand
       |)
       |SELECT qid, rank, nid, ${Hashes.sqlRound("cos", 4)} AS cos
       |FROM ranked WHERE rank <= $TOP_K ORDER BY qid, rank""".stripMargin
  }
}
