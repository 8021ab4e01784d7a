package graft.operators

import graft.Tables
import graft.functions.Hashes
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Training-data-pipeline operators beyond the dedup/similarity core:
  * transitive dup clustering, TF-IDF term weighting, deterministic
  * sampling, n-gram vocabulary statistics, vocabulary-coverage filtering,
  * JSON property extraction, and skew-mitigated aggregation.
  *
  * The clustering fixpoint generalizes the reference's transitive
  * reply-tree resolution (reference:
  * streams/BuildReplyTreeProcessFunction.scala:28-409) from trees to
  * arbitrary undirected dup graphs; everything else is new surface a
  * 100 TB corpus pipeline needs (see SURVEY §2 "beyond the reference").
  *
  * Scale design:
  *  - q44 is adaptive connected components: budgeted min-label
  *    propagation (one shuffle per round; dup clusters are shallow) that
  *    escalates to O(log n)-round large/small-star contraction if the
  *    budget trips on a deep component; localCheckpoint truncates lineage
  *    like GraphPack.resolveRoots.
  *  - q63/q66 build small corpus-level side tables (document frequencies,
  *    top-k vocabulary) that broadcast back onto the exploded token
  *    stream — the big table is touched in one pass.
  *  - q64 sampling is a stateless hash predicate — no shuffle at all,
  *    deterministic across engines and retries (the property that makes
  *    sampled pipelines reproducible).
  *  - q48 demonstrates the two-phase salted aggregation (Skew module):
  *    hot keys spread over shards before the final combine, exact result.
  */
object PipelinePack {
  type Q = (SparkSession, String) => DataFrame

  private val MAX_ROUNDS = 32
  private val LP_BUDGET  = 8   // propagation rounds before escalating to contraction
  private val TFIDF_TOP  = 5
  private val BIGRAM_TOP = 10
  private val VOCAB_K    = 50
  private val OOV_T      = 0.2
  private val SAMPLE_PCT = 10
  private val CONTAIN_T  = 0.8
  private val PHRASE_MIN   = 5   // min bigram count (word2phrase min_count)
  private val PHRASE_DELTA = 5L  // discount δ
  private val PHRASE_TOP   = 20
  private val BM25_K1    = 1.2
  private val BM25_B     = 0.75
  private val BM25_QMOD  = 100  // query set: doc_id % 100 == 0 (q89's)
  // q89's absolute panel bound (see SimilarityPack.HYB_QCAP): queries are
  // user-issued, so the panel stays fixed as the corpus grows; 5000 covers
  // every shipped SF's native id range → gate results unchanged.
  private val BM25_QCAP  = 5000
  private val BM25_TOP   = 10

  private def toks: Column = split(col("text"), " ")

  /** Connected components of the q31 near-dup pair graph: every node's
    * label converges to the smallest doc_id in its component. Exact for
    * arbitrary multi-hop dup chains — the transitive closure q28's
    * single-hop clustering deliberately skips. Runs the adaptive
    * [[connectedComponents]]: cheap propagation for the shallow common
    * case, log-round star contraction when the graph turns out deep.
    *
    * The CC labeling is a per-corpus BUILD artifact (an eager multi-round
    * fixpoint) shared by q44/q137/q142 and the q161-q164 decisions — run
    * once per (session, dir) through [[Artifacts]] and collapsed to one
    * materialized LogicalRDD, the TextPack.bpeChain pattern. */
  def dupClusterLabels(s: SparkSession, d: String): DataFrame =
    Artifacts.get(s, d, "dupClusterLabels") {
      connectedComponents(TextPack.pairsDf(s, d).select(col("i"), col("j")))
        .localCheckpoint()
    }

  /** Adaptive connected components: min-label propagation with a small
    * round budget first (real dup graphs are near-cliques — it converges
    * in 2-4 cheap rounds and was measured ~3× faster than contraction
    * here), escalating to the log-round [[ccStarContraction]] when the
    * budget trips (deep chains — the case where propagation's round count
    * is unbounded). Both paths are exact and produce the identical
    * (id, component-min) labeling, so escalation never changes results,
    * only cost. */
  def connectedComponents(pairsDf: DataFrame): DataFrame = {
    val p = pairsDf.localCheckpoint()
    try labelPropagation(p, LP_BUDGET)
    catch { case _: IllegalStateException => ccStarContraction(p) }
  }

  /** Rounds the last [[ccStarContraction]] call took — observability for
    * the convergence-speed contract (PipelinePackSpec asserts a 200-hop
    * chain closes in O(log) rounds, not 200). */
  @volatile var lastStarRounds: Int = 0

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14 — the public MapReduce CC algorithm): each round
    * rewires every node's larger (then smaller) neighbors onto the local
    * minimum, which at least halves long chains, so convergence takes
    * O(log n) rounds instead of label propagation's O(diameter). That gap
    * is the 100 TB story: a pathological dup CHAIN (each doc near-dups its
    * neighbor) gives label propagation an unbounded round count, while
    * star contraction closes any shape in ~log₂(n) shuffles. Returns
    * (id, lbl = component min) for every node appearing in the pair
    * relation — identical output contract to [[labelPropagation]]
    * (equality asserted in PipelinePackSpec on real + adversarial graphs).
    */
  def ccStarContraction(pairsDf: DataFrame): DataFrame = {
    val pairs = pairsDf.localCheckpoint()
    val nodes = pairs.select(col("i").as("id"))
      .unionByName(pairs.select(col("j").as("id"))).distinct().localCheckpoint()
    def sym(e: DataFrame): DataFrame =
      e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    // connect u's strictly-larger neighbors to min(Γ(u) ∪ {u})
    def largeStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      val m = s.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u").as("cu"), least(col("mv"), col("u")).as("m"))
      s.filter(col("v") > col("u"))
        .join(m, col("u") === col("cu"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }
    // rewire u's smaller neighbors (and u) to their minimum; every edge
    // appears here exactly once, oriented (larger, smaller)
    def smallStar(e: DataFrame): DataFrame = {
      val sm = sym(e).filter(col("v") < col("u"))
      val m = sm.groupBy(col("u")).agg(min(col("v")).as("m"))
      sm.join(m.select(col("u").as("cu"), col("m")), col("u") === col("cu"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(m.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v")).distinct()
    }
    // convergence probe: (row count, xxhash64 bit-XOR) — one cheap
    // aggregation per round instead of two anti-join scans (XOR is
    // order-insensitive and can't overflow under ANSI; edges are distinct,
    // so no multiset cancellation). A fingerprint match is then CONFIRMED
    // with one exact exceptAll before declaring the fixpoint — a hash
    // collision may cost an extra round, never a wrong answer.
    def fp(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        bit_xor(xxhash64(col("u"), col("v")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var edges = pairs.select(col("i").as("u"), col("j").as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint()
    var lastFp = fp(edges)
    var round = 0
    var changed = true
    while (changed && round < MAX_ROUNDS) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val nextFp = fp(next)
      changed = nextFp != lastFp ||
        next.exceptAll(edges).limit(1).count() > 0
      edges = next
      lastFp = nextFp
      round += 1
    }
    if (changed)
      throw new IllegalStateException(
        s"ccStarContraction did not converge within $MAX_ROUNDS rounds")
    lastStarRounds = round
    // fixpoint = disjoint stars: every non-center points at its component
    // min; centers (the minima) have no outgoing edge
    nodes.join(edges.select(col("u").as("id"), col("v").as("p")), Seq("id"), "left")
      .select(col("id"), coalesce(col("p"), col("id")).as("lbl"))
  }

  /** Min-label propagation to fixpoint over an undirected pair relation
    * (i, j): every node's label converges to the smallest id in its
    * connected component within diameter rounds. Exposed for direct
    * multi-hop testing (PipelinePackSpec chains). */
  def labelPropagation(pairsDf: DataFrame,
                       maxRounds: Int = MAX_ROUNDS): DataFrame = {
    val pairs = pairsDf.localCheckpoint()
    val edges = pairs.select(col("i").as("a"), col("j").as("b"))
      .unionByName(pairs.select(col("j").as("a"), col("i").as("b")))
      .localCheckpoint()
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("lbl", col("id")).localCheckpoint()
    // convergence probe: a round can only DECREASE labels (least() against
    // the current value), so the label table changed iff sum(lbl) strictly
    // dropped — one cheap aggregation per round instead of a
    // change-detection join, and EXACT (no fingerprint collision case,
    // unlike ccStarContraction's XOR probe whose edge sets aren't ordered).
    // decimal(38,0) keeps the sum overflow-proof for arbitrary 64-bit ids.
    def fp(l: DataFrame): java.math.BigDecimal = {
      val v = l.agg(sum(col("lbl").cast("decimal(38,0)"))).head().getDecimal(0)
      if (v == null) java.math.BigDecimal.ZERO else v // empty label table
    }
    var lastFp = fp(labels)
    var round = 0
    var changed = true
    while (changed && round < maxRounds) {
      // every node has >= 1 edge (nodes are drawn from the edge list), so
      // the neighbor-min inner join covers all ids
      val nbrMin = edges.as("e").join(labels.as("l"), col("e.b") === col("l.id"))
        .groupBy(col("e.a").as("id")).agg(min(col("l.lbl")).as("nlbl"))
      val next = labels.as("cur").join(nbrMin.as("nb"), "id")
        .select(col("id"), least(col("cur.lbl"), col("nb.nlbl")).as("lbl"))
        .localCheckpoint()
      val nextFp = fp(next)
      changed = nextFp.compareTo(lastFp) != 0
      labels = next
      lastFp = nextFp
      round += 1
    }
    // Propagation needs one round per hop from each node to its component's
    // min node, so a component with >MAX_ROUNDS eccentricity would exit the
    // loop with stale labels. Fail loudly rather than return wrong clusters.
    if (changed)
      throw new IllegalStateException(
        s"labelPropagation did not converge within $maxRounds rounds; " +
          "component diameter exceeds the bound — raise the budget or " +
          "use ccStarContraction")
    labels
  }

  /** The BM25 impact index (tok, doc_id, c_micro): per-posting integer
    * micro-score contributions with idf/tf-saturation/length-normalization
    * already folded in — what Lucene persists as its impact-ordered
    * inverted index. tf/dl/df are one pass over the exploded token stream;
    * the df and corpus-stats tables broadcast. Cached: the index is built
    * once per corpus snapshot and probed by every retrieval query (q90,
    * and any caller scoring against the corpus) — at cluster scale a
    * materialized table bucketed by `tok`, like TextPack's shingle index. */
  private[operators] def bm25Index(s: SparkSession, d: String): DataFrame =
    // memoized + lineage-truncated (dupClusterLabels' pattern): the index
    // is a per-corpus build artifact probed by every retrieval query
    Artifacts.get(s, d, "bm25Index") { buildBm25Index(s, d) }

  private def buildBm25Index(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val tf = docs.select(col("doc_id"), explode(toks).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).cast("long").as("t_tokens"))
      .withColumn("avgdl", col("t_tokens").cast("double") / col("n_docs"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    tf.join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .join(broadcast(dfreq), "tok")
      .withColumn("idf",
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
          + lit(1.0)))
      .withColumn("tfp",
        col("tf") * lit(BM25_K1 + 1.0) / (col("tf")
          + lit(BM25_K1) * (lit(1.0 - BM25_B)
            + lit(BM25_B) * col("dl") / col("avgdl"))))
      .withColumn("c_micro",
        floor(col("idf") * col("tfp") * lit(1000000.0)).cast("long"))
      .select(col("tok"), col("doc_id"), col("c_micro"))
      // localCheckpoint truncates the lineage (one tiny plan for every
      // consumer); the cache() on top restores ACCURATE size statistics —
      // a bare LogicalRDD defaults to a huge sizeInBytes and downstream
      // planners stop broadcasting the index's derivatives
      .localCheckpoint().cache()
  }

  val queries: Map[String, Q] = Map(
    // Transitive dup clusters: component id = min doc_id, member list in
    // canonical sorted-CSV form.
    "q44_dup_clusters" -> ((s, d) =>
      dupClusterLabels(s, d)
        .groupBy(col("lbl").as("cluster"))
        .agg(count(lit(1)).as("n_members"),
          array_join(transform(sort_array(collect_list(col("id"))),
            _.cast("string")), ",").as("members"))
        .orderBy(col("cluster"))),

    // Skew-mitigated aggregation: two-phase salted count/sum (Skew module)
    // over possibly-hot event_type keys. Sums integer cents
    // (floor(value*100): exact in doubles, identical cross-engine) so the
    // salted two-phase addition order cannot perturb the result.
    "q48_skew_agg" -> ((s, d) => {
      val cents = Tables.events(s, d)
        .withColumn("cents", floor(col("value") * 100).cast("long"))
      Skew.saltedCountSum(cents, "event_type", "cents")
        .select(col("event_type"), col("n"), col("sum_value").as("sum_cents"))
        .orderBy(col("event_type"))
    }),

    // Entity resolution (record linkage): the classic blocking → pairwise
    // scoring → transitive clustering → canonical-record chain, composed
    // from q27's blocked edit-distance pairs and q44's adaptive connected
    // components. Canonical member = longest text, ties to the smaller id
    // — a lexicographic struct arg-max, valid at ANY id range (an
    // arithmetic composite like n_chars*1e6 - id silently breaks once ids
    // outgrow the scale factor). Oracle = the same recursive-CTE closure
    // that gates q44; its ordered-aggregate form expresses the identical
    // ordering.
    "q94_entity_resolution" -> ((s, d) => {
      val pairs = RelationalPack.fuzzyPairsDf(s, d).select(col("i"), col("j"))
      val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      connectedComponents(pairs)
        .join(docs, col("id") === col("doc_id"))
        .groupBy(col("lbl").as("entity"))
        .agg(count(lit(1)).as("n_members"),
          max_by(col("id"), struct(col("n_chars"), -col("id")))
            .as("canonical_doc"),
          max(col("n_chars")).as("canonical_len"),
          array_join(transform(sort_array(collect_list(col("id"))),
            _.cast("string")), ",").as("members"))
        .orderBy(col("entity"))
    }),

    // Key-distribution skew profile — the "should I salt?" diagnostic that
    // decides between the plain aggregation and q48's two-phase form.
    // Per-type per-key counts roll up to distribution statistics (top-key
    // share, p99/median ratio); counts are integers and the percentiles
    // interpolate over integers, so the profile is engine-exact. One
    // shuffle on (type, key) + a tiny rollup.
    "q92_skew_profile" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_keys"),
          sum(col("cnt")).cast("long").as("n_rows"),
          max(col("cnt")).as("max_cnt"),
          round(expr("percentile(cnt, 0.5)"), 4).as("p50"),
          round(expr("percentile(cnt, 0.99)"), 4).as("p99"))
        .withColumn("top_share",
          round(col("max_cnt").cast("double") / col("n_rows"), 6))
        .withColumn("p99_med_ratio", round(col("p99") / col("p50"), 4))
        .orderBy(col("event_type"))
    }),

    // JSON property extraction over the semi-structured `props` column —
    // schema-on-read for event payloads (codegen'd path, no UDF), bucketed
    // rollup of the extracted key.
    "q49_json_extract" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy((col("k") % 10).as("k_bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("k_bucket"))),

    // TF-IDF top terms per document: tf = in-doc term count, idf =
    // ln(N/df); rank on the 6-decimal rounding (collapses cross-engine
    // ulp noise in ln) with term tiebreak, report 4 decimals — the q40
    // ranking pattern.
    "q63_tfidf" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val tf = docs.select(col("doc_id"), explode(toks).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score6").desc, col("term"))
      tf.join(broadcast(dfreq), "term")
        .crossJoin(broadcast(n))
        .withColumn("score6",
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= TFIDF_TOP)
        .select(col("doc_id"), col("rank"), col("term"),
          round(col("score6"), 4).as("score"))
        .orderBy(col("doc_id"), col("rank"))
    }),

    // BM25 ranked retrieval (Robertson-Spärck Jones, the Lucene variant:
    // idf = ln((N-df+0.5)/(df+0.5) + 1), k1=1.2, b=0.75; query-side tf=1) —
    // q63's TF-IDF upgraded to the standard retrieval scorer and q89's
    // lexical leg made principled. Per-(token, doc) contributions are
    // quantized to integer micro-score units (floor(idf·tfpart·1e6)), so
    // the per-pair SUM over matched tokens is exact integer arithmetic —
    // addition-order independent, hence oracle-exact (the q83 trick).
    // Scale: tf/df/dl are one pass over the exploded token stream; the df
    // and corpus-stats tables broadcast; candidates = inverted-index join
    // on the query tokens (queries ≪ corpus ⇒ broadcast), one shuffle on
    // (qid, cid) for the sum, top-10 via WindowGroupLimit.
    "q90_bm25" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val contrib = bm25Index(s, d)
      val qt = docs.filter(col("doc_id") % BM25_QMOD === 0
          && col("doc_id") < BM25_QCAP)
        .select(col("doc_id").as("qid"),
          explode(array_distinct(toks)).as("tok"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("score_micro").desc, col("cid"))
      broadcast(qt).join(contrib, "tok")
        .filter(col("qid") =!= col("doc_id"))
        .groupBy(col("qid"), col("doc_id").as("cid"))
        .agg(sum(col("c_micro")).cast("long").as("score_micro"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= BM25_TOP)
        .select(col("qid"), col("rank"), col("cid"),
          round(col("score_micro") / lit(1000000.0), 4).as("score"))
        .orderBy(col("qid"), col("rank"))
    }),

    // Phrase detection (word2phrase, Mikolov et al. 2013): score every
    // corpus bigram by (c_xy − δ)·N / (c_x·c_y) and keep the top
    // candidates — the phrase-merging pass run before tokenizer training.
    // Both products are computed in DOUBLE from the start: at corpus scale
    // (N ~1e13 tokens) the int64 forms (c_xy−δ)·N and c_x·c_y overflow, so
    // each count converts long→double (correctly rounded) and the score is
    // a fixed multiply/divide sequence — identical IEEE ops cross-engine,
    // no ln anywhere, valid at any N. Two token-count passes + a broadcast
    // join of the unigram table; top-k via TakeOrdered heaps.
    "q98_pmi_phrases" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // the unigram table feeds the totals and both join sides (x, y);
      // Spark's exchange reuse already dedupes the identical broadcast
      // subtrees here (measured: an eager localCheckpoint was SLOWER —
      // it trades pipelined reuse for a synchronous materialization job)
      val uni = docs.select(explode(toks).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val tot = uni.agg(sum(col("c")).cast("long").as("n_tokens"))
      val bigrams = when(size(col("t")) >= 2,
        transform(sequence(lit(1), size(col("t")) - 1),
          i => concat_ws(" ", slice(col("t"), i, lit(2)))))
        .otherwise(array().cast("array<string>"))
      val bg = docs.select(toks.as("t"))
        .select(explode(bigrams).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("c_xy"))
        .filter(col("c_xy") >= PHRASE_MIN)
        .withColumn("x", split(col("bigram"), " ")(0))
        .withColumn("y", split(col("bigram"), " ")(1))
      bg.join(broadcast(uni.select(col("w").as("x"), col("c").as("c_x"))), "x")
        .join(broadcast(uni.select(col("w").as("y"), col("c").as("c_y"))), "y")
        .crossJoin(broadcast(tot))
        .withColumn("score", round(
          (col("c_xy") - PHRASE_DELTA).cast("double") * col("n_tokens")
            / (col("c_x").cast("double") * col("c_y")), 8))
        .orderBy(col("score").desc, col("bigram")).limit(PHRASE_TOP)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("bigram"))))
        .select(col("rank"), col("bigram"), col("c_xy"), col("c_x"),
          col("c_y"), col("score"))
        .orderBy(col("rank"))
    }),

    // Deterministic stratified sampling: keep a doc iff
    // base32(md5(doc_id)) mod 100 < SAMPLE_PCT — a pure per-row predicate
    // (no shuffle, no RNG state) that yields the SAME sample on every
    // engine, retry, and partitioning; the reproducibility contract a
    // training pipeline needs from its sampler.
    "q64_sample_stratified" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          (Hashes.base32(col("doc_id").cast("string")) % 100).as("bucket"))
        .filter(col("bucket") < SAMPLE_PCT)
        .orderBy(col("doc_id"))),

    // Bigram vocabulary: top-10 bigrams per source by frequency —
    // n-gram LM count tables / vocab induction. Two-phase heavy-hitter
    // shape, HASH-KEYED: the count/rank shuffles move (source, 64-bit
    // bigram hash) longs — never the bigram STRINGS, which at corpus scale
    // dominate the shuffle bytes (only 10×|sources| winners ever need
    // their text). Candidates are picked with rank() (ties share a rank),
    // so every bigram that could reach the top under the final
    // (n desc, bigram) tie-break survives to the resolve phase, where the
    // exact string order is restored — byte-identical to the one-phase
    // string plan. 64-bit collisions within a source would merge counts:
    // P ≈ D²/2⁶⁵, negligible below ~10¹² distinct bigrams per source.
    "q65_bigram_counts" -> ((s, d) => {
      // t is pre-projected: HOFs are CodegenFallback, so a `toks` inlined
      // into the lambda body would re-split the doc per element (O(n²))
      val bigrams = when(size(col("t")) >= 2,
        transform(sequence(lit(1), size(col("t")) - 1),
          i => concat_ws(" ", slice(col("t"), i, lit(2)))))
        .otherwise(array().cast("array<string>"))
      val ex = Tables.documents(s, d)
        .select(col("source"), toks.as("t"))
        .select(col("source"), explode(bigrams).as("bigram"))
      // PHASE 1 — count + candidate-rank over hashes only (WindowGroupLimit
      // keeps the rank top-k partial per map task, same as before)
      val counted = ex
        .select(col("source"), xxhash64(col("bigram")).as("bh"))
        .groupBy(col("source"), col("bh")).agg(count(lit(1)).as("n"))
      val cand = counted
        .withColumn("r", rank().over(
          Window.partitionBy(col("source")).orderBy(col("n").desc)))
        .filter(col("r") <= BIGRAM_TOP).drop("r")
      // PHASE 2 — resolve candidate strings: broadcast the tiny candidate
      // set against the re-exploded stream; non-winners die map-side and
      // the partial agg collapses duplicates before the (tiny) shuffle
      val resolved = ex
        .select(col("source"), col("bigram"), xxhash64(col("bigram")).as("bh"))
        .join(broadcast(cand), Seq("source", "bh"))
        .groupBy(col("source"), col("bh"), col("n"))
        .agg(min(col("bigram")).as("bigram"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n").desc, col("bigram"))
      resolved
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= BIGRAM_TOP)
        .select(col("source"), col("rank"), col("bigram"), col("n"))
        .orderBy(col("source"), col("rank"))
    }),

    // Batch interval join: views joined to the same user's purchases
    // within the following hour — the batch twin of the stream-stream
    // interval join (StreamingSpec). Plan shape is the scalable one: hash
    // equi-join on user_id, the time-range predicate applied as a
    // post-join filter (at 100 TB pair with date-partition pruning so
    // only adjacent partitions co-shuffle).
    "q67_interval_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val v = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("vts"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("pts"))
      // the range predicate runs at SECOND granularity on both engines
      // (DuckDB reads the raw nano timestamps; comparing truncated values
      // keeps the row sets identical)
      v.join(p, "user_id")
        .withColumn("gap_sec",
          unix_timestamp(col("pts")) - unix_timestamp(col("vts")))
        .filter(col("gap_sec") >= 0 && col("gap_sec") <= 3600)
        .select(col("view_id"), col("purchase_id"), col("user_id"), col("gap_sec"))
        .orderBy(col("view_id"), col("purchase_id"))
    }),

    // AS-OF enrichment through the custom operator stack (logical node →
    // strategy → sort-merge exec, graft.plans.AsOfJoin): every purchase
    // gets the latest strictly-prior view's value of the same user within
    // 6h, else 0 — q23's semantics family executed in one forward merge
    // pass instead of an unbounded-preceding window sort.
    "q68_asof_custom" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          round(col("value"), 2).as("value"),
          unix_timestamp(col("ts")).as("tsec"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"),
          unix_timestamp(col("ts")).as("v_tsec"),
          col("value").as("v_value"), col("event_id").as("v_eid"))
      graft.plans.AsOfJoinOp.asof(purchases, views,
          "user_id", "tsec", "v_user", "v_tsec", "v_eid", toleranceSec = 21600L)
        .select(col("event_id"), col("user_id"), col("value"),
          coalesce(round(col("v_value"), 2), lit(0.0)).as("prior_view_value"))
        .orderBy(col("event_id"))
    }),

    // Asymmetric containment dedup: |A∩B| / min(|A|,|B|) over shingle
    // multisets — catches SUBSET duplicates (a document embedded inside a
    // longer one) that symmetric Jaccard misses; the standard complement
    // to q31 in a training-pipeline dedup stack. Derives from the SAME
    // cached overlap-pair base as q31 — the inverted-index self-join is
    // paid once for the whole dedup stack, only the score differs.
    "q69_containment_dedup" -> ((s, d) =>
      TextPack.pairBase(s, d)
        .withColumn("containment",
          round(col("shared").cast("double") / least(col("ni"), col("nj")), 4))
        .filter(col("containment") >= CONTAIN_T)
        .select(col("i"), col("j"), col("shared"), col("containment"))
        .orderBy(col("i"), col("j"))),

    // Point-in-interval attribution through the SAME custom as-of operator
    // stack as q68: purchase sessions (30-min-gap split) become per-user
    // non-overlapping intervals; each view event is assigned its containing
    // session — the as-of merge finds the latest session start ≤ ts (one
    // forward pass), and the interval's end bound is a post-join filter.
    // Disjointness makes that exactly the containment join; at 100 TB this
    // replaces an unbounded range-predicate join with shuffle + linear
    // merge. session_id = min purchase event_id (engine-independent).
    "q73_session_attribution" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("psec"), col("event_id"))
      val sess = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("psec"))
        .withColumn("prev", lag(col("psec"), 1).over(w))
        .withColumn("news",
          when(col("prev").isNull || col("psec") - col("prev") > 1800, 1)
            .otherwise(0))
        .withColumn("sid", sum(col("news")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id").as("s_user"), col("sid"))
        .agg(min(col("psec")).as("st"), max(col("psec")).as("en"),
          min(col("event_id")).as("session_id"))
        .select(col("s_user"), col("st"), col("en"), col("session_id"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("vsec"),
          // +1 turns the exec's strict `st < ts` into `st <= ts`
          (unix_timestamp(col("ts")) + 1).as("vsec1"))
      graft.plans.AsOfJoinOp.asof(views, sess,
          "user_id", "vsec1", "s_user", "st", "session_id",
          toleranceSec = 10000000000L)
        .withColumn("in_session", col("en").isNotNull && col("vsec") <= col("en"))
        .select(col("event_id"), col("user_id"),
          when(col("in_session"), col("session_id")).as("session_id"),
          when(col("in_session"), col("vsec") - col("st")).as("sec_into_session"))
        .orderBy(col("event_id"))
    }),

    // Vocabulary-coverage (OOV) filter: corpus top-50 vocabulary, per-doc
    // out-of-vocabulary occurrence ratio, keep-decision at OOV_T. The
    // vocab is a broadcast side table; the corpus pass is single-shuffle.
    // (At 100 TB the top-k comes from a partial-top-k tree aggregate, not
    // a global sort — the vocab stays driver-small either way.)
    "q66_oov_filter" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(toks).as("term"))
      val vocab = tok.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        .withColumn("r", row_number().over(
          Window.orderBy(col("cnt").desc, col("term"))))
        .filter(col("r") <= VOCAB_K)
        .select(col("term"), lit(1).as("in_vocab"))
      tok.join(broadcast(vocab), Seq("term"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          count(when(col("in_vocab").isNull, 1)).as("n_oov"))
        .withColumn("oov_ratio",
          round(col("n_oov").cast("double") / col("n_tokens"), 4))
        .withColumn("kept", col("oov_ratio") <= OOV_T)
        .orderBy(col("doc_id"))
    }),

    // Corpus snapshot diff — the incremental-ingest manifest: given two
    // snapshots of the corpus, emit per-doc added/removed/changed rows (the
    // work-list an incremental pipeline reprocesses, and the audit trail a
    // data-versioning layer records). Snapshots are derived here from the
    // one documents table by a stateless hash split (bucket 0 absent from
    // the old snapshot = later additions; bucket 2 absent from the new =
    // deletions; bucket 1's text revised in the new = edits), so the
    // operator is fully deterministic and oracle-checkable. The comparison
    // runs on 60-bit content FINGERPRINTS projected before the join — the
    // full-outer join shuffles 8-byte hashes, never document bodies, and
    // with doc_id-bucketed snapshot tables it plans as a zero-exchange
    // merge. 'unchanged' rows are filtered out so output ∝ delta, not
    // corpus.
    "q121_snapshot_diff" -> ((s, d) => {
      val b = Tables.documents(s, d).select(col("doc_id"), col("source"),
        col("text"), (Hashes.base32(col("doc_id").cast("string")) % 10).as("bkt"))
      val old = b.filter(col("bkt") =!= 0)
        .select(col("doc_id"), col("source"), Hashes.base60(col("text")).as("fp"))
      val nw = b.filter(col("bkt") =!= 2)
        .select(col("doc_id"), col("source"), Hashes.base60(
          when(col("bkt") === 1, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text"))).as("fp"))
      old.as("o").join(nw.as("n"), col("o.doc_id") === col("n.doc_id"), "full_outer")
        .select(
          coalesce(col("o.doc_id"), col("n.doc_id")).as("doc_id"),
          coalesce(col("o.source"), col("n.source")).as("source"),
          when(col("o.doc_id").isNull, "added")
            .when(col("n.doc_id").isNull, "removed")
            .when(col("o.fp") =!= col("n.fp"), "changed")
            .otherwise("unchanged").as("status"),
          col("o.fp").as("fp_old"), col("n.fp").as("fp_new"))
        .filter(col("status") =!= "unchanged")
        .orderBy(col("doc_id"))
    }),

    // Takedown propagation — the right-to-be-forgotten / opt-out pass: a
    // removal notice for one document must also purge its near-duplicates
    // (a copy of removed content is still removed content). Seeds =
    // deterministic notice list (doc_id % 37 = 0); the purge set closes
    // over q44's TRANSITIVE dup clusters, so a seed removes its whole
    // component, not just single-hop copies. Scale: the notice list is
    // tiny → its cluster-label set broadcasts; the corpus-sized label
    // relation (one CC output row per doc in the pair graph) is probed
    // with a broadcast semi-join — no shuffle beyond what CC already did.
    // Seeds outside the pair graph purge only themselves (full-outer with
    // the flagged set; cluster = own id). Output ∝ purge set, not corpus.
    "q137_takedown" -> ((s, d) => {
      val seeds = Tables.documents(s, d)
        .filter(col("doc_id") % 37 === 0).select(col("doc_id"))
      val lab = dupClusterLabels(s, d) // (id, lbl): doc -> component min
      val seedLbls = lab.join(seeds, col("id") === col("doc_id"))
        .select(col("lbl")).distinct()
      val flagged = lab.join(broadcast(seedLbls), "lbl")
        .select(col("id").as("fid"), col("lbl"))
      flagged.as("f")
        .join(seeds.select(col("doc_id").as("sid")).as("s"),
          col("fid") === col("sid"), "full_outer")
        .select(
          coalesce(col("fid"), col("sid")).as("doc_id"),
          when(col("sid").isNotNull, "seed").otherwise("propagated")
            .as("status"),
          coalesce(col("lbl"), col("sid")).as("cluster"))
        .orderBy(col("doc_id"))
    }),

    // Near-dup cluster representative selection — the pass after q44's
    // transitive clustering that decides WHICH copy survives: the
    // highest-quality member (q36's score), ties to the smaller doc_id.
    // Exact dedup keeps-best by content key (q28); this is the same
    // policy lifted to TRANSITIVE near-dup components, the form a
    // curation pipeline actually ships. The argmax is a lexicographic
    // struct max_by (valid at any id range — q94's precedent); quality
    // rides q36's cross-engine rounding contract. Scale: one
    // doc_id-keyed join of the CC labeling against the quality relation,
    // then a per-cluster agg over small components.
    "q142_cluster_reps" -> ((s, d) => {
      val lab = dupClusterLabels(s, d) // (id, lbl)
      val qual = TextPack.queries("q36_quality_score")(s, d)
        .select(col("doc_id"), col("quality"))
      lab.join(qual, col("id") === col("doc_id"))
        .groupBy(col("lbl").as("cluster"))
        .agg(count(lit(1)).as("n_members"),
          max_by(col("id"), struct(col("quality"), -col("id")))
            .as("rep_doc"),
          max(col("quality")).as("rep_quality"))
        .orderBy(col("cluster"))
    }),

    // The curation capstone, oracle-checked end-to-end (q161-q164 —
    // jobs.CurateJob is the runnable main over the same relations): the
    // per-doc DECISIONS table composing q119's verdict with q142's
    // representative policy, then the release datacard, the shard
    // layout, and the conservation audit all derived from it. The oracle
    // re-derives the whole chain from the composed passes' own oracle
    // SQL, so every stage is checked through the same composition.
    "q161_curation_decisions" -> ((s, d) =>
      curationDecisions(s, d).orderBy(col("doc_id"))),

    // Per-source release datacard over the CURATED output (q129 is the
    // raw-corpus form): volume, token spread, language share, mean
    // quality (exact-integer e4), keep rate vs raw. |sources| rows from
    // one map-side partial agg over the memoized decisions.
    "q162_curated_datacard" -> ((s, d) =>
      curatedDatacard(curationDecisions(s, d))),

    // q127's greedy byte-capped shard recurrence over the SURVIVORS —
    // the layout table the curated release actually writes. Same
    // flatMapSortedGroups single-pass-per-source recurrence (and the
    // same q109 block-reduction escape for giant sources at 100 TB).
    "q163_curated_shards" -> ((s, d) =>
      curatedShardSummary(curationDecisions(s, d))),

    // Conservation audit: every raw doc in exactly one reason bucket
    // with its char/token mass — the table that proves the pipeline
    // neither dropped nor double-counted anything (CurateJobSpec asserts
    // the sums equal the raw corpus). |reasons| rows, one partial agg.
    "q164_curation_audit" -> ((s, d) =>
      curationAudit(curationDecisions(s, d))),

    // Cross-source near-dup matrix — WHERE the duplicate mass lives: per
    // unordered source pair, how many verified near-dup pairs cross it.
    // The table that prioritizes dedup effort (heavy within-source mass →
    // dedup at ingest per source; heavy cross-source mass → a global
    // pass is mandatory) and flags mirror/scrape overlap between
    // sources. Rides q31's CACHED pair relation (zero extra corpus
    // work); the PAIR side broadcasts (it is dedup-output-sized, far
    // smaller than the corpus dim it probes — q137's probe direction);
    // output bounded by |sources|². Unordered pair via least/greatest
    // on the source names (string order, both engines).
    "q174_dup_source_matrix" -> ((s, d) => {
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val pairs = TextPack.queries("q31_ngram_jaccard")(s, d)
        .select(col("i"), col("j"))
      val e1 = src.select(col("doc_id").as("i"), col("source").as("src_i"))
        .join(broadcast(pairs), "i")
      src.select(col("doc_id").as("j"), col("source").as("src_j"))
        .join(broadcast(e1), "j")
        .groupBy(least(col("src_i"), col("src_j")).as("src_a"),
          greatest(col("src_i"), col("src_j")).as("src_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("cross_source", col("src_a") =!= col("src_b"))
        .orderBy(col("src_a"), col("src_b"))
    })
  )

  /** Memoized per-(session, dir) curation DECISIONS relation — the
    * per-doc single source of truth q161-q164 and jobs.CurateJob all
    * consume: (doc_id, source, lang, n_chars, n_tokens, quality, reason,
    * keep), where `reason` refines q119's verdict with `near_dup_nonrep`
    * for docs that pass it but lose their near-dup cluster to a better
    * copy (q142's policy). Lineage-truncated and memoized like
    * TextPack.bpeChain (four consumers with disjoint agg shapes — no
    * exchange for Spark to reuse across separate actions). Built from the
    * dup-cluster labels, so invalidating the dir in [[Artifacts]] drops
    * both. Scale: q119's doc_id-keyed joins (co-locating on a
    * doc_id-bucketed corpus), the adaptive CC labeling, and a
    * cluster-side join far smaller than the corpus; the stored relation
    * is 8 narrow columns per doc. */
  def curationDecisions(s: SparkSession, d: String): DataFrame =
    Artifacts.get(s, d, "curationDecisions") {
      val verdict = CurationPack.queries("q119_curation_verdict")(s, d)
        .select(col("doc_id"), col("reason").as("v_reason"),
          col("keep").as("v_keep"))
      val lab = dupClusterLabels(s, d) // (id, lbl)
      val reps = queries("q142_cluster_reps")(s, d)
        .select(col("cluster"), col("rep_doc"))
      // non-representative members of near-dup clusters (pair-graph-sized)
      val nonRep = lab.join(reps, col("lbl") === col("cluster"))
        .filter(col("id") =!= col("rep_doc"))
        .select(col("id").as("doc_id"), lit(true).as("non_rep"))
      val qual = TextPack.queries("q36_quality_score")(s, d)
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("quality"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
        .join(verdict, "doc_id")
        .join(qual, "doc_id")
        .join(nonRep, Seq("doc_id"), "left")
        .withColumn("reason",
          when(!col("v_keep"), col("v_reason"))
            .when(coalesce(col("non_rep"), lit(false)), "near_dup_nonrep")
            .otherwise("keep"))
        .withColumn("keep", col("reason") === "keep")
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
          col("n_tokens"), col("quality"), col("reason"), col("keep"))
        .localCheckpoint()
    }

  /** q162: per-source release datacard over a decisions frame. Quality
    * means stay integer (q129's e4 contract); a source with zero kept
    * docs yields NULL spread/mean (both engines). */
  private[graft] def curatedDatacard(dec: DataFrame): DataFrame =
    dec.withColumn("q_e4", expr("CAST(round(quality * 10000) AS BIGINT)"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_raw"),
        count(when(col("keep"), 1)).as("n_docs"),
        sum(when(col("keep"), col("n_tokens"))).cast("long").as("tot_tokens"),
        min(when(col("keep"), col("n_tokens"))).as("min_tokens"),
        max(when(col("keep"), col("n_tokens"))).as("max_tokens"),
        count(when(col("keep") && col("lang") === "en", 1)).as("n_en"),
        sum(when(col("keep"), col("q_e4"))).cast("long").as("sum_q_e4"))
      .withColumn("keep_rate_bp", expr("(n_docs * 10000) div n_raw"))
      .withColumn("mean_quality_e4",
        when(col("n_docs") > 0, expr("sum_q_e4 div n_docs")))
      .select(col("source"), col("n_raw"), col("n_docs"), col("tot_tokens"),
        col("min_tokens"), col("max_tokens"), col("n_en"),
        col("keep_rate_bp"), col("mean_quality_e4"))
      .orderBy(col("source"))

  /** q163: q127-shaped per-file shard summary over the survivors. */
  private[graft] def curatedShardSummary(dec: DataFrame): DataFrame = {
    import dec.sparkSession.implicits._
    val cap = CurationPack.SHARD_CAP
    CurationPack.greedyFill(
      dec.filter(col("keep"))
        .select(col("source"), col("doc_id"), col("n_chars"))
        .as[(String, Long, Long)], cap)
      .groupBy(col("source"), col("file_idx"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nb")).cast("long").as("bytes"))
      .withColumn("fill_ppm", expr(s"(bytes * 1000000) div $cap"))
      .orderBy(col("source"), col("file_idx"))
  }

  /** q164: per-reason conservation audit over a decisions frame. */
  private[graft] def curationAudit(dec: DataFrame): DataFrame =
    dec.groupBy(col("reason"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("n_chars"),
        sum(col("n_tokens")).cast("long").as("n_tokens"))
      .orderBy(col("reason"))

  /** Recursive transitive-closure chain over TextPack's verified
    * near-dup pair relation, ending in `lab(id, cluster)` (cluster = min
    * member id) — the ONE place the closure SQL lives, shared by the
    * q44/q137/q142 oracles (q94 closes over its own fuzzy pair CTE). */
  private val sqlCcCtes: String =
    s"""${TextPack.sqlPairCtes}, edges AS (
       |  SELECT i AS a, j AS b FROM pairs
       |  UNION ALL
       |  SELECT j AS a, i AS b FROM pairs
       |), nodes AS (
       |  SELECT DISTINCT a AS id FROM edges
       |), reach AS (
       |  SELECT id, id AS lbl FROM nodes
       |  UNION
       |  SELECT e.b AS id, r.lbl FROM reach r JOIN edges e ON e.a = r.id
       |), lab AS (
       |  SELECT id, min(lbl) AS cluster FROM reach GROUP BY id
       |)""".stripMargin

  /** Shared decisions CTE chain for the q161-q164 capstone: q119's
    * verdict and q36's quality ride along as their OWN oracle SQL, the
    * near-dup representative policy re-derives over the recursive CC
    * labeling, and the chain ends in `dec(doc_id, source, lang, n_chars,
    * n_tokens, quality, reason)`. Multi-consumer CTEs are
    * `AS MATERIALIZED` — DuckDB inlines plain CTEs, the q113/q118/q125
    * compounding-recompute lesson (OracleBudgetSpec enforces the 5 s
    * budget). */
  private def sqlDecCtes: String =
    s"""$sqlCcCtes, v119 AS MATERIALIZED (
       |  ${CurationPack.oracle("q119_curation_verdict")}
       |), qual AS MATERIALIZED (
       |  ${TextPack.oracle("q36_quality_score")}
       |), jq AS MATERIALIZED (
       |  SELECT lab.cluster, lab.id, qual.quality
       |  FROM lab JOIN qual ON qual.doc_id = lab.id
       |), nonrep AS (
       |  SELECT jq.id AS doc_id FROM jq JOIN (
       |    SELECT cluster, id AS rep_doc FROM (
       |      SELECT cluster, id, row_number() OVER (
       |        PARTITION BY cluster ORDER BY quality DESC, id) AS rn
       |      FROM jq)
       |    WHERE rn = 1) reps2 USING (cluster)
       |  WHERE jq.id <> reps2.rep_doc
       |), dec AS MATERIALIZED (
       |  SELECT d.doc_id, d.source, d.lang, d.n_chars::BIGINT AS n_chars,
       |    qual.n_tokens::BIGINT AS n_tokens, qual.quality,
       |    CASE WHEN v119.reason <> 'keep' THEN v119.reason
       |         WHEN nonrep.doc_id IS NOT NULL THEN 'near_dup_nonrep'
       |         ELSE 'keep' END AS reason
       |  FROM documents d
       |  JOIN v119 ON v119.doc_id = d.doc_id
       |  JOIN qual ON qual.doc_id = d.doc_id
       |  LEFT JOIN nonrep ON nonrep.doc_id = d.doc_id
       |)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q161_curation_decisions" ->
      s"""WITH RECURSIVE $sqlDecCtes
         |SELECT doc_id, source, lang, n_chars, n_tokens, quality, reason,
         |  reason = 'keep' AS keep
         |FROM dec ORDER BY doc_id""".stripMargin,

    "q162_curated_datacard" ->
      s"""WITH RECURSIVE $sqlDecCtes
         |SELECT source, count(*)::BIGINT AS n_raw,
         |  count(CASE WHEN reason = 'keep' THEN 1 END)::BIGINT AS n_docs,
         |  sum(CASE WHEN reason = 'keep' THEN n_tokens END)::BIGINT
         |    AS tot_tokens,
         |  min(CASE WHEN reason = 'keep' THEN n_tokens END) AS min_tokens,
         |  max(CASE WHEN reason = 'keep' THEN n_tokens END) AS max_tokens,
         |  count(CASE WHEN reason = 'keep' AND lang = 'en' THEN 1 END)::BIGINT
         |    AS n_en,
         |  ((count(CASE WHEN reason = 'keep' THEN 1 END) * 10000)
         |     // count(*))::BIGINT AS keep_rate_bp,
         |  CASE WHEN count(CASE WHEN reason = 'keep' THEN 1 END) > 0 THEN
         |    (sum(CASE WHEN reason = 'keep'
         |              THEN CAST(round(quality * 10000) AS BIGINT) END)
         |       // count(CASE WHEN reason = 'keep' THEN 1 END))::BIGINT
         |  END AS mean_quality_e4
         |FROM dec GROUP BY source ORDER BY source""".stripMargin,

    "q163_curated_shards" -> {
      val cap = CurationPack.SHARD_CAP
      s"""WITH RECURSIVE $sqlDecCtes, sdocs AS MATERIALIZED (
         |  SELECT source, doc_id, n_chars AS nb,
         |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
         |  FROM dec WHERE reason = 'keep'
         |), r AS (
         |  SELECT source, rn, nb, 0::BIGINT AS file_idx, nb AS fill
         |  FROM sdocs WHERE rn = 1
         |  UNION ALL
         |  SELECT s.source, s.rn, s.nb,
         |    CASE WHEN r.fill + s.nb > $cap
         |         THEN r.file_idx + 1 ELSE r.file_idx END,
         |    CASE WHEN r.fill + s.nb > $cap
         |         THEN s.nb ELSE r.fill + s.nb END
         |  FROM r JOIN sdocs s ON s.source = r.source AND s.rn = r.rn + 1
         |)
         |SELECT source, file_idx, count(*)::BIGINT AS n_docs,
         |  sum(nb)::BIGINT AS bytes,
         |  (sum(nb) * 1000000 // $cap)::BIGINT AS fill_ppm
         |FROM r GROUP BY source, file_idx
         |ORDER BY source, file_idx""".stripMargin
    },

    "q164_curation_audit" ->
      s"""WITH RECURSIVE $sqlDecCtes
         |SELECT reason, count(*)::BIGINT AS n_docs,
         |  sum(n_chars)::BIGINT AS n_chars,
         |  sum(n_tokens)::BIGINT AS n_tokens
         |FROM dec GROUP BY reason ORDER BY reason""".stripMargin,

    "q174_dup_source_matrix" ->
      s"""WITH ${TextPack.sqlPairCtes}
         |SELECT least(da.source, db.source) AS src_a,
         |  greatest(da.source, db.source) AS src_b,
         |  count(*)::BIGINT AS n_pairs,
         |  least(da.source, db.source) <> greatest(da.source, db.source)
         |    AS cross_source
         |FROM pairs
         |JOIN documents da ON da.doc_id = i
         |JOIN documents db ON db.doc_id = j
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Same hash split + fingerprint compare; FULL OUTER JOIN mirrors the
    // Spark plan exactly.
    "q121_snapshot_diff" ->
      s"""WITH b AS (
         |  SELECT doc_id, source, text,
         |    ${Hashes.sqlBase32("doc_id::VARCHAR")} % 10 AS bkt
         |  FROM documents
         |), old AS (
         |  SELECT doc_id, source, ${Hashes.sqlBase60("text")} AS fp
         |  FROM b WHERE bkt <> 0
         |), new AS (
         |  SELECT doc_id, source, ${Hashes.sqlBase60(
              "CASE WHEN bkt = 1 THEN text || ' [rev2]' ELSE text END")} AS fp
         |  FROM b WHERE bkt <> 2
         |), diff AS (
         |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         |    coalesce(o.source, n.source) AS source,
         |    CASE WHEN o.doc_id IS NULL THEN 'added'
         |         WHEN n.doc_id IS NULL THEN 'removed'
         |         WHEN o.fp <> n.fp THEN 'changed'
         |         ELSE 'unchanged' END AS status,
         |    o.fp AS fp_old, n.fp AS fp_new
         |  FROM old o FULL OUTER JOIN new n ON n.doc_id = o.doc_id
         |)
         |SELECT doc_id, source, status, fp_old, fp_new
         |FROM diff WHERE status <> 'unchanged' ORDER BY doc_id""".stripMargin,

    "q44_dup_clusters" ->
      s"""WITH RECURSIVE $sqlCcCtes
         |SELECT cluster, count(*) AS n_members,
         |  string_agg(id::VARCHAR, ',' ORDER BY id) AS members
         |FROM lab GROUP BY cluster ORDER BY cluster""".stripMargin,

    "q142_cluster_reps" ->
      s"""WITH RECURSIVE $sqlCcCtes, qual AS (
         |  ${TextPack.oracle("q36_quality_score")}
         |), j AS (
         |  SELECT lab.cluster, lab.id, qual.quality
         |  FROM lab JOIN qual ON qual.doc_id = lab.id
         |), reps AS (
         |  SELECT cluster, id AS rep_doc, quality AS rep_quality FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY cluster ORDER BY quality DESC, id) AS rn
         |    FROM j)
         |  WHERE rn = 1
         |)
         |SELECT cluster, count(*) AS n_members, max(rep_doc) AS rep_doc,
         |  max(rep_quality) AS rep_quality
         |FROM j JOIN reps USING (cluster)
         |GROUP BY cluster ORDER BY cluster""".stripMargin,

    "q48_skew_agg" ->
      """SELECT event_type, count(*) AS n,
        |  sum(floor(value * 100)::BIGINT)::BIGINT AS sum_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q49_json_extract" ->
      """SELECT k % 10 AS k_bucket, count(*) AS n,
        |  min(k) AS min_k, max(k) AS max_k
        |FROM (
        |  SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events
        |) GROUP BY 1 ORDER BY 1""".stripMargin,

    "q63_tfidf" -> {
      val score6 = Hashes.sqlRound("tf * ln(n_docs::DOUBLE / df)", 6)
      s"""WITH tf AS (
         |  SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents
         |), tfc AS (
         |  SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY doc_id, term
         |), dfc AS (
         |  SELECT term, count(*) AS df FROM tfc GROUP BY term
         |), ranked AS (
         |  SELECT doc_id, term, $score6 AS score6,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY $score6 DESC, term) AS rank
         |  FROM tfc JOIN dfc USING (term)
         |    CROSS JOIN (SELECT count(*) AS n_docs FROM documents)
         |)
         |SELECT doc_id, rank, term, ${Hashes.sqlRound("score6", 4)} AS score
         |FROM ranked WHERE rank <= $TFIDF_TOP ORDER BY doc_id, rank""".stripMargin
    },

    "q94_entity_resolution" ->
      s"""WITH RECURSIVE pr AS (
         |  SELECT a.doc_id AS i, b.doc_id AS j
         |  FROM (SELECT doc_id, text[1:40] AS p40, text[1:8] AS block FROM documents) a
         |  JOIN (SELECT doc_id, text[1:40] AS p40, text[1:8] AS block FROM documents) b
         |    ON a.block = b.block AND a.doc_id < b.doc_id
         |  WHERE levenshtein(a.p40, b.p40) <= 10
         |), edges AS (
         |  SELECT i AS a, j AS b FROM pr UNION ALL SELECT j AS a, i AS b FROM pr
         |), nodes AS (
         |  SELECT DISTINCT a AS id FROM edges
         |), reach AS (
         |  SELECT id, id AS lbl FROM nodes
         |  UNION
         |  SELECT e.b AS id, r.lbl FROM reach r JOIN edges e ON e.a = r.id
         |), lab AS (
         |  SELECT id, min(lbl) AS entity FROM reach GROUP BY id
         |)
         |SELECT entity, count(*) AS n_members,
         |  first(id ORDER BY n_chars DESC, id) AS canonical_doc,
         |  max(n_chars) AS canonical_len,
         |  string_agg(id::VARCHAR, ',' ORDER BY id) AS members
         |FROM lab JOIN documents ON doc_id = id
         |GROUP BY entity ORDER BY entity""".stripMargin,

    "q98_pmi_phrases" -> {
      val score = Hashes.sqlRound(
        s"(c_xy - $PHRASE_DELTA)::DOUBLE * n_tokens / (c_x::DOUBLE * c_y)", 8)
      s"""WITH uni AS (
         |  SELECT w, count(*) AS c
         |  FROM (SELECT unnest(str_split(text, ' ')) AS w FROM documents)
         |  GROUP BY w
         |), tot AS (SELECT sum(c)::BIGINT AS n_tokens FROM uni),
         |bg AS (
         |  SELECT bigram, count(*) AS c_xy FROM (
         |    SELECT array_to_string(t[i:i+1], ' ') AS bigram
         |    FROM (SELECT str_split(text, ' ') AS t FROM documents),
         |         LATERAL unnest(range(1, len(t))) AS u(i)
         |    WHERE len(t) >= 2
         |  ) GROUP BY bigram HAVING count(*) >= $PHRASE_MIN
         |), scored AS (
         |  SELECT bigram, c_xy, ux.c AS c_x, uy.c AS c_y, $score AS score
         |  FROM bg
         |  JOIN uni ux ON ux.w = str_split(bigram, ' ')[1]
         |  JOIN uni uy ON uy.w = str_split(bigram, ' ')[2]
         |  CROSS JOIN tot
         |)
         |SELECT row_number() OVER (ORDER BY score DESC, bigram) AS rank,
         |  bigram, c_xy, c_x, c_y, score
         |FROM scored ORDER BY score DESC, bigram LIMIT $PHRASE_TOP""".stripMargin
    },

    "q92_skew_profile" -> {
      val p50 = Hashes.sqlRound("quantile_cont(cnt, 0.5)", 4)
      val p99 = Hashes.sqlRound("quantile_cont(cnt, 0.99)", 4)
      s"""WITH c AS (
         |  SELECT event_type, user_id, count(*) AS cnt
         |  FROM events GROUP BY 1, 2
         |), st AS (
         |  SELECT event_type, count(*) AS n_keys, sum(cnt)::BIGINT AS n_rows,
         |    max(cnt) AS max_cnt, $p50 AS p50, $p99 AS p99
         |  FROM c GROUP BY event_type
         |)
         |SELECT event_type, n_keys, n_rows, max_cnt, p50, p99,
         |  ${Hashes.sqlRound("max_cnt::DOUBLE / n_rows", 6)} AS top_share,
         |  ${Hashes.sqlRound("p99 / p50", 4)} AS p99_med_ratio
         |FROM st ORDER BY event_type""".stripMargin
    },

    "q90_bm25" ->
      s"""WITH tf AS (
         |  SELECT doc_id, tok, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents)
         |  GROUP BY doc_id, tok
         |), dl AS (
         |  SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id
         |), st AS (
         |  SELECT count(*) AS n_docs, sum(dl)::BIGINT AS t_tokens FROM dl
         |), st2 AS (
         |  SELECT n_docs, t_tokens, t_tokens::DOUBLE / n_docs AS avgdl FROM st
         |), dfc AS (
         |  SELECT tok, count(*) AS df FROM tf GROUP BY tok
         |), contrib AS (
         |  SELECT tok, tf.doc_id,
         |    floor(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
         |      * (tf * ${BM25_K1 + 1.0} / (tf + $BM25_K1
         |          * (${1.0 - BM25_B} + $BM25_B * dl / avgdl)))
         |      * 1000000.0)::BIGINT AS c_micro
         |  FROM tf JOIN dl USING (doc_id) CROSS JOIN st2 JOIN dfc USING (tok)
         |), qt AS (
         |  SELECT doc_id AS qid, unnest(list_distinct(str_split(text, ' '))) AS tok
         |  FROM documents
         |  WHERE doc_id % $BM25_QMOD = 0 AND doc_id < $BM25_QCAP
         |), sc AS (
         |  SELECT qid, c.doc_id AS cid, sum(c_micro)::BIGINT AS score_micro
         |  FROM qt JOIN contrib c USING (tok) WHERE qid <> c.doc_id
         |  GROUP BY 1, 2
         |), ranked AS (
         |  SELECT qid, cid, score_micro,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY score_micro DESC, cid) AS rank
         |  FROM sc
         |)
         |SELECT qid, rank, cid,
         |  ${Hashes.sqlRound("score_micro / 1000000.0", 4)} AS score
         |FROM ranked WHERE rank <= $BM25_TOP ORDER BY qid, rank""".stripMargin,

    "q64_sample_stratified" ->
      s"""SELECT doc_id, source, bucket FROM (
         |  SELECT doc_id, source,
         |    ${Hashes.sqlBase32("doc_id::VARCHAR")} % 100 AS bucket
         |  FROM documents
         |) WHERE bucket < $SAMPLE_PCT ORDER BY doc_id""".stripMargin,

    "q65_bigram_counts" ->
      s"""WITH bg AS (
         |  SELECT source,
         |    unnest([array_to_string(t[i:i+1], ' ') FOR i IN range(1, len(t))]) AS bigram
         |  FROM (SELECT source, str_split(text, ' ') AS t FROM documents)
         |), cnt AS (
         |  SELECT source, bigram, count(*) AS n FROM bg GROUP BY source, bigram
         |), ranked AS (
         |  SELECT source, bigram, n,
         |    row_number() OVER (PARTITION BY source ORDER BY n DESC, bigram) AS rank
         |  FROM cnt
         |)
         |SELECT source, rank, bigram, n
         |FROM ranked WHERE rank <= $BIGRAM_TOP ORDER BY source, rank""".stripMargin,

    "q67_interval_join" ->
      """SELECT view_id, purchase_id, user_id, gap_sec FROM (
        |  SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
        |    CAST(floor(epoch(p.ts)) - floor(epoch(v.ts)) AS BIGINT) AS gap_sec
        |  FROM (SELECT * FROM events WHERE event_type = 'view') v
        |  JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |    ON p.user_id = v.user_id
        |) WHERE gap_sec >= 0 AND gap_sec <= 3600
        |ORDER BY view_id, purchase_id""".stripMargin,

    "q68_asof_custom" ->
      """SELECT event_id, user_id, round(value, 2) AS value,
        |  coalesce(round(pv_val, 2), 0.0) AS prior_view_value
        |FROM (
        |  SELECT p.event_id, p.user_id, p.value, (
        |    SELECT v.value FROM events v
        |    WHERE v.user_id = p.user_id AND v.event_type = 'view'
        |      AND floor(epoch(v.ts)) < floor(epoch(p.ts))
        |      AND floor(epoch(p.ts)) - floor(epoch(v.ts)) <= 21600
        |    ORDER BY floor(epoch(v.ts)) DESC, v.event_id DESC LIMIT 1
        |  ) AS pv_val
        |  FROM events p WHERE p.event_type = 'purchase'
        |) ORDER BY event_id""".stripMargin,

    "q69_containment_dedup" ->
      s"""WITH shx AS (
         |  ${TextPack.sqlShingleRows}
         |), counts AS (
         |  SELECT doc_id, count(*) AS n FROM shx GROUP BY doc_id
         |), shared AS (
         |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS shared
         |  FROM shx a JOIN shx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT i, j, shared,
         |  ${Hashes.sqlRound("shared::DOUBLE / least(ci.n, cj.n)", 4)} AS containment
         |FROM shared JOIN counts ci ON ci.doc_id = i JOIN counts cj ON cj.doc_id = j
         |WHERE ${Hashes.sqlRound("shared::DOUBLE / least(ci.n, cj.n)", 4)} >= $CONTAIN_T
         |ORDER BY i, j""".stripMargin,

    "q73_session_attribution" ->
      """WITH p AS (
        |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS psec
        |  FROM events WHERE event_type = 'purchase'
        |), s0 AS (
        |  SELECT *, CASE WHEN lag(psec) OVER w IS NULL
        |                   OR psec - lag(psec) OVER w > 1800
        |                 THEN 1 ELSE 0 END AS news
        |  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY psec, event_id)
        |), s1 AS (
        |  SELECT *, sum(news) OVER (PARTITION BY user_id
        |    ORDER BY psec, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s0
        |), sess AS (
        |  SELECT user_id, sid, min(psec) AS st, max(psec) AS en,
        |    min(event_id) AS session_id
        |  FROM s1 GROUP BY user_id, sid
        |), v AS (
        |  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS vsec
        |  FROM events WHERE event_type = 'view'
        |)
        |SELECT v.event_id, v.user_id, s.session_id,
        |  v.vsec - s.st AS sec_into_session
        |FROM v LEFT JOIN sess s
        |  ON s.user_id = v.user_id AND s.st <= v.vsec AND v.vsec <= s.en
        |ORDER BY v.event_id""".stripMargin,

    "q66_oov_filter" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents
         |), vocab AS (
         |  SELECT term FROM (
         |    SELECT term, row_number() OVER (
         |      ORDER BY count(*) DESC, term) AS r
         |    FROM tok GROUP BY term
         |  ) WHERE r <= $VOCAB_K
         |), scored AS (
         |  SELECT t.doc_id, count(*) AS n_tokens,
         |    count(*) FILTER (v.term IS NULL) AS n_oov
         |  FROM tok t LEFT JOIN vocab v ON t.term = v.term
         |  GROUP BY t.doc_id
         |)
         |SELECT doc_id, n_tokens, n_oov,
         |  ${Hashes.sqlRound("n_oov::DOUBLE / n_tokens", 4)} AS oov_ratio,
         |  ${Hashes.sqlRound("n_oov::DOUBLE / n_tokens", 4)} <= $OOV_T AS kept
         |FROM scored ORDER BY doc_id""".stripMargin,

    // Same recursive-CTE closure that gates q44, then the seed semi-join +
    // full-outer union with off-graph seeds.
    "q137_takedown" ->
      s"""WITH RECURSIVE $sqlCcCtes, seeds AS (
         |  SELECT doc_id FROM documents WHERE doc_id % 37 = 0
         |), flagged AS (
         |  SELECT id AS fid, cluster AS lbl FROM lab
         |  WHERE cluster IN (SELECT l.cluster FROM lab l
         |                    JOIN seeds s ON l.id = s.doc_id)
         |)
         |SELECT coalesce(fid, doc_id) AS doc_id,
         |  CASE WHEN doc_id IS NOT NULL THEN 'seed'
         |       ELSE 'propagated' END AS status,
         |  coalesce(lbl, doc_id) AS cluster
         |FROM flagged f FULL OUTER JOIN seeds s ON f.fid = s.doc_id
         |ORDER BY 1""".stripMargin
  )
}
