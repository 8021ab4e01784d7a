package graft.operators

import graft.Tables
import graft.functions.Hashes
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Corpus-curation operators — the filtering/splitting/packing layer a
  * training-data pipeline runs between dedup (TextPack/PipelinePack) and
  * shard writing. All are new surface beyond the reference (the brief's
  * "operations a large-scale training-data pipeline would need"); the
  * n-gram machinery grows from the same shingle index the dedup stack
  * already builds (reference seed: RecommendationUtils.scala:16-49).
  *
  * Like TextPack, everything is built-in-expression level — md5/conv
  * hashing, higher-order array functions — so the whole pack stays inside
  * whole-stage codegen and every query is exactly DuckDB-oracle-checkable.
  *
  * Scale design (100 TB):
  *  - q55 decontamination probes the big test-shingle stream against the
  *    distinct train-shingle relation — one shuffle join on the shingle;
  *    at scale the train set is a bucketed/bloom-filtered table, and
  *    ultra-common shingles get a document-frequency cap (the q31 note).
  *  - q56 boilerplate detection is the C4 rule: the chunk→doc-frequency
  *    side table is corpus-small (only chunks seen ≥2×) and broadcasts
  *    back onto the exploded chunk stream — one wide pass, one narrow one.
  *  - q57 repetition stats are per-document map-side aggregations; no
  *    cross-document state at all, so the pass is embarrassingly parallel.
  *  - q58 packing windows over (source, doc_id) — per-shard prefix sums,
  *    the sharded "concatenate then chunk into context windows" layout;
  *    no global ordering is ever materialized.
  *  - q59 rebalancing folds per-source token totals (tiny side table) and
  *    keeps/drops rows with the q64 stateless hash predicate — the sample
  *    is reproducible across engines, retries, and repartitioning.
  */
object CurationPack {
  type Q = (SparkSession, String) => DataFrame

  private val TEST_MOD    = 5     // 1-in-5 docs land in the eval split
  private val CONTAM_T    = 0.6   // flag: ≥60% of eval shingles seen in train
  private val CHUNK       = 10    // boilerplate chunk width (tokens)
  private val BOILER_DF   = 2     // chunk in ≥2 distinct docs = boilerplate
  private val TOP_TOK_T   = 0.12  // Gopher-style: max single-token mass
  private val DUP_BG_T    = 0.05  // Gopher-style: duplicated-bigram mass
  private val SEQ_LEN     = 128   // packed training-sequence length (tokens)
  private val SEQ_LENS    = Seq(64, 128, 256, 512) // q170 candidate lengths
  // q171 candidate quality thresholds, e4 units (QUALITY_T = 0.62 sits
  // inside the sweep so the production point is on the curve)
  private val QT_E4S      = Seq(5000L, 5500L, 6000L, 6200L, 6500L, 7000L)
  private val BATCH_DOCS  = 8     // docs per pad-to-longest batch (q122)
  private val PREFIX_BLOCK = 64L  // doc_id-range width of a prefix-sum block (q109)
  private val RATE_DENOM  = 10000 // rebalance keep-rate granularity (bp)
  private[graft] val SPAN = 6     // span-dedup width (tokens; q77, q85)
  private val PCT_EPOCHS  = 5     // q114 batch-perceptron training epochs
  private val QUALITY_T   = 0.62  // q119 keep threshold on q36's score
  private val N_TILE      = 4     // q124 curriculum stages (quality quartiles)
  private[graft] val SHARD_CAP = 2000L // q127 greedy shard byte cap (chars)
  private val KANON_K     = 5     // q152 k-anonymity threshold
  private val BAL_BUCKET  = 1000.0 // q152 finest quasi-identifier: acctbal band
  private val REL_BINS    = 10    // q153 reliability-diagram score bins
  private val LDIV_L      = 3     // q159 l-diversity threshold
  private val TCLOSE_PPM  = 300000L // q165 t-closeness threshold (t = 0.3)

  private def toks: Column = split(col("text"), " ")

  /** Corpus-wide NTILE(`n`) OVER (ORDER BY `valueCol`, `idCol`) WITHOUT a
    * single-partition window — q109's block decomposition applied to rank:
    * rows rank locally inside their distinct value (window partitioned by
    * the value — fully parallel; within-block order `idCol`, so block +
    * local order IS the global order), per-value counts reduce to a
    * corpus-small offsets relation whose running sum broadcasts back, and
    * the global row number feeds the exact SQL-standard NTILE formula
    * (first total%n buckets get ⌈total/n⌉) in pure integer `div`
    * arithmetic. Adds a `bucket` column (1-based). Requires (valueCol,
    * idCol) to totally order the input (idCol unique). Skew note: one
    * hyper-common value concentrates its block's row_number in one task;
    * at corpus scale widen the block key with a salt and prefix-sum the
    * salted counts the same way. */
  private[graft] def globalNtile(df: DataFrame, valueCol: String,
                                     idCol: String, n: Int): DataFrame = {
    val wLoc = Window.partitionBy(col(valueCol)).orderBy(col(idCol))
    val wOff = Window.orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    // the total derives from the offsets relation (not a third scan of
    // `df`); no eager truncation — callers invoke this up to three times
    // per query (q140), and a synchronous checkpoint job per call
    // measured 50% slower than letting exchange reuse dedupe the subtree
    val offs = df.groupBy(col(valueCol)).agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(sum(col("c")).over(wOff), lit(0L)))
    val tot = offs.agg(sum(col("c")).cast("long").as("total"))
    df.withColumn("lrn", row_number().over(wLoc).cast("long"))
      .join(broadcast(offs.select(col(valueCol), col("off"))), valueCol)
      .crossJoin(broadcast(tot))
      .withColumn("rn", col("off") + col("lrn"))
      .withColumn("bucket", expr(
        s"""CASE WHEN rn <= (total % $n) * (total div $n + 1)
           |THEN (rn + (total div $n)) div (total div $n + 1)
           |ELSE (total % $n)
           |  + (rn - (total % $n) * (total div $n + 1)
           |     + (total div $n) - 1) div (total div $n)
           |END""".stripMargin))
      .drop("lrn", "off", "rn", "total")
  }

  /** Greedy byte-capped shard fill over (group, id, size) rows: within
    * each group, ids fill a file until the next would overflow `cap`,
    * then a new file opens — the sequential recurrence behind q127 (see
    * its scale note). Emits (group, file_idx, id, size). */
  private[graft] def greedyFill(ds: org.apache.spark.sql.Dataset[(String, Long, Long)],
                                    cap: Long): DataFrame = {
    import ds.sparkSession.implicits._
    // normalize column names so the sort key is position-, not
    // caller-name-, bound
    ds.toDF("g", "id", "sz").as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("id")) { (grp, it) =>
        var fileIdx = 0L; var fill = 0L; var first = true
        it.map { case (_, id, nb) =>
          if (!first && fill + nb > cap) { fileIdx += 1; fill = nb }
          else { fill += nb; first = false }
          (grp, fileIdx, id, nb)
        }
      }
      .toDF("source", "file_idx", "doc_id", "nb")
  }

  /** q114/q117's shared training set: label y = ±1 from an EXTERNAL signal
    * (the lang tag — the honest quality-classifier shape: labels don't
    * leak from the features), integer features bias/1, token count,
    * stopword count, distinct-token count. Cached: every training epoch
    * and both consumers re-scan this tiny 4-column long relation (at
    * cluster scale: a materialized table). Cache lifetime is
    * session-owned: repeat calls over the same (s, d) reuse one entry via
    * CacheManager's canonical-plan match, so the footprint is one table
    * per distinct input dir — sessions cycling many dirs should
    * `spark.catalog.clearCache()` between them. */
  private def pctFeatures(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
      lit(1L).as("x0"),
      size(toks).cast("long").as("x1"),
      size(filter(toks, t => t === "a" || t === "the")).cast("long").as("x2"),
      size(array_distinct(toks)).cast("long").as("x3")).cache()

  /** w·x over columns w0..w{nx-1} / x0..x{nx-1}. */
  def perceptronScore(nx: Int): Column =
    (0 until nx).map(j => col(s"w$j") * col(s"x$j")).reduce(_ + _)

  /** Batch-perceptron TRAINING as pure declarative aggregates: each epoch
    * is ONE full-pass partial aggregation of per-row updates (y·x where
    * the current weights misclassify) folded into a 1-row broadcast
    * weight relation — the textbook distributed batch training loop, with
    * no collect() and no driver-side state; swapping the update rule for
    * a sigmoid gradient gives logistic regression on the identical plan
    * shape. Integer features → integer weights → byte-exact across
    * engines and partitionings.
    *
    * `feat` needs BIGINT columns y ∈ {+1,−1} and x0..x{nx-1} (x0 = 1 for
    * the bias); pass it cached — every epoch re-scans it. Each epoch
    * references the previous weights exactly ONCE (the carry is max() of
    * the broadcast constant inside the same aggregate), so the chained
    * plan stays linear in the epoch count. Returns the 1-row w0..w{nx-1}
    * weight relation. */
  def trainPerceptron(feat: DataFrame, nx: Int, epochs: Int): DataFrame =
    trainPerceptronFrom(feat, feat.sparkSession.range(1).select(
      (0 until nx).map(j => lit(0L).as(s"w$j")): _*), nx, epochs)

  /** The (s, d)-corpus quality perceptron q114/q117/q153 all score with:
    * trained once per session per corpus (the epoch fold re-ran inside
    * every consumer's plan otherwise — epochs × full-pass re-aggregation
    * per invocation) and collapsed to a materialized 1-row weight
    * relation through [[Artifacts]], bpeChain's pattern. */
  private def trainedQualityPerceptron(s: SparkSession, d: String): DataFrame =
    Artifacts.get(s, d, "qualityPerceptron") {
      trainPerceptron(pctFeatures(s, d), 4, PCT_EPOCHS).localCheckpoint()
    }

  /** [[trainPerceptron]] seeded with an existing 1-row weight relation —
    * the continuation form the online/mini-batch path builds on: each new
    * slice of data trains `epochs` more epochs on top of the carried
    * weights. */
  def trainPerceptronFrom(feat: DataFrame, start: DataFrame, nx: Int,
                          epochs: Int): DataFrame =
    (1 to epochs).foldLeft(start) { (w, _) =>
      def step(j: Int) =
        (max(col(s"w$j")) + coalesce(sum(when(col("m") <= 0,
          col("y") * col(s"x$j"))), lit(0L))).cast("long").as(s"w$j")
      feat.crossJoin(broadcast(w))
        .withColumn("m", col("y") * perceptronScore(nx))
        .agg(step(0), (1 until nx).map(step): _*)
    }

  /** Deterministic eval-split membership: base32(md5(doc_id)) mod 5 == 0 —
    * the q64 stateless-hash predicate, so the split is identical across
    * engines, retries, and scale factors. q85 decontaminates against this
    * same split. */
  private[graft] def isTest: Column =
    Hashes.base32(col("doc_id").cast("string")) % TEST_MOD === 0
  private[graft] val sqlIsTest =
    s"${Hashes.sqlBase32("doc_id::VARCHAR")} % $TEST_MOD = 0"

  val queries: Map[String, Q] = Map(
    // Train/eval decontamination: fraction of each eval doc's distinct
    // 3-gram shingles that appear anywhere in the train split. The
    // standard n-gram-overlap contamination check run before training —
    // an eval doc whose shingles are mostly covered by train text leaks.
    // Reuses the dedup stack's shingle inverted index (TextPack W=3).
    "q55_decontaminate" -> ((s, d) => {
      val sp = Tables.documents(s, d).select(col("doc_id"), isTest.as("is_test"))
      val shx = TextPack.shingleRows(s, d).join(sp, "doc_id")
      val train = shx.filter(!col("is_test")).select(col("shingle")).distinct()
        .withColumn("hit", lit(1))
      shx.filter(col("is_test"))
        .join(train, Seq("shingle"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_hit"))
        .withColumn("contamination",
          round(col("n_hit").cast("double") / col("n_shingles"), 4))
        .withColumn("flagged", col("contamination") >= CONTAM_T)
        .orderBy(col("doc_id"))
    }),

    // C4-style boilerplate removal: split every doc into consecutive
    // 10-token chunks; a chunk text occurring in ≥2 distinct docs is
    // boilerplate; report per-doc chunk counts and the cleaned token
    // count (tokens surviving boilerplate removal).
    "q56_boilerplate" -> ((s, d) => {
      val chunks = Tables.documents(s, d)
        .select(col("doc_id"), toks.as("t"))
        .select(col("doc_id"),
          explode(sequence(lit(0),
            ((size(col("t")) - 1) / CHUNK).cast("long"))).as("k"),
          col("t"))
        .select(col("doc_id"),
          concat_ws(" ", slice(col("t"), col("k") * CHUNK + 1, lit(CHUNK))).as("chunk"),
          least(size(col("t")) - col("k") * CHUNK, lit(CHUNK)).as("ntok"))
      val boiler = chunks.groupBy(col("chunk"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= BOILER_DF)
        .select(col("chunk"), lit(1).as("boiler"))
      chunks.join(broadcast(boiler), Seq("chunk"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          count(col("boiler")).as("n_boiler"),
          sum(when(col("boiler").isNull, col("ntok")).otherwise(0)).cast("long")
            .as("clean_tokens"))
        .orderBy(col("doc_id"))
    }),

    // Gopher-style repetition filter: per-doc mass of the most frequent
    // token and of duplicated bigrams; a doc dominated by repeats fails.
    // Pure per-document aggregation — no cross-doc state. (A per-row
    // sorted-array run-length fold avoids the explode but was measured 2×
    // slower: HOF folds with struct state allocate a row per element.)
    "q57_repetition_filter" -> ((s, d) =>
      repetitionOf(Tables.documents(s, d)).orderBy(col("doc_id"))),

    // Sequence packing ("concatenate then chunk"): per-source token-stream
    // prefix sums assign every doc its token interval
    // [start_pos, start_pos+n_tokens) and the 128-token training sequences
    // it spans. Per-source = per-shard: the prefix sum never needs a
    // global ordering, only a per-partition window.
    "q58_pack_sequences" -> ((s, d) => {
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"), size(toks).cast("long").as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("start_pos", col("cum") - col("n_tokens"))
        .withColumn("first_seq", (col("start_pos") / SEQ_LEN).cast("long"))
        .withColumn("last_seq", ((col("cum") - 1) / SEQ_LEN).cast("long"))
        .withColumn("n_seqs", col("last_seq") - col("first_seq") + 1)
        .select(col("source"), col("doc_id"), col("n_tokens"), col("start_pos"),
          col("first_seq"), col("last_seq"), col("n_seqs"))
        .orderBy(col("source"), col("doc_id"))
    }),

    // Length-grouped batching audit — q58 packs a token stream; this
    // measures the OTHER batching regime (pad-to-longest dynamic batches,
    // the seq2seq/eval-loader layout): form fixed-size doc batches per
    // source under two policies — arrival order vs length-sorted — pad
    // each batch to its longest member, and report the exact padding
    // waste. The table that justifies (or rejects) a sort stage before
    // batch writing. All-integer (ppm by integer division) → hash-exact.
    // Scale: both policies are per-SOURCE windows (per-shard, parallel —
    // Sequence-length operating curve (the q160 pattern for PACKING): per
    // candidate context length L, what the one-doc-per-sequence policy
    // costs — docs over L (truncated), token mass kept vs padded, and
    // utilization — the table read before committing a context length
    // (against which q58's concat-then-chunk utilization ≈ 1 is the
    // comparison point). All-integer: kept = Σ min(n_tok, L), padded =
    // Σ(L − min(n_tok, L)), util_ppm by integer division. Scale: ONE
    // corpus pass to per-doc token counts, then the |L|-row candidate
    // table broadcasts onto the per-doc relation — a 4× fan-out of a
    // 2-column long relation, partial-aggregated map-side; never one
    // pass per L.
    "q170_packing_curve" -> ((s, d) => {
      val perDoc = Tables.documents(s, d)
        .select(size(toks).cast("long").as("n_tok"))
      val lens = s.createDataFrame(SEQ_LENS.map(Tuple1(_)))
        .toDF("seq_len").select(col("seq_len").cast("long"))
      perDoc.crossJoin(broadcast(lens))
        .withColumn("kept", least(col("n_tok"), col("seq_len")))
        .groupBy(col("seq_len"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("n_tok") > col("seq_len"), 1)).as("n_over"),
          sum(col("kept")).cast("long").as("tokens_kept"),
          sum(col("seq_len") - col("kept")).cast("long").as("tokens_padded"))
        .withColumn("util_ppm",
          expr("(tokens_kept * 1000000) div (n_docs * seq_len)"))
        .orderBy(col("seq_len"))
    }),

    // Quality-threshold operating curve (the q160/q170 pattern for the
    // QUALITY gate): per candidate cutoff t, the docs and token mass a
    // `quality >= t` filter keeps, and their corpus shares — the
    // quantity-vs-quality table read before committing QUALITY_T (the
    // production 0.62 sits inside the sweep). Quality rides q36's 4-dp
    // contract lifted to exact e4 integers (q129's trick) so the
    // boundary compares are byte-identical cross-engine; shares are
    // integer-div ppm. Scale: ONE pass to the per-doc (q_e4, n_tokens)
    // relation, a broadcast |t|-row candidate table fanned onto it
    // (map-side partial agg), and a 1-row totals broadcast.
    "q171_quality_curve" -> ((s, d) => {
      val perDoc = TextPack.qualityCore(s, d)
        .select(col("n_tokens").cast("long").as("n_tok"),
          expr("CAST(round(quality * 10000) AS BIGINT)").as("q_e4"))
        .localCheckpoint()
      val tot = perDoc.agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("n_tokens"))
      val ts = s.createDataFrame(QT_E4S.map(Tuple1(_))).toDF("t_e4")
      perDoc.crossJoin(broadcast(ts))
        .groupBy(col("t_e4"))
        .agg(count(when(col("q_e4") >= col("t_e4"), 1)).as("n_kept"),
          sum(when(col("q_e4") >= col("t_e4"), col("n_tok")).otherwise(0L))
            .cast("long").as("tokens_kept"))
        .crossJoin(broadcast(tot))
        .withColumn("doc_share_ppm", expr("(n_kept * 1000000) div n_docs"))
        .withColumn("token_share_ppm",
          expr("(tokens_kept * 1000000) div n_tokens"))
        .select(col("t_e4"), col("n_kept"), col("tokens_kept"),
          col("doc_share_ppm"), col("token_share_ppm"))
        .orderBy(col("t_e4"))
    }),

    // never a global sort) followed by two tiny re-aggs; the doc relation
    // is scanned once per policy with only (source, n_toks, doc_id)
    // projected.
    "q122_batch_padding" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), size(toks).cast("long").as("n_toks"))
      def policy(name: String, ord: Seq[Column]): DataFrame =
        docs.withColumn("rn",
            row_number().over(Window.partitionBy(col("source")).orderBy(ord: _*)))
          .withColumn("bi", expr(s"(rn - 1) DIV $BATCH_DOCS"))
          .groupBy(col("source"), col("bi"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("toks_b"),
            max(col("n_toks")).as("maxlen"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_batches"),
            sum(col("toks_b")).cast("long").as("tokens"),
            sum(col("n_docs") * col("maxlen")).cast("long").as("padded"))
          .select(col("source"), lit(name).as("strategy"), col("n_batches"),
            col("tokens"), col("padded"),
            expr("((padded - tokens) * 1000000) DIV padded").as("waste_ppm"))
      policy("arrival", Seq(col("doc_id")))
        .unionByName(policy("length_sorted", Seq(col("n_toks"), col("doc_id"))))
        .orderBy(col("source"), col("strategy"))
    }),

    // q58's GLOBAL form: one corpus-wide token stream, one packed layout —
    // the "one concatenated dataset" contract some training stacks require
    // — WITHOUT a single-partition global window. Distributed two-pass
    // prefix sum: docs fall into deterministic doc_id-range blocks; pass 1
    // computes per-block local cumsums (window partitioned by block —
    // fully parallel) and per-block totals (one partial-agg shuffle of
    // |blocks| rows); pass 2 turns block totals into block offsets (a
    // window over the REDUCED |blocks|-row relation — recurse the same
    // trick if even that overflows one task) and broadcasts them back.
    // global_cum = block_offset + local_cum, exactly; no row ever crosses
    // the corpus in sorted order. Block width is a layout knob: pick
    // ~rows-per-task at the target scale.
    "q109_global_prefix_pack" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), size(toks).cast("long").as("n_tokens"),
          (col("doc_id") / PREFIX_BLOCK).cast("long").as("blk"))
      val wLoc = Window.partitionBy(col("blk")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wOff = Window.orderBy(col("blk"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = base.groupBy(col("blk"))
        .agg(sum(col("n_tokens")).as("bsum"))
        .withColumn("off", coalesce(sum(col("bsum")).over(wOff), lit(0L)))
        .select(col("blk"), col("off"))
      base.withColumn("lcum", sum(col("n_tokens")).over(wLoc))
        .join(broadcast(offsets), "blk")
        .withColumn("cum", col("lcum") + col("off"))
        .withColumn("start_pos", col("cum") - col("n_tokens"))
        .withColumn("first_seq", (col("start_pos") / SEQ_LEN).cast("long"))
        .withColumn("last_seq", ((col("cum") - 1) / SEQ_LEN).cast("long"))
        .select(col("doc_id"), col("n_tokens"), col("start_pos"),
          col("first_seq"), col("last_seq"))
        .orderBy(col("doc_id"))
    }),

    // Quality-curriculum staging: bucket the corpus into N_TILE global
    // quality quartiles (easy→hard training order) — a corpus-wide
    // NTILE(ORDER BY quality, doc_id) computed WITHOUT a single-partition
    // window, by the q109 block decomposition: docs rank locally inside
    // their distinct quality value (window partitioned by quality — fully
    // parallel; within-block order doc_id, so block+local order IS the
    // global order), per-quality counts reduce to a corpus-small offsets
    // relation (quality has ≤10⁴ distinct 4-dp values) whose running sum
    // broadcasts back. The global row number off+lrn feeds the exact
    // SQL-standard NTILE formula (first total%n buckets get ⌈total/n⌉) in
    // pure integer `div` arithmetic — bit-identical to the oracle's
    // ntile(). Skew note: one hyper-common quality value concentrates its
    // block's row_number in one task; at corpus scale widen the block key
    // to (quality, salt) and prefix-sum the salted counts the same way.
    "q124_curriculum" -> ((s, d) => {
      val q = TextPack.qualityCore(s, d)
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("quality"))
      globalNtile(q, "quality", "doc_id", N_TILE)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("tot_tokens"),
          min(col("quality")).as("q_min"), max(col("quality")).as("q_max"))
        .orderBy(col("bucket"))
    }),

    // Per-source corpus datacard — the release-notes table a curated
    // corpus ships with: volume, token spread, language share, exact-dup
    // rate, mean quality. Composes the oracle-checked per-doc passes
    // (q30 dedup verdicts, q36 quality) via doc_id equi-joins — with a
    // doc_id-bucketed corpus they co-locate shuffle-free — and collapses
    // to |sources| rows. Quality means stay integer: the 4-dp score is
    // rescaled to exact e4 units per doc, so the sum is addition-order
    // exact and the mean is one integer `div`.
    "q129_datacard" -> ((s, d) => {
      val dup = TextPack.queries("q30_dedup_exact")(s, d)
        .select(col("doc_id"), col("is_dup"))
      val qual = TextPack.qualityCore(s, d)
        .select(col("doc_id"), col("n_tokens").cast("long").as("ntok"),
          expr("CAST(round(quality * 10000) AS BIGINT)").as("q_e4"))
      Tables.documents(s, d).select(col("doc_id"), col("source"), col("lang"))
        .join(dup, "doc_id").join(qual, "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).cast("long").as("tot_tokens"),
          min(col("ntok")).as("min_tokens"), max(col("ntok")).as("max_tokens"),
          count(when(col("lang") === "en", 1)).as("n_en"),
          count(when(col("is_dup"), 1)).as("n_dup"),
          sum(col("q_e4")).cast("long").as("sum_q_e4"))
        .withColumn("dup_rate_bp", expr("(n_dup * 10000) div n_docs"))
        .withColumn("mean_quality_e4", expr("sum_q_e4 div n_docs"))
        .select(col("source"), col("n_docs"), col("tot_tokens"),
          col("min_tokens"), col("max_tokens"), col("n_en"), col("n_dup"),
          col("dup_rate_bp"), col("mean_quality_e4"))
        .orderBy(col("source"))
    }),

    // Greedy byte-capped shard fill — the writer-side layout pass that
    // kills the small-files problem at 100 TB: docs fill an output file
    // until adding the next one would overflow SHARD_CAP, then a new file
    // opens (a SEQUENTIAL recurrence, not expressible as a prefix-sum
    // `div` — q58/q109 are the fixed-boundary approximation). Runs as
    // typed flatMapSortedGroups: each source's docs stream through one
    // task in doc_id order (state = two longs), sources pack in parallel.
    // The oracle states the same recurrence as a recursive CTE. Skew: a
    // single giant source serializes — at corpus scale, greedy-fill
    // doc_id blocks in parallel first, then run THIS pass over the
    // |blocks|-row boundary summaries (the q109 reduction trick).
    "q127_shard_fill" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select(col("source"), col("doc_id"), col("n_chars").cast("long"))
        .as[(String, Long, Long)]
      greedyFill(docs, SHARD_CAP).groupBy(col("source"), col("file_idx"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nb")).cast("long").as("bytes"))
        .withColumn("fill_ppm", expr(s"(bytes * 1000000) div $SHARD_CAP"))
        .orderBy(col("source"), col("file_idx"))
    }),

    // Domain rebalancing: downsample every source to the smallest source's
    // token volume. keep-rate (basis points) = ⌊10000·min_tokens/tokens⌋,
    // membership by the stateless hash predicate — all-integer arithmetic,
    // so the sample is exactly reproducible on any engine or partitioning.
    "q59_domain_rebalance" -> ((s, d) => {
      val perDoc = Tables.documents(s, d)
        .select(col("source"), col("doc_id"), size(toks).cast("long").as("ntok"),
          (Hashes.base32(col("doc_id").cast("string")) % RATE_DENOM).as("bucket"))
      val totals = perDoc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).cast("long").as("tot_tokens"))
      val mn = totals.agg(min(col("tot_tokens")).as("min_tokens"))
      perDoc.join(broadcast(totals), "source")
        .crossJoin(broadcast(mn))
        .withColumn("rate_bp",
          floor(lit(RATE_DENOM) * col("min_tokens") / col("tot_tokens")).cast("long"))
        .groupBy(col("source"), col("n_docs"), col("tot_tokens"), col("rate_bp"))
        .agg(count(when(col("bucket") < col("rate_bp"), 1)).as("n_kept"))
        .orderBy(col("source"))
    }),

    // Cross-corpus span dedup (C4/RefinedWeb line-dedup analogue on
    // whitespace corpora): split every doc into consecutive 6-token spans,
    // keep only the FIRST occurrence of each span text corpus-wide (first =
    // smallest (doc_id, span_idx) — engine-independent), and reassemble each
    // document from its surviving spans in order. Differs from q56: that
    // drops EVERY copy of high-DF chunks; this keeps one canonical copy.
    // Scale: the only wide op is one shuffle clustered on the span — at
    // 100 TB shuffle a 64-bit span hash instead of the text (collision-safe
    // for dedup-keep-first) and the reassembly agg is per-doc (narrow after
    // a doc_id shuffle). No driver-side state anywhere.
    "q77_span_dedup" -> ((s, d) => {
      val spans = Tables.documents(s, d)
        .select(col("doc_id"), toks.as("t"))
        .select(col("doc_id"), col("t"),
          explode(sequence(lit(0),
            ((size(col("t")) - 1) / SPAN).cast("long"))).as("k"))
        .select(col("doc_id"), col("k"),
          concat_ws(" ", slice(col("t"), col("k") * SPAN + 1, lit(SPAN))).as("span"),
          least(size(col("t")) - col("k") * SPAN, lit(SPAN)).as("ntok"))
      val w = Window.partitionBy(col("span")).orderBy(col("doc_id"), col("k"))
      spans.withColumn("kept", row_number().over(w) === 1)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("kept"), 1L).otherwise(0L)).cast("long").as("n_kept"),
          sum(when(col("kept"), col("ntok")).otherwise(0L)).cast("long")
            .as("kept_tokens"),
          // surviving spans, original order; collect_list drops the
          // non-kept NULLs, array_sort orders the (k, span) structs by k
          array_join(transform(
            array_sort(collect_list(when(col("kept"),
              struct(col("k"), col("span"))))),
            x => x.getField("span")), " ").as("new_text"))
        .orderBy(col("doc_id"))
    }),

    // Distributed quality-classifier TRAINING (the FineWeb-Edu/CCNet
    // pattern: learn a cheap linear filter from labels, then score the
    // corpus). A batch perceptron is trained for 5 epochs as pure
    // declarative aggregates: each epoch is ONE full-pass partial
    // aggregation of per-row updates (y·x where the current weights
    // misclassify) joined back into a 1-row broadcast weight relation —
    // the textbook distributed batch training loop, with NO collect() and
    // no driver-side state; swapping the update rule for a sigmoid
    // gradient gives logistic regression on the identical plan shape.
    // Features and weights are integers, so training is byte-exact across
    // engines (the q90/q115 integer-exactness trick); the oracle re-runs
    // all five epochs itself, so a wrong update anywhere cannot hash-match.
    // Scale: epochs are the sequential part (5 scans of a 4-column long
    // relation); each scan partial-aggregates map-side to 4 sums.
    "q114_perceptron" -> ((s, d) => {
      val feat = pctFeatures(s, d)
      val wT = trainedQualityPerceptron(s, d)
      feat.crossJoin(broadcast(wT))
        .select(col("doc_id"), col("y"),
          perceptronScore(4).cast("long").as("score"))
        .withColumn("pred", when(col("score") > 0, 1L).otherwise(-1L))
        .withColumn("correct", col("pred") === col("y"))
        .orderBy(col("doc_id"))
    }),

    // Exact AUC of the q114 classifier WITHOUT a global sort of scores:
    // scores are integers, so the ROC rank statistic collapses to the
    // score HISTOGRAM — one hash aggregation over the corpus — and the
    // rank prefix-sum runs over |distinct scores| rows (the one ordered
    // window in the plan; bounded by the score range, not the corpus).
    // Ties use the standard midpoint convention; everything stays integer
    // (auc doubled, then floor-divided into ppm), so the single output
    // row is byte-exact. This is the evaluation half of the classifier
    // capability: train (q114) → score → AUC against held-out labels.
    "q117_auc" -> ((s, d) => {
      val feat = pctFeatures(s, d)
      val wT = trainedQualityPerceptron(s, d)
      val hist = feat.crossJoin(broadcast(wT))
        .select(col("y"), perceptronScore(4).cast("long").as("s"))
        .groupBy(col("s")).agg(
          sum(when(col("y") === 1, 1L).otherwise(0L)).as("np"),
          sum(when(col("y") === -1, 1L).otherwise(0L)).as("nn"))
      val below = Window.orderBy(col("s"))
        .rowsBetween(Window.unboundedPreceding, -1)
      hist.withColumn("cumn", coalesce(sum(col("nn")).over(below), lit(0L)))
        .agg(
          sum(col("np")).cast("long").as("n_pos"),
          sum(col("nn")).cast("long").as("n_neg"),
          sum(col("np") * (lit(2) * col("cumn") + col("nn")))
            .cast("long").as("numer2"))
        .select(col("n_pos"), col("n_neg"),
          expr("(1000000 * numer2) div (2 * n_pos * n_neg)")
            .cast("long").as("auc_ppm"))
    }),

    // k-anonymity release audit (Sweeney 2002) — the privacy gate a
    // dataset passes before publication: every quasi-identifier
    // equivalence class (nation × market segment × account-balance band)
    // is counted, and classes smaller than k are re-identification
    // risks. The row also carries the class size one generalization step
    // up (the finest identifier dropped), showing whether generalizing
    // repairs the class — the audit that drives a k-anonymization
    // ladder. Scale: two partial aggregations over the same scan; the
    // generalized relation is bounded by the coarse-identifier cross
    // space (|nations| × |segments|) and broadcast back. Output is
    // bounded by the QI cross space, never the table.
    "q152_kanon_audit" -> ((s, d) => {
      val qi = Tables.customer(s, d).select(
        col("c_nationkey").cast("long").as("nation"),
        col("c_mktsegment").as("segment"),
        floor(col("c_acctbal") / BAL_BUCKET).cast("long").as("bal_bucket"))
      val full = qi.groupBy(col("nation"), col("segment"), col("bal_bucket"))
        .agg(count(lit(1)).as("n"))
      val gen = qi.groupBy(col("nation"), col("segment"))
        .agg(count(lit(1)).as("n_gen"))
      full.join(broadcast(gen), Seq("nation", "segment"))
        .select(col("nation"), col("segment"), col("bal_bucket"),
          col("n"), (col("n") < KANON_K).as("at_risk"),
          col("n_gen"), (col("n_gen") < KANON_K).as("at_risk_gen"))
        .orderBy(col("nation"), col("segment"), col("bal_bucket"))
    }),

    // l-diversity audit (Machanavajjhala et al. 2007) — k-anonymity's
    // companion gate: a QI class where every member shares the SAME
    // sensitive value discloses that value even at k ≥ threshold
    // (homogeneity attack). Sensitive attribute here = each customer's
    // dominant order priority (count-desc, priority-asc deterministic
    // argmax — the q134 winner-pick shape); classes with fewer than L
    // distinct dominant priorities are flagged. Scale: the per-customer
    // argmax partial-aggregates on (custkey, priority) then custkey —
    // both orders-table-keyed shuffles; the class rollup is bounded by
    // the QI cross space; customers without orders carry the explicit
    // 'none' value so the class census matches q152's.
    "q159_ldiversity_audit" -> ((s, d) =>
      sensitiveRelation(s, d)
        .groupBy(col("nation"), col("segment"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("sens")).as("l_distinct"))
        .withColumn("at_risk", col("l_distinct") < LDIV_L)
        .orderBy(col("nation"), col("segment"))),

    // t-closeness audit (Li et al. 2007) — the third leg of the privacy
    // release gate (k-anonymity q152 → l-diversity q159 → this): a class
    // can be k-anonymous AND l-diverse yet still disclose — when its
    // sensitive-value DISTRIBUTION skews far from the corpus-wide one
    // (skewness attack). Distance = total variation (the categorical EMD
    // under unit ground distance), exact: TVD·ppm =
    // ⌊10⁶·Σ_v|n_cv·N − N_v·n_c| / (2·n_c·N)⌋ with the cross products in
    // DECIMAL(38,0) (Spark) / HUGEINT (DuckDB), so the audit is
    // byte-identical at any corpus size — no float crosses an
    // aggregation (q146's cleared-denominator discipline). A value
    // ABSENT from a class still contributes its global mass, so the
    // distance runs over the full class × value grid. Scale: margins and
    // the grid are bounded by the attribute domains (|classes|·|values|
    // rows); the only corpus-sized work is q159's per-customer argmax.
    "q165_tcloseness_audit" -> ((s, d) => {
      val sr = sensitiveRelation(s, d)
      val cv = sr.groupBy(col("nation"), col("segment"), col("sens"))
        .agg(count(lit(1)).as("n_cv"))
      val cls = cv.groupBy(col("nation"), col("segment"))
        .agg(sum(col("n_cv")).cast("long").as("n_c"))
      val gv = cv.groupBy(col("sens"))
        .agg(sum(col("n_cv")).cast("long").as("n_v"))
      val tot = gv.agg(sum(col("n_v")).cast("long").as("n_t"))
      val grid = cls.crossJoin(broadcast(gv))
        .join(cv, Seq("nation", "segment", "sens"), "left")
        .withColumn("n_cv", coalesce(col("n_cv"), lit(0L)))
      grid.crossJoin(broadcast(tot))
        .withColumn("term", abs(
          col("n_cv").cast("decimal(38,0)") * col("n_t").cast("decimal(38,0)")
            - col("n_v").cast("decimal(38,0)") * col("n_c").cast("decimal(38,0)")))
        .groupBy(col("nation"), col("segment"), col("n_c"), col("n_t"))
        .agg(sum(col("term")).as("tvd_num"))
        .withColumn("tvd_ppm", expr(
          "CAST((1000000 * tvd_num) div (2 * CAST(n_c AS DECIMAL(38,0))" +
            " * CAST(n_t AS DECIMAL(38,0))) AS BIGINT)"))
        .withColumn("at_risk", col("tvd_ppm") > TCLOSE_PPM)
        .select(col("nation"), col("segment"), col("n_c").as("n"),
          col("tvd_ppm"), col("at_risk"))
        .orderBy(col("nation"), col("segment"))
    }),

    // Classifier reliability diagram — the calibration half of the
    // eval suite (train q114 → AUC q117 → calibration here): the score
    // axis is cut into equal-width bins and each bin reports volume,
    // positive rate, and the exact score mass, the table a reliability
    // curve / ECE computation reads off. Integer-exact end-to-end via
    // q117's histogram trick: scores are integers, so binning runs over
    // the |distinct scores| histogram (never re-sorting the corpus), the
    // bin index is one integer floor-division against the broadcast
    // 1-row (min, max) range, and the per-bin mean ships as the exact
    // (sum_score, n) pair — no division whose truncation could differ
    // across engines on negative sums. Scale: one corpus scan
    // (map-side partial agg to the score histogram); everything after is
    // histogram-sized.
    "q153_reliability" -> ((s, d) => {
      val feat = pctFeatures(s, d)
      val wT = trainedQualityPerceptron(s, d)
      val hist = feat.crossJoin(broadcast(wT))
        .select(col("y"), perceptronScore(4).cast("long").as("s"))
        .groupBy(col("s")).agg(count(lit(1)).as("n"),
          sum(when(col("y") === 1, 1L).otherwise(0L)).as("np"))
      val rng = hist.agg(min(col("s")).as("s_min"), max(col("s")).as("s_max"))
      hist.crossJoin(broadcast(rng))
        .withColumn("bin",
          expr(s"((s - s_min) * $REL_BINS) div (s_max - s_min + 1)")
            .cast("long"))
        .groupBy(col("bin"))
        .agg(sum(col("n")).cast("long").as("n"),
          sum(col("np")).cast("long").as("n_pos"),
          sum(col("s") * col("n")).cast("long").as("sum_score"),
          min(col("s")).as("s_lo"), max(col("s")).as("s_hi"))
        .withColumn("pos_rate_ppm",
          expr("(1000000 * n_pos) div n").cast("long"))
        .orderBy(col("bin"))
    }),

    // Per-document curation VERDICT — the capstone table every pipeline
    // materializes before shard writing: one keep/drop decision per doc
    // with the first-failing reason under C4's filter precedence
    // (language → exact dedup → repetition heuristics → quality score).
    // Built by COMPOSING the existing oracle-checked per-doc passes (q30,
    // q57, q36) through doc_id equi-joins; the oracle embeds those
    // queries' own oracle SQL as sub-CTEs, so the verdict is checked
    // end-to-end through the same composition. Scale: three doc_id-keyed
    // joins over per-doc relations — with all passes written over a
    // doc_id-bucketed corpus table they co-locate shuffle-free.
    // Fused single-scan form (§optimization r11): the q36 quality and
    // q57 bigram measures are pure per-doc MAPS sharing one token
    // projection, and q30's fingerprint is a per-doc hash — so ONE
    // documents scan carries lang + fp + quality + dup_bigram_ratio, the
    // exact-dup flag is the fp-window over that same scan, and only
    // max_tok (genuinely needing the token explode) joins in. Same
    // composed values by construction — the shared column expressions
    // ARE q36's/q57's (TextPack.qualityExprs, dupBigramRatioExpr) — and
    // the oracle still re-derives the verdict from the composed passes'
    // own SQL. 3 corpus passes + 3 doc_id joins → 2 passes + 1 join.
    "q119_curation_verdict" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), md5(col("text")).as("fp"), toks.as("t"))
        .select(col("doc_id"), col("lang"), col("fp"), col("t"),
          bigramsExpr(col("t")).as("bg"))
        .select(Seq(col("doc_id"), col("lang"), col("fp"),
          dupBigramRatioOf(col("bg")).as("dup_bigram_ratio"))
          ++ TextPack.qualityExprs(col("t")): _*)
        .withColumn("is_dup", col("doc_id") =!=
          min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      val maxTok = Tables.documents(s, d)
        .select(col("doc_id"), explode(toks).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("max_tok"))
      base.join(maxTok, "doc_id")
        .withColumn("rep_kept",
          round(col("max_tok").cast("double") / col("n_tokens"), 4) <= TOP_TOK_T
            && col("dup_bigram_ratio") <= DUP_BG_T)
        .withColumn("reason", c4Reason(col("lang"), col("is_dup"),
          col("rep_kept"), col("quality")))
        .withColumn("keep", col("reason") === "keep")
        .select(col("doc_id"), col("reason"), col("keep"))
        .orderBy(col("doc_id"))
    }),

    // Annotation-label aggregation — the preference/RLHF-data pass that
    // collapses raw rater events into one adjudicated label per item plus
    // an inter-annotator agreement score. Items are the `k` prop; each
    // event is one rating (annotator = user_id, label = event_type).
    // Winner = highest count, ties broken lexicographically smallest;
    // per-item agreement is Fleiss' observed P_o = Σc(c−1)/(n(n−1)) in
    // exact ppm via floor division, so the whole table is byte-exact.
    // Scale: two partial-agg shuffles — (item, label) then item — plus a
    // WindowGroupLimit'd rank for the winner; the label alphabet is tiny
    // so every group above the first agg is a handful of rows.
    "q134_label_vote" -> ((s, d) => {
      val cl = ratingCounts(s, d)
      val per = cl.groupBy(col("item_id")).agg(
        sum(col("c")).cast("long").as("n_ratings"),
        count(lit(1)).as("n_labels"),
        sum(col("c") * (col("c") - 1)).cast("long").as("agree_num"))
      per.join(topLabelOf(cl), "item_id")
        .filter(col("n_ratings") >= 2)
        .withColumn("agreement_ppm",
          expr("(1000000 * agree_num) div (n_ratings * (n_ratings - 1))")
            .cast("long"))
        .select(col("item_id"), col("n_ratings"), col("n_labels"),
          col("top_label"), col("top_count"), col("agreement_ppm"))
        .orderBy(col("item_id"))
    }),

    // Corpus-level Fleiss' kappa — the one-number chance-corrected
    // agreement a labeling campaign is judged by. All-integer: P_o is the
    // floor-mean of q134's per-item agreement_ppm; P_e is Σ_l C_l² scaled
    // to ppm of N² (label totals over qualifying items). Kappa is emitted
    // as the exact integer pair (kappa_num = po−pe, kappa_den = 1e6−pe)
    // rather than a ratio: subtraction is engine-exact while FLOOR
    // division of a possibly-negative numerator is not (Spark `div`
    // truncates toward zero, DuckDB `//` floors). Scale: everything after
    // the (item, label) count is label-alphabet-sized or single-row; at
    // corpus scale the Σ C_l² term moves to DECIMAL(38) before squaring.
    "q136_fleiss_kappa" -> ((s, d) => fleissScorecard(ratingCounts(s, d))),

    // Per-rater quality — the campaign-management companion to q134/q136:
    // each rater scored by agreement with the adjudicated majority label,
    // over the same qualifying items (n_ratings ≥ 2) the campaign is
    // judged on. This is the table that decides rater weighting and
    // re-training. Accuracy ships in exact ppm (positive floor division —
    // engine-exact). Scale: the item→winner relation is item-count-sized
    // and joins the ratings stream on item_id — both sides key on item_id
    // so the shuffles co-partition; the winner rank is a WindowGroupLimit
    // heap over tiny per-item label groups; the final agg is per-rater.
    "q141_rater_quality" -> ((s, d) => {
      val ratings = Tables.events(s, d).select(
        regexp_extract(col("props"), "(\\d+)", 1).cast("long").as("item_id"),
        col("user_id").as("rater"), col("event_type").as("label"))
      // pin the count relation: `top` and `qual` both derive from it, and
      // without the checkpoint each re-derives (and re-scans) the corpus
      val cl = ratingCounts(s, d).localCheckpoint()
      val qual = cl.groupBy(col("item_id"))
        .agg(sum(col("c")).cast("long").as("n"))
        .filter(col("n") >= 2)
        .join(topLabelOf(cl), "item_id")
        .select(col("item_id"), col("top_label"))
      ratings.join(qual, "item_id")
        .groupBy(col("rater"))
        .agg(count(lit(1)).as("n_ratings"),
          sum(when(col("label") === col("top_label"), 1L).otherwise(0L))
            .cast("long").as("n_agree"))
        .withColumn("accuracy_ppm",
          expr("(1000000 * n_agree) div n_ratings").cast("long"))
        .orderBy(col("rater"))
    })
  )

  /** (item_id, label, c) rating counts shared by q134/q136: one event =
    * one rating of item `k` (from props) with label = event_type. */
  /** q57's body over an arbitrary documents frame — a pure per-document
    * aggregation (no cross-doc state), shared verbatim by the streaming
    * curation verdict ([[graft.streaming.CurateStream]]): an arriving
    * doc's repetition stats are byte-identical to its batch ones. */
  /** q57's duplicated-bigram measures as COLUMN expressions over a
    * pre-projected token-array column (t must be a plain attribute: HOFs
    * are CodegenFallback, so an inlined `toks` would re-split the doc per
    * element, O(n²)) — shared verbatim by [[repetitionOf]] and q119's
    * fused single-scan verdict. A single-token doc has no bigrams: its
    * duplicated-bigram mass is 0 by definition (not NULL/÷0). */
  /** The bigram array itself — materialize it as a COLUMN before feeding
    * [[dupBigramRatioOf]]: HOF transforms are CodegenFallback and not
    * CSE'd, so inlining this expression into the three ratio references
    * would rebuild the array up to 3× per row. */
  private[graft] def bigramsExpr(t: Column): Column =
    when(size(t) >= 2,
      transform(sequence(lit(1), size(t) - 1),
        i => concat_ws(" ", slice(t, i, lit(2)))))
      .otherwise(array().cast("array<string>"))

  /** Duplicated-bigram mass over a pre-materialized bigram-array column. */
  private[graft] def dupBigramRatioOf(bg: Column): Column = {
    val n = size(bg).cast("long")
    val dn = size(array_distinct(bg)).cast("long")
    when(n === 0, 0.0)
      .otherwise(round(lit(1.0) - dn.cast("double") / n, 4))
  }

  private[graft] def repetitionOf(docs: DataFrame): DataFrame = {
    val tc = docs
      .select(col("doc_id"), explode(toks).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_tokens"), max(col("c")).as("max_tok"))
    val bc = docs
      .select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"), bigramsExpr(col("t")).as("bg"))
      .select(col("doc_id"), dupBigramRatioOf(col("bg")).as("dup_bigram_ratio"))
    tc.join(bc, "doc_id")
      .withColumn("top_tok_ratio",
        round(col("max_tok").cast("double") / col("n_tokens"), 4))
      .withColumn("kept",
        col("top_tok_ratio") <= TOP_TOK_T && col("dup_bigram_ratio") <= DUP_BG_T)
      .select(col("doc_id"), col("n_tokens"), col("max_tok"),
        col("top_tok_ratio"), col("dup_bigram_ratio"), col("kept"))
  }

  /** q119's C4 filter precedence as a column expression (language →
    * exact dedup → repetition → quality, first-failing reason) — the ONE
    * place the precedence lives, shared by the batch verdict and the
    * streaming [[graft.streaming.CurateStream]]. */
  private[graft] def c4Reason(lang: Column, isDup: Column, repKept: Column,
                              quality: Column): Column =
    when(lang =!= "en", "non_en")
      .when(isDup, "exact_dup")
      .when(!repKept, "repetitive")
      .when(quality < QUALITY_T, "low_quality")
      .otherwise("keep")

  /** Per-customer QI class + sensitive value (dominant order priority by
    * the q134 deterministic argmax; 'none' when the customer has no
    * orders) — the shared base of the q159/q165 release gates. Scale:
    * the argmax partial-aggregates on (custkey, priority) then a
    * WindowGroupLimit'd pick; everything downstream of this relation is
    * bounded by the QI/value attribute domains. */
  private def sensitiveRelation(s: SparkSession, d: String): DataFrame = {
    val pr = Tables.orders(s, d)
      .groupBy(col("o_custkey"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
    val wPick = Window.partitionBy(col("o_custkey"))
      .orderBy(col("n").desc, col("o_orderpriority"))
    val dom = pr.withColumn("rk", row_number().over(wPick))
      .filter(col("rk") === 1)
      .select(col("o_custkey"), col("o_orderpriority").as("dominant"))
    Tables.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey").cast("long").as("nation"),
        col("c_mktsegment").as("segment"))
      .join(dom, col("c_custkey") === col("o_custkey"), "left")
      .withColumn("sens", coalesce(col("dominant"), lit("none")))
      .select(col("nation"), col("segment"), col("sens"))
  }

  private def ratingCounts(s: SparkSession, d: String): DataFrame =
    ratingCountsOf(Tables.events(s, d))

  /** [[ratingCounts]] over an arbitrary (possibly micro-batch) events
    * frame — the delta extraction the streaming LabelQualityJob folds. */
  def ratingCountsOf(events: DataFrame): DataFrame =
    events
      .select(regexp_extract(col("props"), "(\\d+)", 1).cast("long")
          .as("item_id"),
        col("event_type").as("label"))
      .groupBy(col("item_id"), col("label")).agg(count(lit(1)).as("c"))

  /** q136's exact-integer Fleiss scorecard over a (item_id, label, c)
    * count relation — one row: (n_items, n_ratings, po_ppm, pe_ppm,
    * kappa_num, kappa_den). Shared by the batch query and the streaming
    * campaign monitor so their outputs are byte-comparable. */
  def fleissScorecard(cl: DataFrame): DataFrame = {
    val perItem = cl.groupBy(col("item_id")).agg(
        sum(col("c")).cast("long").as("n"),
        sum(col("c") * (col("c") - 1)).cast("long").as("agree_num"))
      .filter(col("n") >= 2)
      .withColumn("po_i",
        expr("(1000000 * agree_num) div (n * (n - 1))"))
    val labelTot = cl.join(perItem.select(col("item_id")), "item_id")
      .groupBy(col("label")).agg(sum(col("c")).cast("long").as("cl"))
    val a1 = perItem.agg(
      count(lit(1)).cast("long").as("n_items"),
      sum(col("n")).cast("long").as("n_ratings"),
      expr("sum(po_i) div count(1)").cast("long").as("po_ppm"))
    val a2 = labelTot.agg(
      expr("(1000000 * sum(cl * cl)) div (sum(cl) * sum(cl))")
        .cast("long").as("pe_ppm"))
    a1.crossJoin(broadcast(a2))
      .select(col("n_items"), col("n_ratings"), col("po_ppm"),
        col("pe_ppm"),
        (col("po_ppm") - col("pe_ppm")).as("kappa_num"),
        (lit(1000000L) - col("pe_ppm")).as("kappa_den"))
  }

  private val sqlRatingCounts: String =
    """SELECT CAST(regexp_extract(props, '(\d+)', 1) AS BIGINT) AS item_id,
      |       event_type AS label, count(*)::BIGINT AS c
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Adjudicated winner per item over the (item_id, label, c) counts —
    * count desc, label asc. The ONE place the adjudication policy lives
    * (q134's winner and q141's rater scoring share it). */
  private def topLabelOf(cl: DataFrame): DataFrame =
    cl.withColumn("rn", row_number().over(
        Window.partitionBy(col("item_id"))
          .orderBy(col("c").desc, col("label"))))
      .filter(col("rn") === 1)
      .select(col("item_id"), col("label").as("top_label"),
        col("c").as("top_count"))

  /** SQL twin of [[topLabelOf]] — expects a CTE named `cl` in scope. */
  private val sqlTopLabel: String =
    """SELECT item_id, label AS top_label, c AS top_count FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY item_id ORDER BY c DESC, label) AS rn
      |    FROM cl)
      |  WHERE rn = 1""".stripMargin

  val oracle: Map[String, String] = Map(
    "q152_kanon_audit" ->
      s"""WITH qi AS (
         |  SELECT c_nationkey::BIGINT AS nation, c_mktsegment AS segment,
         |    floor(c_acctbal / $BAL_BUCKET)::BIGINT AS bal_bucket
         |  FROM customer
         |), f AS (
         |  SELECT nation, segment, bal_bucket, count(*)::BIGINT AS n
         |  FROM qi GROUP BY nation, segment, bal_bucket
         |), g AS (
         |  SELECT nation, segment, count(*)::BIGINT AS n_gen
         |  FROM qi GROUP BY nation, segment
         |)
         |SELECT nation, segment, bal_bucket, n, n < $KANON_K AS at_risk,
         |  n_gen, n_gen < $KANON_K AS at_risk_gen
         |FROM f JOIN g USING (nation, segment)
         |ORDER BY nation, segment, bal_bucket""".stripMargin,

    "q159_ldiversity_audit" ->
      s"""WITH pr AS (
         |  SELECT o_custkey, o_orderpriority, count(*) AS n
         |  FROM orders GROUP BY 1, 2
         |), dom AS (
         |  SELECT o_custkey, o_orderpriority AS dominant
         |  FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
         |          ORDER BY n DESC, o_orderpriority) AS rk FROM pr)
         |  WHERE rk = 1
         |)
         |SELECT c_nationkey::BIGINT AS nation, c_mktsegment AS segment,
         |  count(*)::BIGINT AS n,
         |  count(DISTINCT coalesce(dominant, 'none'))::BIGINT AS l_distinct,
         |  count(DISTINCT coalesce(dominant, 'none')) < $LDIV_L AS at_risk
         |FROM customer LEFT JOIN dom ON c_custkey = o_custkey
         |GROUP BY 1, 2
         |ORDER BY nation, segment""".stripMargin,

    // Cross products in HUGEINT (Spark side: DECIMAL(38,0)) so the exact
    // TVD numerator can never overflow at scale; integer // floors the
    // non-negative ppm identically on both engines.
    "q165_tcloseness_audit" ->
      s"""WITH pr AS (
         |  SELECT o_custkey, o_orderpriority, count(*) AS n
         |  FROM orders GROUP BY 1, 2
         |), dom AS (
         |  SELECT o_custkey, o_orderpriority AS dominant
         |  FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
         |          ORDER BY n DESC, o_orderpriority) AS rk FROM pr)
         |  WHERE rk = 1
         |), sr AS (
         |  SELECT c_nationkey::BIGINT AS nation, c_mktsegment AS segment,
         |    coalesce(dominant, 'none') AS sens
         |  FROM customer LEFT JOIN dom ON c_custkey = o_custkey
         |), cv AS (
         |  SELECT nation, segment, sens, count(*)::BIGINT AS n_cv
         |  FROM sr GROUP BY 1, 2, 3
         |), cls AS (
         |  SELECT nation, segment, sum(n_cv)::BIGINT AS n_c
         |  FROM cv GROUP BY 1, 2
         |), gv AS (
         |  SELECT sens, sum(n_cv)::BIGINT AS n_v FROM cv GROUP BY 1
         |), tot AS (
         |  SELECT sum(n_v)::BIGINT AS n_t FROM gv
         |), grid AS (
         |  SELECT cls.nation, cls.segment, gv.sens, cls.n_c, gv.n_v,
         |    coalesce(cv.n_cv, 0)::BIGINT AS n_cv
         |  FROM cls CROSS JOIN gv
         |  LEFT JOIN cv ON cv.nation = cls.nation
         |    AND cv.segment = cls.segment AND cv.sens = gv.sens
         |), num AS (
         |  SELECT nation, segment, n_c,
         |    sum(abs(n_cv::HUGEINT * (SELECT n_t FROM tot)::HUGEINT
         |            - n_v::HUGEINT * n_c::HUGEINT)) AS tvd_num
         |  FROM grid GROUP BY 1, 2, 3
         |), scored AS (
         |  SELECT nation, segment, n_c,
         |    ((1000000::HUGEINT * tvd_num)
         |       // (2::HUGEINT * n_c::HUGEINT
         |          * (SELECT n_t FROM tot)::HUGEINT))::BIGINT AS tvd_ppm
         |  FROM num
         |)
         |SELECT nation, segment, n_c AS n, tvd_ppm,
         |  tvd_ppm > $TCLOSE_PPM AS at_risk
         |FROM scored ORDER BY nation, segment""".stripMargin,

    "q153_reliability" ->
      s"""WITH $pctSqlChain,
         |hist AS (
         |  SELECT s, count(*)::BIGINT AS n,
         |    count(*) FILTER (y = 1)::BIGINT AS np
         |  FROM (SELECT y, ($pctSqlScore)::BIGINT AS s FROM feat)
         |  GROUP BY s
         |), rng AS (
         |  SELECT min(s) AS s_min, max(s) AS s_max FROM hist
         |), b AS (
         |  SELECT ((s - s_min) * $REL_BINS // (s_max - s_min + 1))::BIGINT
         |      AS bin, n, np, s
         |  FROM hist CROSS JOIN rng
         |)
         |SELECT bin, sum(n)::BIGINT AS n, sum(np)::BIGINT AS n_pos,
         |  sum(s * n)::BIGINT AS sum_score,
         |  min(s)::BIGINT AS s_lo, max(s)::BIGINT AS s_hi,
         |  (1000000 * sum(np) // sum(n))::BIGINT AS pos_rate_ppm
         |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    "q55_decontaminate" ->
      s"""WITH shx AS (
         |  ${TextPack.sqlShingleRows}
         |), sp AS (
         |  SELECT doc_id, $sqlIsTest AS is_test FROM documents
         |), tagged AS (
         |  SELECT shx.doc_id, shingle, is_test FROM shx JOIN sp USING (doc_id)
         |), tr AS (
         |  SELECT DISTINCT shingle FROM tagged WHERE NOT is_test
         |), sc AS (
         |  SELECT te.doc_id, count(*) AS n_shingles, count(tr.shingle) AS n_hit
         |  FROM (SELECT doc_id, shingle FROM tagged WHERE is_test) te
         |  LEFT JOIN tr ON te.shingle = tr.shingle
         |  GROUP BY te.doc_id
         |)
         |SELECT doc_id, n_shingles, n_hit,
         |  ${Hashes.sqlRound("n_hit::DOUBLE / n_shingles", 4)} AS contamination,
         |  ${Hashes.sqlRound("n_hit::DOUBLE / n_shingles", 4)} >= $CONTAM_T AS flagged
         |FROM sc ORDER BY doc_id""".stripMargin,

    "q56_boilerplate" ->
      s"""WITH ch AS (
         |  SELECT doc_id,
         |    array_to_string(t[k*$CHUNK+1 : k*$CHUNK+$CHUNK], ' ') AS chunk,
         |    least(len(t) - k*$CHUNK, $CHUNK) AS ntok
         |  FROM (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
         |       LATERAL unnest(range(0, (len(t)-1)//$CHUNK + 1)) AS u(k)
         |), boiler AS (
         |  SELECT chunk FROM (
         |    SELECT chunk, count(DISTINCT doc_id) AS df FROM ch GROUP BY chunk
         |  ) WHERE df >= $BOILER_DF
         |)
         |SELECT doc_id, count(*) AS n_chunks, count(b.chunk) AS n_boiler,
         |  sum(CASE WHEN b.chunk IS NULL THEN ntok ELSE 0 END)::BIGINT AS clean_tokens
         |FROM ch LEFT JOIN boiler b USING (chunk)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q57_repetition_filter" -> sqlQ57,

    "q58_pack_sequences" ->
      s"""SELECT source, doc_id, n_tokens, start_pos,
         |  start_pos // $SEQ_LEN AS first_seq,
         |  (cum - 1) // $SEQ_LEN AS last_seq,
         |  (cum - 1) // $SEQ_LEN - start_pos // $SEQ_LEN + 1 AS n_seqs
         |FROM (
         |  SELECT source, doc_id, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
         |    (sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) - n_tokens)::BIGINT AS start_pos
         |  FROM (SELECT source, doc_id, len(str_split(text, ' '))::BIGINT AS n_tokens
         |        FROM documents)
         |) ORDER BY source, doc_id""".stripMargin,

    // The oracle states the SPEC (one global ordered cumsum); the Spark
    // plan reaches the same rows via the two-pass block decomposition.
    "q109_global_prefix_pack" ->
      s"""WITH base AS (
         |  SELECT doc_id, len(str_split(text, ' '))::BIGINT AS n_tokens
         |  FROM documents
         |)
         |SELECT doc_id, n_tokens,
         |  (sum(n_tokens) OVER w - n_tokens)::BIGINT AS start_pos,
         |  ((sum(n_tokens) OVER w - n_tokens) // $SEQ_LEN)::BIGINT AS first_seq,
         |  ((sum(n_tokens) OVER w - 1) // $SEQ_LEN)::BIGINT AS last_seq
         |FROM base
         |WINDOW w AS (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
         |ORDER BY doc_id""".stripMargin,

    // Composes q30's and q36's own oracle SQL as sub-CTEs, so the datacard
    // is re-derived end-to-end on the oracle side too (q119's pattern).
    "q129_datacard" ->
      s"""WITH v30 AS (
         |  ${TextPack.oracle("q30_dedup_exact")}
         |), vq AS (
         |  ${TextPack.oracle("q36_quality_score")}
         |)
         |SELECT d.source, count(*)::BIGINT AS n_docs,
         |  sum(vq.n_tokens)::BIGINT AS tot_tokens,
         |  min(vq.n_tokens)::BIGINT AS min_tokens,
         |  max(vq.n_tokens)::BIGINT AS max_tokens,
         |  count(CASE WHEN d.lang = 'en' THEN 1 END)::BIGINT AS n_en,
         |  count(CASE WHEN v30.is_dup THEN 1 END)::BIGINT AS n_dup,
         |  (count(CASE WHEN v30.is_dup THEN 1 END) * 10000
         |     // count(*))::BIGINT AS dup_rate_bp,
         |  (sum(round(vq.quality * 10000)::BIGINT)
         |     // count(*))::BIGINT AS mean_quality_e4
         |FROM documents d
         |JOIN v30 ON d.doc_id = v30.doc_id
         |JOIN vq ON d.doc_id = vq.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin,

    // The oracle states the greedy recurrence directly as a recursive CTE
    // (one row per doc per step, recursing down each source's doc order).
    "q127_shard_fill" ->
      s"""WITH RECURSIVE docs AS (
         |  SELECT source, doc_id, n_chars::BIGINT AS nb,
         |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
         |  FROM documents
         |), r AS (
         |  SELECT source, rn, nb, 0::BIGINT AS file_idx, nb AS fill
         |  FROM docs WHERE rn = 1
         |  UNION ALL
         |  SELECT d.source, d.rn, d.nb,
         |    CASE WHEN r.fill + d.nb > $SHARD_CAP
         |         THEN r.file_idx + 1 ELSE r.file_idx END,
         |    CASE WHEN r.fill + d.nb > $SHARD_CAP
         |         THEN d.nb ELSE r.fill + d.nb END
         |  FROM r JOIN docs d ON d.source = r.source AND d.rn = r.rn + 1
         |)
         |SELECT source, file_idx, count(*)::BIGINT AS n_docs,
         |  sum(nb)::BIGINT AS bytes,
         |  (sum(nb) * 1000000 // $SHARD_CAP)::BIGINT AS fill_ppm
         |FROM r GROUP BY source, file_idx
         |ORDER BY source, file_idx""".stripMargin,

    // The oracle states the SPEC (one global ntile); the Spark plan
    // reaches the same buckets via the blocked rank + integer formula.
    "q124_curriculum" ->
      s"""WITH q AS (
         |  ${TextPack.oracle("q36_quality_score")}
         |), r AS (
         |  SELECT n_tokens::BIGINT AS n_tokens, quality,
         |    ntile($N_TILE) OVER (ORDER BY quality, doc_id) AS bucket
         |  FROM q
         |)
         |SELECT bucket::BIGINT AS bucket, count(*)::BIGINT AS n_docs,
         |  sum(n_tokens)::BIGINT AS tot_tokens,
         |  min(quality) AS q_min, max(quality) AS q_max
         |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q170_packing_curve" -> {
      val lens = SEQ_LENS.mkString("[", ",", "]")
      s"""WITH lens AS (
         |  SELECT unnest($lens)::BIGINT AS seq_len
         |), pd AS (
         |  SELECT len(str_split(text, ' '))::BIGINT AS n_tok FROM documents
         |)
         |SELECT seq_len, count(*)::BIGINT AS n_docs,
         |  count(CASE WHEN n_tok > seq_len THEN 1 END)::BIGINT AS n_over,
         |  sum(least(n_tok, seq_len))::BIGINT AS tokens_kept,
         |  sum(seq_len - least(n_tok, seq_len))::BIGINT AS tokens_padded,
         |  ((sum(least(n_tok, seq_len)) * 1000000)
         |     // (count(*) * seq_len))::BIGINT AS util_ppm
         |FROM pd CROSS JOIN lens
         |GROUP BY seq_len ORDER BY seq_len""".stripMargin
    },

    "q171_quality_curve" -> {
      val ts = QT_E4S.mkString("[", ",", "]")
      s"""WITH q AS (
         |  ${TextPack.oracle("q36_quality_score")}
         |), pd AS (
         |  SELECT n_tokens::BIGINT AS n_tok,
         |    round(quality * 10000)::BIGINT AS q_e4
         |  FROM q
         |), ts AS (
         |  SELECT unnest($ts)::BIGINT AS t_e4
         |), tot AS (
         |  SELECT count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS n_tokens
         |  FROM pd
         |)
         |SELECT t_e4,
         |  count(CASE WHEN q_e4 >= t_e4 THEN 1 END)::BIGINT AS n_kept,
         |  sum(CASE WHEN q_e4 >= t_e4 THEN n_tok ELSE 0 END)::BIGINT
         |    AS tokens_kept,
         |  ((count(CASE WHEN q_e4 >= t_e4 THEN 1 END) * 1000000)
         |     // (SELECT n_docs FROM tot))::BIGINT AS doc_share_ppm,
         |  ((sum(CASE WHEN q_e4 >= t_e4 THEN n_tok ELSE 0 END) * 1000000)
         |     // (SELECT n_tokens FROM tot))::BIGINT AS token_share_ppm
         |FROM pd CROSS JOIN ts
         |GROUP BY t_e4 ORDER BY t_e4""".stripMargin
    },

    "q122_batch_padding" -> {
      def policySql(name: String, ord: String) =
        s"""  SELECT source, '$name' AS strategy, count(*)::BIGINT AS n_batches,
           |    sum(toks_b)::BIGINT AS tokens,
           |    sum(n_docs * maxlen)::BIGINT AS padded
           |  FROM (
           |    SELECT source, bi, count(*)::BIGINT AS n_docs,
           |      sum(n_toks)::BIGINT AS toks_b, max(n_toks) AS maxlen
           |    FROM (
           |      SELECT source, n_toks,
           |        ((row_number() OVER (PARTITION BY source ORDER BY $ord) - 1)
           |          // $BATCH_DOCS) AS bi
           |      FROM docs)
           |    GROUP BY source, bi)
           |  GROUP BY source""".stripMargin
      s"""WITH docs AS (
         |  SELECT doc_id, source, len(str_split(text, ' '))::BIGINT AS n_toks
         |  FROM documents
         |), arrival AS (
         |${policySql("arrival", "doc_id")}
         |), srt AS (
         |${policySql("length_sorted", "n_toks, doc_id")}
         |)
         |SELECT source, strategy, n_batches, tokens, padded,
         |  ((padded - tokens) * 1000000 // padded)::BIGINT AS waste_ppm
         |FROM (SELECT * FROM arrival UNION ALL SELECT * FROM srt)
         |ORDER BY source, strategy""".stripMargin
    },

    "q59_domain_rebalance" ->
      s"""WITH perdoc AS (
         |  SELECT source, doc_id, len(str_split(text, ' '))::BIGINT AS ntok,
         |    ${Hashes.sqlBase32("doc_id::VARCHAR")} % $RATE_DENOM AS bucket
         |  FROM documents
         |), totals AS (
         |  SELECT source, count(*) AS n_docs, sum(ntok)::BIGINT AS tot_tokens
         |  FROM perdoc GROUP BY source
         |), mn AS (SELECT min(tot_tokens) AS min_tokens FROM totals)
         |SELECT source, n_docs, tot_tokens,
         |  ($RATE_DENOM * min_tokens) // tot_tokens AS rate_bp,
         |  count(CASE WHEN bucket < ($RATE_DENOM * min_tokens) // tot_tokens
         |    THEN 1 END) AS n_kept
         |FROM perdoc JOIN totals USING (source) CROSS JOIN mn
         |GROUP BY source, n_docs, tot_tokens, min_tokens
         |ORDER BY source""".stripMargin,

    "q77_span_dedup" ->
      s"""WITH sp AS (
         |  SELECT doc_id, k,
         |    array_to_string(t[k*$SPAN+1 : k*$SPAN+$SPAN], ' ') AS span,
         |    least(len(t) - k*$SPAN, $SPAN) AS ntok
         |  FROM (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
         |       LATERAL unnest(range(0, (len(t)-1)//$SPAN + 1)) AS u(k)
         |), r AS (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY span ORDER BY doc_id, k) = 1 AS kept
         |  FROM sp
         |)
         |SELECT doc_id, count(*) AS n_spans,
         |  count(*) FILTER (kept)::BIGINT AS n_kept,
         |  sum(CASE WHEN kept THEN ntok ELSE 0 END)::BIGINT AS kept_tokens,
         |  coalesce(string_agg(span, ' ' ORDER BY k) FILTER (kept), '') AS new_text
         |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // The oracles re-train all five epochs themselves — no learned weights
    // are fed in as literals — so any divergence in the update rule or
    // epoch chaining on the Spark side breaks the hash.
    "q114_perceptron" ->
      s"""WITH $pctSqlChain
         |SELECT doc_id, y, ($pctSqlScore)::BIGINT AS score,
         |  (CASE WHEN $pctSqlScore > 0 THEN 1 ELSE -1 END)::BIGINT AS pred,
         |  (CASE WHEN $pctSqlScore > 0 THEN 1 ELSE -1 END) = y AS correct
         |FROM feat ORDER BY doc_id""".stripMargin,

    "q117_auc" ->
      s"""WITH $pctSqlChain,
         |hist AS (
         |  SELECT s,
         |    count(*) FILTER (y = 1)::BIGINT AS np,
         |    count(*) FILTER (y = -1)::BIGINT AS nn
         |  FROM (SELECT y, ($pctSqlScore)::BIGINT AS s FROM feat)
         |  GROUP BY s
         |), cum AS (
         |  SELECT np, nn, COALESCE(SUM(nn) OVER (ORDER BY s
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumn
         |  FROM hist
         |)
         |SELECT SUM(np)::BIGINT AS n_pos, SUM(nn)::BIGINT AS n_neg,
         |  ((1000000 * SUM(np * (2 * cumn + nn)))
         |    // (2 * SUM(np) * SUM(nn)))::BIGINT AS auc_ppm
         |FROM cum""".stripMargin,

    // The composed passes' own oracle SQL rides along as sub-CTEs, so the
    // verdict is re-derived end-to-end on the oracle side too.
    "q119_curation_verdict" ->
      s"""WITH v30 AS (
         |  ${TextPack.oracle("q30_dedup_exact")}
         |), v57 AS (
         |  $sqlQ57
         |), v36 AS (
         |  ${TextPack.oracle("q36_quality_score")}
         |), r AS (
         |  SELECT d.doc_id,
         |    CASE WHEN d.lang <> 'en' THEN 'non_en'
         |         WHEN v30.is_dup THEN 'exact_dup'
         |         WHEN NOT v57.kept THEN 'repetitive'
         |         WHEN v36.quality < $QUALITY_T THEN 'low_quality'
         |         ELSE 'keep' END AS reason
         |  FROM documents d
         |  JOIN v30 ON d.doc_id = v30.doc_id
         |  JOIN v57 ON d.doc_id = v57.doc_id
         |  JOIN v36 ON d.doc_id = v36.doc_id
         |)
         |SELECT doc_id, reason, reason = 'keep' AS keep
         |FROM r ORDER BY doc_id""".stripMargin,

    "q134_label_vote" ->
      s"""WITH cl AS (
         |  $sqlRatingCounts
         |), per AS (
         |  SELECT item_id, sum(c)::BIGINT AS n_ratings,
         |    count(*)::BIGINT AS n_labels,
         |    sum(c * (c - 1))::BIGINT AS agree_num
         |  FROM cl GROUP BY item_id
         |), top AS (
         |  $sqlTopLabel
         |)
         |SELECT per.item_id, n_ratings, n_labels, top_label, top_count,
         |  ((1000000 * agree_num)
         |     // (n_ratings * (n_ratings - 1)))::BIGINT AS agreement_ppm
         |FROM per JOIN top USING (item_id)
         |WHERE n_ratings >= 2
         |ORDER BY per.item_id""".stripMargin,

    "q136_fleiss_kappa" ->
      s"""WITH cl AS (
         |  $sqlRatingCounts
         |), peri AS (
         |  SELECT item_id, n, agree_num,
         |    (1000000 * agree_num) // (n * (n - 1)) AS po_i
         |  FROM (
         |    SELECT item_id, sum(c)::BIGINT AS n,
         |      sum(c * (c - 1))::BIGINT AS agree_num
         |    FROM cl GROUP BY item_id)
         |  WHERE n >= 2
         |), lt AS (
         |  SELECT label, sum(c)::BIGINT AS cl
         |  FROM cl JOIN peri USING (item_id) GROUP BY label
         |), a1 AS (
         |  SELECT count(*)::BIGINT AS n_items, sum(n)::BIGINT AS n_ratings,
         |    (sum(po_i) // count(*))::BIGINT AS po_ppm
         |  FROM peri
         |), a2 AS (
         |  SELECT ((1000000 * sum(cl * cl))
         |            // (sum(cl) * sum(cl)))::BIGINT AS pe_ppm
         |  FROM lt
         |)
         |SELECT n_items, n_ratings, po_ppm, pe_ppm,
         |  (po_ppm - pe_ppm)::BIGINT AS kappa_num,
         |  (1000000 - pe_ppm)::BIGINT AS kappa_den
         |FROM a1, a2""".stripMargin,

    "q141_rater_quality" ->
      s"""WITH ratings AS (
         |  SELECT CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS item_id,
         |    user_id AS rater, event_type AS label
         |  FROM events
         |), cl AS (
         |  $sqlRatingCounts
         |), top AS (
         |  $sqlTopLabel
         |), qual AS (
         |  SELECT item_id, top_label
         |  FROM (SELECT item_id, sum(c)::BIGINT AS n FROM cl GROUP BY item_id)
         |  JOIN top USING (item_id)
         |  WHERE n >= 2
         |)
         |SELECT rater, count(*)::BIGINT AS n_ratings,
         |  sum(CASE WHEN label = top_label THEN 1 ELSE 0 END)::BIGINT AS n_agree,
         |  ((1000000 * sum(CASE WHEN label = top_label THEN 1 ELSE 0 END))
         |     // count(*))::BIGINT AS accuracy_ppm
         |FROM ratings JOIN qual USING (item_id)
         |GROUP BY rater ORDER BY rater""".stripMargin
  )

  /** Shared oracle prefix for q114/q117: the feature CTE plus the full
    * five-epoch training chain (MATERIALIZED — each wN is referenced by
    * eight scalar subqueries, which DuckDB would otherwise inline
    * exponentially). */
  private def pctSqlChain: String = {
    def epoch(r: Int): String = {
      val p = s"w${r - 1}"
      def su(j: Int) =
        s"((SELECT w$j FROM $p) + COALESCE(SUM(CASE WHEN m <= 0 THEN y * x$j END), 0))::BIGINT AS w$j"
      s"""w$r AS MATERIALIZED (
         |  SELECT ${(0 to 3).map(su).mkString(",\n    ")}
         |  FROM (
         |    SELECT y, x0, x1, x2, x3,
         |      y * ((SELECT w0 FROM $p) * x0 + (SELECT w1 FROM $p) * x1 +
         |           (SELECT w2 FROM $p) * x2 + (SELECT w3 FROM $p) * x3) AS m
         |    FROM feat)
         |)""".stripMargin
    }
    s"""feat AS MATERIALIZED (
       |  SELECT doc_id,
       |    (CASE WHEN lang = 'en' THEN 1 ELSE -1 END)::BIGINT AS y,
       |    1::BIGINT AS x0,
       |    len(str_split(text, ' '))::BIGINT AS x1,
       |    len(list_filter(str_split(text, ' '),
       |        t -> t = 'a' OR t = 'the'))::BIGINT AS x2,
       |    len(list_distinct(str_split(text, ' ')))::BIGINT AS x3
       |  FROM documents
       |), w0 AS (
       |  SELECT 0::BIGINT AS w0, 0::BIGINT AS w1,
       |         0::BIGINT AS w2, 0::BIGINT AS w3
       |),
       |${(1 to PCT_EPOCHS).map(epoch).mkString(",\n")}""".stripMargin
  }

  /** The trained score w·x with w5's weights as scalar subqueries. */
  private def pctSqlScore: String =
    (0 to 3).map(j => s"(SELECT w$j FROM w$PCT_EPOCHS) * x$j").mkString(" + ")

  /** q57's oracle as a def so q119's composed oracle can embed it. */
  private def sqlQ57: String = {
    val topR = Hashes.sqlRound("max_tok::DOUBLE / n_tokens", 4)
    val dupR = s"CASE WHEN n_bigrams = 0 THEN CAST(0 AS DOUBLE) ELSE " +
      s"${Hashes.sqlRound("1.0 - d_bigrams::DOUBLE / n_bigrams", 4)} END"
    s"""WITH tc AS (
       |  SELECT doc_id, sum(c)::BIGINT AS n_tokens, max(c) AS max_tok FROM (
       |    SELECT doc_id, tok, count(*) AS c
       |    FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents)
       |    GROUP BY doc_id, tok
       |  ) GROUP BY doc_id
       |), bc AS (
       |  SELECT doc_id, len(bg)::BIGINT AS n_bigrams,
       |    len(list_distinct(bg))::BIGINT AS d_bigrams
       |  FROM (
       |    SELECT doc_id,
       |      [array_to_string(t[i:i+1], ' ') FOR i IN range(1, len(t))] AS bg
       |    FROM (SELECT doc_id, str_split(text, ' ') AS t FROM documents)
       |  )
       |)
       |SELECT doc_id, n_tokens, max_tok,
       |  $topR AS top_tok_ratio, $dupR AS dup_bigram_ratio,
       |  ($topR <= $TOP_TOK_T AND $dupR <= $DUP_BG_T) AS kept
       |FROM tc JOIN bc USING (doc_id) ORDER BY doc_id""".stripMargin
  }
}
