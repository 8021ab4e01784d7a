package graft.streaming

import graft.operators.{CurationPack, TextPack}
import graft.sources.KeyedUpsertSink
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery}

/** A document arriving on the curation ingest stream. */
final case class CurDoc(doc_id: Long, lang: String, source: String,
                        text: String, n_chars: Long)

/** A doc after the fingerprint index: `is_dup` = an identical text is
  * already canonical in the standing index. */
final case class DupTagged(doc_id: Long, lang: String, source: String,
                           text: String, n_chars: Long, is_dup: Boolean)

/** A keeper bound for shard layout, in its source's fold order. */
final case class ShardDoc(source: String, doc_id: Long, n_bytes: Long)

/** Per-source writer state: the currently-open file and its fill. */
final case class ShardState(fileIdx: Long, fill: Long)

/** One shard assignment: which output file this doc lands in. */
final case class ShardAssign(source: String, doc_id: Long, n_bytes: Long, file_idx: Long)

/** Streaming per-document curation VERDICT — the live form of q119, and
  * the front half of the CurateJob pipeline running on ingest instead of
  * on a materialized corpus: every arriving doc gets its C4-precedence
  * keep/drop decision (language → exact dedup → repetition → quality)
  * the moment it lands, and (via [[runWithShards]]) its shard-file
  * assignment too — ingest → verdict → layout as ONE live pipeline.
  *
  * Composition mirrors the batch verdict exactly, pass by pass:
  *  - exact dedup: a keyed fingerprint INDEX (md5(text) — the q30
  *    fingerprint), one canonical doc_id per distinct text, held in fMGWS
  *    state exactly like DedupStream's LSH bucket index. First-seen
  *    (smallest doc_id within a batch) is canonical; for the q105-style
  *    arrival-ordered contract this EQUALS batch q30's global-min rule
  *    whenever ingest is id-ordered (the spec's feed), and on out-of-order
  *    ingest verdicts never retract (the streaming contract DedupStream
  *    pins).
  *  - repetition + quality: [[CurationPack.repetitionOf]] /
  *    [[TextPack.qualityCoreOf]] run INSIDE each micro-batch — the exact
  *    batch code over the batch's docs (both are pure per-doc maps, so
  *    micro-batching cannot change their values).
  *  - precedence: [[CurationPack.c4Reason]] — the one shared expression.
  *  - shard layout: the batch's keepers continue each source's greedy
  *    (fileIdx, fill) recurrence ([[foldGroup]] — q127's core) from a
  *    DURABLE per-source state store, so the live file sequence equals
  *    the batch q163 layout under ordered ingest.
  *
  * Exactly-once: a replayed micro-batch re-enters fMGWS with the same
  * pre-batch state (checkpoint-consistent) and re-emits identical tags;
  * verdicts are deterministic from (tag, text) and the doc_id-keyed
  * monotonic-version upsert absorbs rewrites. The shard fold is guarded
  * the LabelQualityJob way: state and assignments write with a
  * checkpoint-monotonic version, so a replayed fold (which would
  * re-continue from the already-advanced state) loses every version tie
  * and mutates nothing (CurateStreamSpec restarts mid-ingest and asserts
  * parity with q119 and q163).
  *
  * Scale: fingerprint state is ONE long per distinct text and shard
  * state TWO longs per source, both hash-partitioned; per batch the
  * repetition/quality passes are batch-sized. Text rides through the
  * fingerprint shuffle here for simplicity — at corpus scale ship
  * (fp, doc_id, lang) through the index and re-join text from the
  * batch-local frame, or from the docstore the manifest points at. */
object CurateStream {

  /** The fingerprint-index transition: tag each doc in the batch group
    * against (and into) the canonical entry. Smallest doc_id in a batch
    * wins an empty slot — q30's rule applied to what has arrived. */
  private[graft] def foldFp(st0: Option[Long], rows: Seq[CurDoc])
      : (Option[Long], Seq[DupTagged]) = {
    var st = st0
    val out = rows.sortBy(_.doc_id).map { dc =>
      st match {
        case None =>
          st = Some(dc.doc_id)
          DupTagged(dc.doc_id, dc.lang, dc.source, dc.text, dc.n_chars,
            is_dup = false)
        case Some(c) =>
          DupTagged(dc.doc_id, dc.lang, dc.source, dc.text, dc.n_chars,
            is_dup = dc.doc_id != c)
      }
    }
    (st, out)
  }

  /** Stage A (keyed index): one fMGWS group per text fingerprint. */
  def dupTags(docs: Dataset[CurDoc]): Dataset[DupTagged] = {
    implicit val stateEnc = Encoders.scalaLong
    implicit val outEnc   = Encoders.product[DupTagged]
    implicit val keyEnc   = Encoders.STRING
    implicit val rowEnc   =
      Encoders.tuple(Encoders.STRING, Encoders.product[CurDoc])
    docs.map(dc => (fpOf(dc.text), dc))(rowEnc)
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, it: Iterator[(String, CurDoc)],
         state: GroupState[Long]) => {
          val (st, out) = foldFp(state.getOption, it.map(_._2).toSeq)
          st.foreach(state.update)
          out.iterator
        })
  }

  /** q30's text fingerprint (md5 hex), computed where the doc is. */
  private def fpOf(text: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  /** Per-batch verdict derivation — the batch q119 composition over one
    * micro-batch's tagged docs (shared by run and the spec). */
  def verdictsOf(tagged: DataFrame): DataFrame = {
    val docs = tagged.select(col("doc_id"), col("lang"), col("text"))
    val rep = CurationPack.repetitionOf(docs)
      .select(col("doc_id"), col("kept").as("rep_kept"))
    val qual = TextPack.qualityCoreOf(docs)
      .select(col("doc_id"), col("quality"))
    tagged.select(col("doc_id"), col("lang"), col("is_dup"))
      .join(rep, "doc_id").join(qual, "doc_id")
      .withColumn("reason", CurationPack.c4Reason(col("lang"), col("is_dup"),
        col("rep_kept"), col("quality")))
      .withColumn("keep", col("reason") === "keep")
      .select(col("doc_id"), col("reason"), col("keep"))
  }

  /** Start the live verdict pipeline: fingerprint-index tagging, then
    * per-batch repetition/quality scoring and the C4 verdict, upserted
    * into `verdictOut` keyed by doc_id. */
  def run(spark: SparkSession, docs: Dataset[CurDoc], verdictOut: String,
          ckpt: String): StreamingQuery =
    dupTags(docs).toDF().writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) =>
        KeyedUpsertSink.upsert(spark, verdictOut,
          verdictsOf(b).withColumn("version", lit(id)),
          Seq("doc_id"), "version")
      }.start()

  /** The greedy shard-fill transition (q127's recurrence): fold one
    * source's docs, in the order given, through its open-file state —
    * each doc fills the open file unless it would overflow `cap`, in
    * which case the next file opens with it. */
  private[graft] def foldGroup(st0: Option[ShardState], rows: Seq[ShardDoc],
                               cap: Long): (Option[ShardState], Seq[ShardAssign]) = {
    var st = st0
    val out = scala.collection.mutable.ArrayBuffer.empty[ShardAssign]
    rows.foreach { r =>
      st = st match {
        case None => Some(ShardState(0L, r.n_bytes))
        case Some(ShardState(fi, fill)) =>
          if (fill + r.n_bytes > cap) Some(ShardState(fi + 1, r.n_bytes))
          else Some(ShardState(fi, fill + r.n_bytes))
      }
      out += ShardAssign(r.source, r.doc_id, r.n_bytes, st.get.fileIdx)
    }
    (st, out.toSeq)
  }

  /** Continue each source's greedy (fileIdx, fill) recurrence over one
    * batch's keepers from the durable per-source `stateStore`, returning
    * the batch's (source, doc_id, nb, file_idx) assignments and writing
    * the advanced state with the replay-guard version. Keepers fold in
    * doc_id order per source (q163's order under ordered ingest). */
  private[graft] def shardFold(spark: SparkSession, stateStore: String,
                               keepers: DataFrame, cap: Long,
                               version: Long): DataFrame = {
    import spark.implicits._
    val st = KeyedUpsertSink.read(spark, stateStore)
      .map(_.select(col("source"), col("file_idx"), col("fill")))
      .getOrElse(spark.emptyDataset[(String, Long, Long)].toDF("source", "file_idx", "fill"))
    val folded = keepers.select(col("source"), col("doc_id"), col("n_chars"))
      .join(st, Seq("source"), "left")
      .select(col("source"), col("doc_id"), col("n_chars"),
        col("file_idx"), col("fill"))
      .as[(String, Long, Long, Option[Long], Option[Long])]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("doc_id")) { (src, it) =>
        val rows = it.toSeq
        val seed = rows.head match {
          case (_, _, _, Some(fi), Some(fill)) => Some(ShardState(fi, fill))
          case _ => None
        }
        val (stOut, assigns) = foldGroup(seed,
          rows.map { case (_, id, nb, _, _) => ShardDoc(src, id, nb) }, cap)
        assigns.map(a => (a.source, a.doc_id, a.n_bytes, a.file_idx)) ++
          stOut.map(s => (src, -1L, s.fill, s.fileIdx)) // -1 marks the state row
      }
      .toDF("source", "doc_id", "nb", "file_idx")
      .localCheckpoint() // assigns + state derive from ONE fold
    val assigns = folded.filter(col("doc_id") >= 0)
    KeyedUpsertSink.upsert(spark, stateStore,
      folded.filter(col("doc_id") === -1L)
        .select(col("source"), col("file_idx"),
          col("nb").as("fill"), lit(version).as("version")),
      Seq("source"), "version")
    assigns
  }

  /** The FULL live pipeline: verdicts into `verdictOut` AND each batch's
    * keepers routed to their shard file (q127's greedy recurrence over
    * the durable per-source state) into `shardOut` — ingest → verdict →
    * layout, one streaming query. */
  def runWithShards(spark: SparkSession, docs: Dataset[CurDoc],
                    verdictOut: String, shardOut: String, stateStore: String,
                    ckpt: String,
                    cap: Long = CurationPack.SHARD_CAP): StreamingQuery = {
    val base = KeyedUpsertSink.versionBase(spark, ckpt, stateStore)
    dupTags(docs).toDF().writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) =>
        val v = verdictsOf(b).localCheckpoint() // two consumers, one derivation
        KeyedUpsertSink.upsert(spark, verdictOut,
          v.withColumn("version", lit(id)), Seq("doc_id"), "version")
        val keepers = b.select(col("doc_id"), col("source"), col("n_chars"))
          .join(v.filter(col("keep")).select(col("doc_id")), "doc_id")
        KeyedUpsertSink.upsert(spark, shardOut,
          shardFold(spark, stateStore, keepers, cap, base + id)
            .withColumn("version", lit(base + id)),
          Seq("doc_id"), "version")
      }.start()
  }
}
