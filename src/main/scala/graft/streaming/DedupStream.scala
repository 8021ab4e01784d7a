package graft.streaming

import graft.functions.TextLsh
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** A document arriving on the ingest stream. */
final case class DocEv(doc_id: Long, ts: java.sql.Timestamp, text: String)

/** One (band-bucket, doc) row after signature banding. */
final case class BucketDoc(bkey: String, band: Int, doc_id: Long,
                           ts: java.sql.Timestamp, sig: Seq[Long])

/** Per-bucket index state: the bucket's canonical (first-seen) doc. */
final case class BucketState(firstDoc: Long, sig: Seq[Long])

/** Candidate emission: `cand_of` = the bucket's canonical doc (-1 when this
  * doc IS the canonical), `est_sim` = equal-slot signature fraction. */
final case class DedupCand(doc_id: Long, ts: java.sql.Timestamp, band: Int,
                           cand_of: Long, est_sim: Double)

/** Streaming incremental MinHash+LSH near-dup detection — the streaming
  * twin of q32 (batch LSH dedup) and q105 (incremental batch-vs-corpus
  * dedup): every arriving document is checked against the standing corpus
  * INDEX, never against the corpus itself.
  *
  * Same MinHasher as TextPack ([[TextLsh.minHash]]: 64-slot signatures
  * from 3-token shingles, 16 bands × 4 rows, seeded [[Hashes.family]]),
  * so a doc's streaming signature and band keys are bit-identical to its
  * batch ones. The bucket key is `<band>-` + the band key, so existing
  * checkpoints of the index stay readable.
  *
  * Scale design: the keyed state is the LSH bucket index — one
  * (canonical doc_id, 64-slot signature) per non-empty bucket, partitioned
  * across executors by bucket key exactly like the batch inverted index is
  * partitioned by its shuffle. Arriving docs fan out to their 16 buckets
  * (map-side), meet only their own buckets' state (one shuffle on the
  * bucket key), and the per-bucket comparison is O(1): the signature
  * comparison against the canonical doc, not a posting-list join. The
  * index state is the PRODUCT (it persists as long as the corpus is
  * live, like the reference's externalized post-mapping state); the
  * skew analogue of the hot-shingle DF cap does not arise because a
  * bucket holds one canonical entry regardless of how many docs hash
  * into it.
  *
  * Emission contract (incremental, arrival-ordered like q105): the first
  * doc to reach a bucket becomes its canonical doc and is emitted with
  * cand_of = -1; every later doc in that bucket emits one candidate row
  * against the canonical. Within a micro-batch, arrival order is
  * (ts, doc_id) — deterministic under re-batching; a restart replays the
  * checkpointed index, so verdicts never regress (RecoverySpec pattern).
  */
object DedupStream {
  private val mh = TextLsh.minHash

  /** Stage A (stateless, map-only): signature + band fan-out. Docs too
    * short to shingle produce no rows — they cannot collide. */
  def bandRows(docs: Dataset[DocEv]): Dataset[BucketDoc] = {
    implicit val enc = Encoders.product[BucketDoc]
    docs.toDF()
      .select(col("doc_id"), col("ts"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), col("ts"), mh.sig(TextLsh.shinglesOf(col("t"))).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id"), col("ts"), col("sig"), mh.bandsOf(col("sig")))
      .select(concat_ws("-", col("band"), col("bandkey")).as("bkey"),
        col("band"), col("doc_id"), col("ts"), col("sig"))
      .as[BucketDoc]
  }

  /** The bucket transition behind [[candidates]], kept pure (the
    * ClusterWindowLogic pattern): fold a batch of arrivals in
    * (ts, doc_id) order through the bucket's canonical entry. */
  private[streaming] def foldBucket(st0: Option[BucketState], rows: Seq[BucketDoc])
      : (Option[BucketState], Seq[DedupCand]) = {
    var st = st0
    val out = scala.collection.mutable.ArrayBuffer.empty[DedupCand]
    rows.sortBy(b => (b.ts.getTime, b.doc_id)).foreach { b =>
      st match {
        case None =>
          st = Some(BucketState(b.doc_id, b.sig))
          out += DedupCand(b.doc_id, b.ts, b.band, -1L, 0.0)
        case Some(s0) if s0.firstDoc != b.doc_id =>
          // NOTE on redelivery: an at-least-once source that re-sends a
          // non-canonical doc re-emits its candidate rows (tracking emitted
          // docs per bucket would grow state per arrival — defeating the
          // one-entry-per-bucket design), so downstream consumers must be
          // duplicate-insensitive — [[verdicts]] aggregates with
          // max/collect_set only. A re-sent CANONICAL doc emits nothing
          // (its -1 row already committed with the batch that set the
          // state; exactly-once sinks keep it).
          out += DedupCand(b.doc_id, b.ts, b.band, s0.firstDoc, mh.estSim(b.sig, s0.sig))
        case _ => () // replayed delivery of the canonical doc itself
      }
    }
    (st, out.toSeq)
  }

  /** Stage B (keyed index): one fMGWS group per LSH bucket holding the
    * canonical entry; emits a [[DedupCand]] row per (doc, bucket). */
  def candidates(docs: Dataset[DocEv]): Dataset[DedupCand] = {
    implicit val stateEnc = Encoders.product[BucketState]
    implicit val outEnc   = Encoders.product[DedupCand]
    implicit val keyEnc   = Encoders.STRING
    bandRows(docs)
      .groupByKey(_.bkey)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, it: Iterator[BucketDoc], state: GroupState[BucketState]) => {
          val (st, out) = foldBucket(state.getOption, it.toSeq)
          st.foreach(state.update)
          out.iterator
        })
  }

  /** Stage C (windowed verdicts): per-doc rollup over the doc's ≤16
    * candidate rows — n_hits = distinct matched canonicals, best match by
    * estimated similarity (smallest canonical id on ties), duplicate iff
    * best_sim ≥ `simT`. The watermark
    * is RE-DECLARED on the fMGWS output (a flatMapGroupsWithState does not
    * propagate its input watermark — the r9 soak lesson, SCALE.md), so
    * the rollup state is evicted as windows close. */
  def verdicts(docs: Dataset[DocEv], simT: Double = 0.5,
               windowDur: String = "1 hour",
               watermark: String = "30 minutes"): DataFrame = {
    // tie-break: max(struct) picks highest est_sim, then highest -cand_of
    // = smallest canonical id. Matched rows always have est_sim ≥ 4/64 > 0
    // (the shared band's slots are equal by construction), so a doc's
    // canonical rows (est_sim = 0) never outrank a real match.
    candidates(docs)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur).as("w"), col("doc_id"))
      // n_hits counts DISTINCT matched canonicals (bounded by #bands), so
      // at-least-once redelivery of candidate rows cannot inflate it —
      // every aggregate here is duplicate-insensitive (see foldBucket)
      .agg(size(collect_set(when(col("cand_of") >= 0, col("cand_of")))).as("n_hits"),
        max(struct(col("est_sim"), (-col("cand_of")).as("nc"))).as("best"))
      .select(col("doc_id"), unix_timestamp(col("w.start")).as("w_start"),
        col("n_hits"),
        round(col("best.est_sim"), 4).as("best_sim"),
        (-col("best.nc")).cast("long").as("best_cand"),
        (col("best.est_sim") >= simT).as("is_dup"))
  }
}
