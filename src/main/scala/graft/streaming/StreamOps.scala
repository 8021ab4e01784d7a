package graft.streaming

import graft.functions.KMeans
import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.LoggerContext
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import scala.reflect.runtime.universe.TypeTag

/** Typed event for streaming ops (the reference's unified `Event` shape,
  * model/Events.scala:13, with the testdata column names). */
final case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                    event_type: String, value: Double)

/** One enriched purchase (J11 output shape). */
final case class EnrichedPurchase(event_id: Long, user_id: Long, value: Double,
                                  prior_view_value: Double)

/** As-of state: last observed view per user (reference: value state in
  * AggregateFeaturesFunction.scala:38-45). */
final case class AsOfState(viewTs: Long, viewValue: Double)

/** One closed funnel session (q91's streaming form): how far the
  * view → click → purchase funnel got (`stage` 0-3) in one 30-min-gap
  * session. */
final case class FunnelSession(user_id: Long, sess_start: Long,
                               n_events: Long, stage: Int)

/** Open-session buffer for the streaming funnel: (tsMs, event_id, type)
  * triples of the not-yet-closed session. */
final case class FunnelBufState(buf: Seq[(Long, Long, String)])

/** One session-final consecutive event pair — [[StreamOps.sessionTransitions]]. */
final case class TransitionPair(user_id: Long, from_type: String, to_type: String)

/** One funnel-stage latency observation of a CLOSED session (q145's unit
  * of count): minutes from session start to first view, or first view to
  * first qualifying click. */
final case class StageLatency(user_id: Long, cohort: Long, stage: String,
                              latency_min: Long)

/** One signed update to a cohort-retention cell (q138's streaming form):
  * `delta` is +1 / -1 so late data that rewinds a user's first-active week
  * RETRACTS the previously emitted cells instead of double-counting. */
final case class RetentionDelta(cohort: Long, offset: Long, delta: Long)

/** Per-user retention state: the current first-active week and every
  * distinct active week seen so far (weeks are epoch-week integers, so
  * state is a handful of longs per user — bounded by timeline span, not
  * event volume). */
final case class RetentionState(cohort: Long, weeks: Seq[Long])

/** One signed update to q146's per-variant (users, conversions) counts:
  * `dn` counts the user into n when their first view appears; `dc` flips
  * their conversion on/off as late data moves the first view. */
final case class AbDelta(variant: Long, dn: Long, dc: Long)

/** Per-user A/B state: current first-view ts (µs; Long.MaxValue = no
  * view yet), the purchase timestamps that could still convert under a
  * (only ever rewinding) first view, and the currently-emitted
  * conversion flag. */
final case class AbState(fv: Long, purchases: Seq[Long], conv: Boolean)

/** Emitted cluster model row (reference: (ts, count, ClusterModel) emission,
  * KMeansClusterFunction.scala:230-281; labels come from the control
  * stream's `label:<i>=` parameters, empty when unset — reference
  * Parameters.label, KMeansClusterFunction.scala:402). `avg_shift` and
  * `k_diff` carry the reference's ClusterMetadata side output (mean
  * centroid displacement vs the previous model over matching indices and
  * the cluster-count delta — createMetadata, KMeansClusterFunction.scala
  * :337-373), folded onto the model stream (the R3 one-stream split
  * pattern) for drift monitoring. */
final case class ModelRow(version: Int, n_points: Int, centroids: Seq[Seq[Double]],
                          weights: Seq[Double], labels: Seq[String] = Nil,
                          avg_shift: Double = 0.0, k_diff: Int = 0)

/** Input element for the full clustering window: a feature point
  * (`ctrl` empty) or a raw control-stream line (`point` empty) — the
  * reference's broadcast parameter channel merged into the keyed stream,
  * legal because the operator runs as ONE state group (reference:
  * KeyedBroadcastProcessFunction, KMeansClusterFunction.scala:52). */
final case class ClusterIn(ts: java.sql.Timestamp, point: Seq[Double], ctrl: String)

/** Full clustering-window state: current + next-window buffers, previous
  * model, registered window-end timer, extension flag, and the control
  * parameters received so far (reference: the six keyed states +
  * broadcast state, KMeansClusterFunction.scala:72-90,201). */
final case class ClusterWinState(buffer: Seq[Seq[Double]], nextBuffer: Seq[Seq[Double]],
                                 centroids: Seq[Seq[Double]], weights: Seq[Double],
                                 version: Int, nextTimer: Long,
                                 windowExtended: Boolean,
                                 params: Map[String, String])

/** Structured-Streaming operators. Where the transform is shared with a
  * batch query (sliding stats), batch/stream parity holds by construction:
  * the SAME DataFrame function runs in both modes — Spark's incremental
  * planner is the only difference (SURVEY §2.9).
  */
object StreamOps {

  /** A1 sliding per-key statistics on a (possibly streaming) events frame —
    * the reference's flagship operator. Delegates to the same transform the
    * batch query q21 uses, with the streaming-legal (and 100 TB-scale)
    * approx distinct count. `key` is `user_id` for the per-user form and
    * `root_id` for the per-ROOT-POST form the full Task-1 chain aggregates
    * after reply resolution (reference: post id,
    * ActivePostStatisticsJob.scala:48-66). */
  def slidingStats(events: DataFrame, key: String = "user_id"): DataFrame =
    graft.operators.WindowPack.slidingStats(events, exactDistinct = false, key = key)

  /** Windowed register state of q79's DETERMINISTIC HyperLogLog — the
    * same md5-derived bucket/rho coordinates as the batch query and its
    * DuckDB oracle ([[graft.functions.Hashes.hllBucket]]/`hllRho`), so the
    * streamed registers are BYTE-equal to a batch recomputation of the
    * same window (StreamingSpec pins the parity through micro-batched,
    * re-ordered arrival). State per (window, type) is ≤ m=256 register
    * rows, maintained by a plain max-merge aggregation — estimates are a
    * cheap projection over the stored registers downstream, which is how
    * a 1000-executor rollup reaggregates sketches without touching raw
    * ids. */
  def sketchDistinctDetRegs(events: DataFrame): DataFrame = {
    import graft.functions.Hashes
    import graft.functions.Hll.{P => HLL_P}
    events
      .select(col("ts"), col("event_type"),
        Hashes.base32(col("user_id").cast("string")).as("h"))
      .select(col("ts"), col("event_type"),
        Hashes.hllBucket(col("h"), HLL_P).as("bucket"),
        Hashes.hllRho(col("h"), HLL_P).as("rho"))
      .groupBy(window(col("ts"), "4 hours"), col("event_type"), col("bucket"))
      .agg(max(col("rho")).as("reg"))
      .select(unix_timestamp(col("window.start")).as("wstart"),
        col("event_type"), col("bucket"), col("reg"))
  }

  /** Signed cell deltas of the cohort-retention matrix — q138's streaming
    * twin. Per-user fMGWS state carries (first-active week, weeks seen);
    * each micro-batch emits +1 deltas for newly seen (cohort, offset)
    * cells. The subtle case is a LATE event that predates the user's known
    * first week: the cohort itself moves, so every previously emitted cell
    * is retracted (−1) and re-emitted under the new cohort — the delta
    * stream therefore SUMS to exactly the batch matrix under any arrival
    * order (RetentionStreamSpec pins this, shift included). Downstream,
    * [[retentionCells]] folds the deltas with a plain streaming sum in
    * update mode; at scale the fold's sink is the keyed upsert store every
    * job main uses. State is O(active weeks) longs per user, so
    * deployments pass `horizonWeeks` (retention charts rarely need
    * offset > ~2 y ≈ 104): weeks beyond the offset horizon are neither
    * stored nor emitted, bounding BOTH state size and a cohort rewind's
    * retraction fan-out. The cap is monotone-safe: the cohort only ever
    * rewinds, so offsets only grow and a dropped week can never later
    * come back inside the horizon. */
  def retentionDeltas(events: Dataset[Ev],
                      horizonWeeks: Long = Long.MaxValue): Dataset[RetentionDelta] = {
    implicit val stateEnc = Encoders.product[RetentionState]
    implicit val outEnc = Encoders.product[RetentionDelta]
    implicit val keyEnc = Encoders.scalaLong
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, it: Iterator[Ev], state: GroupState[RetentionState]) => {
          val newWeeks = it
            .map(e => Math.floorDiv(e.ts.getTime, 604800000L)).toSet
          val oldWeeks = state.getOption.map(_.weeks.toSet)
            .getOrElse(Set.empty[Long])
          val all = oldWeeks ++ newWeeks
          if (all.isEmpty) Iterator.empty
          else {
            val c2 = all.min
            // stored state only ever holds within-horizon weeks, so every
            // retraction below refers to a cell that was actually emitted
            val merged = all.filter(w => w - c2 <= horizonWeeks)
            if (merged == oldWeeks) Iterator.empty
            else {
              val out = scala.collection.mutable.ArrayBuffer.empty[RetentionDelta]
              state.getOption match {
                case Some(RetentionState(c1, ws)) if c2 < c1 =>
                  // late data rewound the first week: every old cell re-keys
                  // (cells pushed past the horizon retract without re-emit)
                  ws.foreach(w => out += RetentionDelta(c1, w - c1, -1L))
                  merged.foreach(w => out += RetentionDelta(c2, w - c2, 1L))
                case Some(RetentionState(c1, _)) =>
                  (merged -- oldWeeks).foreach(w =>
                    out += RetentionDelta(c1, w - c1, 1L))
                case None =>
                  merged.foreach(w => out += RetentionDelta(c2, w - c2, 1L))
              }
              state.update(RetentionState(c2, merged.toSeq.sorted))
              out.iterator
            }
          }
        })
  }

  /** The live (cohort, offset) → n_users matrix: [[retentionDeltas]]
    * folded by a streaming sum (update mode). */
  def retentionCells(events: Dataset[Ev]): DataFrame =
    retentionDeltas(events)
      .groupBy(col("cohort"), col("offset"))
      .agg(sum(col("delta")).as("n_users"))

  /** Signed per-user deltas of q146's A/B counts — the live experiment
    * monitor. Per-user fMGWS state carries (first-view ts, candidate
    * purchases, emitted conversion flag); a user enters n (+1) when
    * their first view appears, and `dc` moves ±1 whenever late data
    * changes their conversion verdict. The hard case mirrors retention's
    * cohort rewind: a LATE view that predates the known first view moves
    * the conversion window — a purchase that converted can fall OUT
    * (p > fv+w under the earlier window) and one that didn't can fall IN
    * (p now > fv) — so the delta stream sums to exactly the batch
    * [[graft.operators.WindowPack.abEval]] counts under any arrival
    * order (AbStreamSpec pins both flips). State stays bounded: the
    * first view only rewinds, so a purchase past fv + window can never
    * convert and is pruned; what remains is the purchases inside one
    * conversion window. Pre-view users hold their purchases only until
    * the event-time watermark passes them: once wm > p no admissible
    * view can precede p, so p can never convert and is evicted — with a
    * watermark the never-viewed buffer is bounded by the lateness
    * horizon, and without one (test replays) nothing is dropped.
    * Downstream, [[abCounts]] folds the deltas with a plain streaming
    * sum and [[graft.operators.WindowPack.abScore]] turns the folded
    * table into the identical batch verdict row. */
  def abDeltas(events: Dataset[Ev], windowUs: Long): Dataset[AbDelta] = {
    implicit val stateEnc = Encoders.product[AbState]
    implicit val outEnc = Encoders.product[AbDelta]
    implicit val keyEnc = Encoders.scalaLong
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[Ev], state: GroupState[AbState]) => {
          val old = state.getOption.getOrElse(AbState(Long.MaxValue, Nil, false))
          // watermark-driven eviction of never-viewed purchases; the call
          // throws when the input has no watermark — fall back to keep-all
          val wmUs =
            try state.getCurrentWatermarkMs() * 1000L
            catch { case _: Throwable => Long.MinValue }
          val (next, delta) = abFold(uid, old, it.toSeq, windowUs, wmUs)
          state.update(next)
          delta.iterator
        })
  }

  /** The per-user A/B state fold behind [[abDeltas]], kept pure (state
    * in, (state, delta) out) like the other fold cores. Returns the new
    * state and the delta to emit, if any. */
  private def abFold(uid: Long, old: AbState, evs: Seq[Ev], windowUs: Long,
                     wmUs: Long): (AbState, Option[AbDelta]) = {
    // exact µs (getTime alone truncates to ms — the batch twin compares
    // unix_micros, so the window boundary must be µs-exact)
    def us(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    val newViews = evs.filter(_.event_type == "view").map(e => us(e.ts))
    val fv = (old.fv +: newViews).min
    val newPurch = evs.filter(_.event_type == "purchase").map(e => us(e.ts))
    // fv only ever rewinds, so p > fv + w can never convert — prune;
    // p <= fv may yet qualify under a further rewind — keep.
    // Never-viewed users (fv == MaxValue) would otherwise buffer every
    // purchase forever: once the event-time watermark passes a purchase p,
    // any still-admissible view has ts >= wm > p, so conversion (p > fv)
    // is impossible — evict p. With no watermark (wmUs = MinValue) the
    // filter keeps everything, preserving the exact replay semantics the
    // batch-twin specs pin.
    val purch = (old.purchases ++ newPurch).distinct
      .filter(p => (fv == Long.MaxValue && p >= wmUs) ||
        (fv != Long.MaxValue && p <= fv + windowUs))
    val conv = fv != Long.MaxValue &&
      purch.exists(p => p > fv && p <= fv + windowUs)
    val dn = (if (fv != Long.MaxValue) 1L else 0L) -
      (if (old.fv != Long.MaxValue) 1L else 0L)
    val dc = (if (conv) 1L else 0L) - (if (old.conv) 1L else 0L)
    (AbState(fv, purch, conv),
      if (dn == 0L && dc == 0L) None else Some(AbDelta(uid % 2, dn, dc)))
  }

  /** The live per-variant (n, c) counts: [[abDeltas]] folded by a
    * streaming sum (update mode); score the fold with
    * [[graft.operators.WindowPack.abScore]] for the live verdict. */
  def abCounts(events: Dataset[Ev], windowUs: Long): DataFrame =
    abDeltas(events, windowUs)
      .groupBy(col("variant"))
      .agg(sum(col("dn")).cast("long").as("n"),
        sum(col("dc")).cast("long").as("c"))

  /** q91's streaming twin: per-user 30-min-gap sessions close when the
    * event-time watermark passes last-event + gap (event-time timers —
    * the reference's session pattern, W6), emitting how far the
    * view → click → purchase funnel got. Pending events buffer in state
    * and sessions are staged AT CLOSE over the sorted buffer — the same
    * ordered-conditional-minima as the batch
    * [[graft.operators.WindowPack.funnelSessions]], so a closed streaming
    * session is row-identical to its batch twin (FunnelStreamSpec).
    *
    * Closure is WATERMARK-gated, not data-gated: a session whose last
    * event + gap is still above the watermark may yet be bridged or
    * extended by an admissible late event (Spark drops rows only BELOW
    * the watermark), so even a buffer that already straddles a gap keeps
    * its later-closing sessions pending. Once the watermark passes
    * last + gap, no admissible event can land inside (it would be below
    * the watermark) — the prefix of sessions with last + gap ≤ watermark
    * is provably final and emits; the rest waits for the timer at the
    * earliest pending close point. State is therefore bounded by the
    * watermark horizon's worth of sessions per user, not stream length.
    *
    * Timestamps are carried at MICROsecond precision (the batch twin
    * compares full-precision timestamps; ms flooring would split a
    * 1799.9995 s gap the batch keeps). Input must carry a watermark on
    * `ts`. */
  def sessionFunnel(events: Dataset[Ev], gapSec: Long = 1800L): Dataset[FunnelSession] = {
    implicit val outEnc = Encoders.product[FunnelSession]

    def close(user: Long, s: Seq[(Long, Long, String)]): Iterator[FunnelSession] = {
      val tv = s.collectFirst { case (t, _, "view") => t }
      val tc = tv.flatMap(v =>
        s.collectFirst { case (t, _, "click") if t >= v => t })
      val tp = tc.flatMap(c =>
        s.collectFirst { case (t, _, "purchase") if t >= c => t })
      val stage = if (tp.isDefined) 3 else if (tc.isDefined) 2
        else if (tv.isDefined) 1 else 0
      Iterator.single(FunnelSession(
        user, Math.floorDiv(s.head._1, 1000000L), s.size.toLong, stage))
    }

    sessionClosed(events, gapSec)(close)
  }

  /** Q143's streaming twin: consecutive event pairs of each CLOSED
    * session, emitted exactly once (the same watermark-gated close as
    * [[sessionFunnel]] — a pair is final only when its session is).
    * Within a closed session consecutive gaps are < gap by construction
    * (sessions split at >= gap), so the pair stream counts to exactly the
    * batch q143 matrix; the per-from totals/shares are then an
    * alphabet²-sized pass over the folded counts ([[transitionCounts]]),
    * never the corpus. */
  def sessionTransitions(events: Dataset[Ev], gapSec: Long = 1800L): Dataset[TransitionPair] = {
    implicit val outEnc = Encoders.product[TransitionPair]
    sessionClosed(events, gapSec)((user, s) =>
      s.iterator.zip(s.iterator.drop(1)).map {
        case (a, b) => TransitionPair(user, a._3, b._3)
      })
  }

  /** The live (from, to) count matrix: [[sessionTransitions]] folded by a
    * streaming sum (update/complete mode). Chaining an aggregation after
    * a flatMapGroupsWithState trips Spark's conservative global-watermark
    * rule at query start — wrap the `.start()` call in
    * [[startUnchecked]], which scope-disables the rule and restores the
    * conf. Safe by construction here: [[TransitionPair]] carries NO
    * event-time column and the fold keys only on the type pair, so no row
    * can be dropped as late — the rule's failure mode cannot occur.
    * (FunnelStreamSpec runs this exact chain end-to-end against batch
    * q143.) */
  def transitionCounts(events: Dataset[Ev], gapSec: Long = 1800L): DataFrame =
    sessionTransitions(events, gapSec)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))

  /** q145's streaming twin: per-closed-session stage-latency observations
    * on the shared watermark-gated session core ([[sessionClosed]] — a
    * session's latencies are final exactly when the session is). Stage
    * times are the batch [[graft.operators.WindowPack.funnelSessions]]
    * ordered-conditional-minima (first view; first click at-or-after it),
    * latencies in floor-divided minutes over µs — engine-exact integers.
    * Emitted once per closed session in append mode; [[latencyHistogram]]
    * folds them into the live (cohort, stage, latency_min) → n histogram. */
  def stageLatencies(events: Dataset[Ev], gapSec: Long = 1800L): Dataset[StageLatency] = {
    implicit val outEnc = Encoders.product[StageLatency]
    sessionClosed(events, gapSec) { (user, s) =>
      val first = s.head._1
      val tv = s.collectFirst { case (t, _, "view") => t }
      val tc = tv.flatMap(v =>
        s.collectFirst { case (t, _, "click") if t >= v => t })
      (tv.map(v => StageLatency(user, user % 10, "start_view",
          Math.floorDiv(v - first, 60000000L))) ++
        tc.flatMap(c => tv.map(v => StageLatency(user, user % 10, "view_click",
          Math.floorDiv(c - v, 60000000L))))).iterator
    }
  }

  /** The live stage-latency histogram: [[stageLatencies]] folded by a
    * streaming count (update/complete mode) — cardinality is
    * cohorts × stages × distinct latency buckets, never the event stream.
    * Agg-after-fMGWS: wrap `.start()` in [[startUnchecked]] (safe by
    * construction — [[StageLatency]] carries no event-time column, so no
    * row can be late-dropped). */
  def latencyHistogram(events: Dataset[Ev], gapSec: Long = 1800L): DataFrame =
    stageLatencies(events, gapSec)
      .groupBy(col("cohort"), col("stage"), col("latency_min"))
      .agg(count(lit(1)).as("n"))

  /** Scope-disable Spark's conservative stateful-after-stateful rule
    * (`spark.sql.streaming.statefulOperator.checkCorrectness.enabled`)
    * around a query's START — the PostStatisticsJob.runResolved pattern,
    * shared so callers of [[transitionCounts]] (and any other
    * agg-after-fMGWS chain argued safe by construction) don't hit an
    * opaque AnalysisException or hand-roll the conf save/restore. The
    * flag only gates ANALYSIS: it is restored immediately after `start`
    * returns and does not affect the running query. With the rule off,
    * the checker still logs the skipped error and the whole plan as one
    * WARN of over a hundred lines; its logger is held at ERROR for the
    * same scope. */
  def startUnchecked[T](spark: SparkSession)(start: => T): T = {
    val own = LoggerContext.getContext(false).getConfiguration.getLoggerConfig(Checker)
    val prevLevel: Level = if (own.getName == Checker) own.getLevel else null // null: inherit
    Configurator.setLevel(Checker, Level.ERROR)
    try withConf(spark, "spark.sql.streaming.statefulOperator.checkCorrectness.enabled" -> "false")(start)
    finally Configurator.setLevel(Checker, prevLevel)
  }

  private val Checker = "org.apache.spark.sql.catalyst.analysis.UnsupportedOperationChecker"

  /** Start a streaming query with code generation off: no whole-stage
    * code, and every expression-level projection, predicate and ordering
    * interpreted (Spark still compiles the object (de)serializers of typed
    * operators, once each: see [[stateEncoder]]). A query clones the
    * caller's session conf at `start`, so its micro-batch plans (and the
    * plans its `foreachBatch` sink builds on `batch.sparkSession`) keep
    * the setting for the query's life; the caller's session gets its
    * values back as soon as `start` returns, so its batch queries stay
    * compiled.
    *
    * Why: a micro-batch of a few hundred to a few thousand rows runs in
    * milliseconds, while compiling its generated code takes seconds, and
    * the DSPA jobs' plans hold more distinct generated sources than
    * Spark's JVM-wide codegen cache (`spark.sql.codegen.cache.maxEntries`,
    * 100, a static conf) keeps, so the same sources were compiled again
    * and again, batch after batch. `factoryMode` is internal in
    * `SQLConf`; JobsSpec pins its effect, so an upgrade that drops it
    * fails there. */
  def startInterpreted[T](spark: SparkSession)(start: => T): T =
    withConf(spark, "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(start)

  /** A `flatMapGroupsWithState` state encoder, resolved once. Spark
    * resolves the state deserializer again at every micro-batch, and a
    * collection field then gets new lambda-variable ids, so the
    * deserializer's generated source differs from batch to batch and
    * Spark compiles it anew each time (it compiles state deserializers
    * whatever `factoryMode` says). Resolved here, the ids are fixed and
    * the class compiled in the first batch serves every later one. The
    * state schema is the same as `Encoders.product[T]`'s, so existing
    * checkpoints keep working. */
  private[graft] def stateEncoder[T <: Product : TypeTag]: Encoder[T] =
    ExpressionEncoder[T]().resolveAndBind()

  /** Set `kvs` on `spark`'s session conf for the scope of `body`, then put
    * each key back as it was (set to its old value, or unset). */
  private def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Shared watermark-gated session machinery behind [[sessionFunnel]]
    * and [[sessionTransitions]]: per-user event buffer, 30-min-gap split
    * over the sorted buffer, the provably-final session prefix (last +
    * gap ≤ watermark) handed to `closeFn`, the rest kept in state with
    * the event-time timer re-armed at the earliest pending close point. */
  private def sessionClosed[T](events: Dataset[Ev], gapSec: Long)(
      closeFn: (Long, Seq[(Long, Long, String)]) => Iterator[T])(
      implicit outEnc: org.apache.spark.sql.Encoder[T]): Dataset[T] = {
    implicit val stateEnc = Encoders.product[FunnelBufState]
    implicit val keyEnc = Encoders.scalaLong
    val gapUs = gapSec * 1000000L

    def micros(ts: java.sql.Timestamp): Long =
      Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

    // emit the provably-final session prefix, keep the rest + re-arm
    def drain(user: Long, buf: Seq[(Long, Long, String)],
              state: GroupState[FunnelBufState]): Iterator[T] = {
      val sorted = buf.sortBy(e => (e._1, e._2))
      val sessions = sorted.foldLeft(Vector(Vector.empty[(Long, Long, String)])) {
        case (acc, e) =>
          if (acc.last.nonEmpty && e._1 - acc.last.last._1 >= gapUs)
            acc :+ Vector(e)
          else acc.init :+ (acc.last :+ e)
      }.filter(_.nonEmpty)
      val wmUs = state.getCurrentWatermarkMs() * 1000L
      val (closed, pending) = sessions.span(s => s.last._1 + gapUs <= wmUs)
      if (pending.isEmpty) state.remove()
      else {
        state.update(FunnelBufState(pending.flatten))
        // timers are ms-granular; round UP so the timer never fires a
        // hair before the µs close point
        state.setTimeoutTimestamp(
          Math.floorDiv(pending.head.last._1 + gapUs + 999L, 1000L))
      }
      closed.iterator.flatMap(s => closeFn(user, s))
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (user: Long, it: Iterator[Ev], state: GroupState[FunnelBufState]) => {
          val old = state.getOption.map(_.buf).getOrElse(Seq.empty)
          val incoming = it.map(e => (micros(e.ts), e.event_id, e.event_type)).toSeq
          drain(user, old ++ incoming, state)
        })
  }

  /** Windowed frequent-items census as a Misra-Gries sketch — q86's
    * streaming twin (the third sketch beside the HLL above and q80's GK).
    * State per window is O(k) counters regardless of key cardinality, and
    * the Aggregator's merge is the Mergeable-Summaries combine, so
    * micro-batch partials fold into the running state with the same
    * heavy-hitter-completeness / N/(k+1)-undercount bounds as one pass
    * (FreqSketchSpec pins the bounds; StreamingSpec pins them END-TO-END
    * through micro-batched arrival). Candidate SETS are arrival-order
    * sensitive — bounds, not byte-parity, are the stream/batch contract. */
  def freqSketch(events: DataFrame, k: Int = 8): DataFrame = {
    val mg = org.apache.spark.sql.functions.udaf(
      new graft.functions.FreqSketch(k))
    events
      .groupBy(window(col("ts"), "4 hours"))
      .agg(mg(col("event_type")).as("sk"), count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("wstart"),
        col("n"), map_keys(col("sk")).as("candidates"))
  }

  /** Windowed weighted sample under Structured Streaming — the
    * training-pipeline eval-set sampler as a streaming operator. Scoring
    * is batch q82's Efraimidis–Spirakis construction on the stateless
    * hash (u = hash-uniform of the event id, weight = |value| + 1), so
    * the sample is a pure function of the window's data; state per window
    * is the [[graft.functions.WeightedReservoir]]'s k best candidates —
    * O(k) regardless of stream length, mergeable across micro-batches
    * (StreamingSpec pins streamed == batch exactly). */
  def weightedSampleWindow(events: DataFrame, k: Int = 10): DataFrame = {
    import graft.functions.{Hashes, WeightedReservoir}
    val denom = 1L << 20
    val u = (Hashes.base32(col("event_id").cast("string")) % denom + 1L)
      .cast("double") / lit(denom.toDouble)
    val res = org.apache.spark.sql.functions.udaf(new WeightedReservoir(k))
    events
      .select(col("ts"), (log(u) / (abs(col("value")) + 1)).as("score"),
        col("event_id"))
      .groupBy(window(col("ts"), "4 hours"))
      .agg(res(col("score"), col("event_id")).as("sample"),
        count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("wstart"),
        col("n"), col("sample"))
  }

  /** J11 as-of enrichment: append to each purchase the value of the user's
    * most recent prior view, 0.0 if none or staler than `maxAgeSec`
    * (reference: AggregateFeaturesFunction.scala:22-66 — last-value state
    * with staleness cutoff; like the reference, semantics are
    * arrival-order-dependent across micro-batches: state is updated as
    * events arrive; within a batch we sort by (ts, event_id)).
    *
    * State eviction (W6/W7): a user's last-view state carries an
    * event-time timer at viewTs + maxAge — once the watermark passes it
    * the state is dropped (reference: state TTL + event-time timers,
    * FlinkUtils.scala:80-87, AggregateFeaturesFunction.scala:57-65).
    * Because the staleness cutoff already ignores views older than
    * maxAge, eviction changes NO output — it bounds state: the store holds
    * only users with a view inside the watermark horizon (asserted on
    * numRowsTotal in StreamingSpec).
    * Input must carry a watermark on `ts`.
    */
  def asOfEnrichTtl(events: Dataset[Ev], maxAgeSec: Long = 21600L): Dataset[EnrichedPurchase] = {
    implicit val stateEnc = Encoders.product[AsOfState]
    implicit val outEnc = Encoders.product[EnrichedPurchase]
    implicit val keyEnc = Encoders.scalaLong
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (user: Long, it: Iterator[Ev], state: GroupState[AsOfState]) => {
          if (state.hasTimedOut) {
            state.remove() // watermark passed viewTs + maxAge: evict
            Iterator.empty
          } else {
            var last = state.getOption
            val out = scala.collection.mutable.ArrayBuffer.empty[EnrichedPurchase]
            it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
              e.event_type match {
                case "view" =>
                  last = Some(AsOfState(e.ts.getTime, e.value))
                case "purchase" =>
                  val prior = last match {
                    case Some(AsOfState(vts, vv))
                      if e.ts.getTime - vts <= maxAgeSec * 1000 => vv
                    case _ => 0.0
                  }
                  out += EnrichedPurchase(e.event_id, user, e.value, prior)
                case _ => ()
              }
            }
            last.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.viewTs + maxAgeSec * 1000)
            }
            out.iterator
          }
        })
  }

  /** A6/W4/W8 — the reference's clustering window operator
    * (KMeansClusterFunction.scala:112-196) on `flatMapGroupsWithState`
    * with event-time timeouts:
    *
    *  - REGULAR fire: at the end of the `windowSizeMs` event-time window
    *    — iff the buffer holds MORE than `minCount` points; otherwise the
    *    window EXTENDS (no sub-minimum model is ever emitted) and fires as
    *    soon as the count reaches `minCount` (delayed firing,
    *    reference :151,192-195).
    *  - EARLY fire: the moment the buffer reaches `maxCount`
    *    (reference :150,153-172).
    *  - AHEAD-OF-WINDOW elements (event time past the registered window
    *    end, watermark not yet there) buffer separately and seed the NEXT
    *    window after a fire (reference :125-131,265-271); late elements
    *    join the current window (includeLateElementsInWindow=true,
    *    reference :132-142).
    *  - CONTROL stream (S5/W8): raw `k=`/`decay=`/`label:i=` lines ride
    *    the same input as [[ClusterIn]] ctrl rows (the broadcast channel of
    *    the reference collapses into the single state group); parameters
    *    are stored in state and read AT FIRE TIME, so a `k=6` line changes
    *    the NEXT emitted model while the query runs — k-repair via
    *    KMeans.ensureK (reference :163,183 + Parameters :382-405).
    *
    * Spark maps Flink's timers onto group-state timeouts with one
    * difference: a group with input rows in a batch gets no timeout
    * callback. Window-end fires are therefore checked BOTH in the
    * timed-out branch (data-less batch) and, against the current
    * watermark, before processing a batch's rows — together exactly the
    * reference's onTimer firing points.
    *
    * Input must carry a watermark on `ts`. Emission is deterministic for
    * a deterministic batch sequence: rows are processed in (ts, point)
    * order with control rows first within a timestamp.
    */
  def clusterWindows(in: Dataset[ClusterIn], k: Int, decay: Double,
                     windowSizeMs: Long, minCount: Int, maxCount: Int,
                     seed: Long = 137L): Dataset[ModelRow] = {
    val logic = new ClusterWindowLogic(k, decay, windowSizeMs, minCount, maxCount, seed)
    implicit val stateEnc = stateEncoder[ClusterWinState]
    implicit val outEnc = Encoders.product[ModelRow]
    implicit val keyEnc = Encoders.scalaInt
    in.groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: Int, it: Iterator[ClusterIn], state: GroupState[ClusterWinState]) => {
          val wm = state.getCurrentWatermarkMs()
          val st0 = state.getOption.getOrElse(logic.initial)
          val (st, out) =
            if (state.hasTimedOut) logic.onTimeout(st0, wm)
            else logic.onData(st0, wm, it)
          state.update(st)
          logic.desiredTimer(st, wm).foreach(state.setTimeoutTimestamp)
          out.iterator
        })
  }

}

/** Transition core of the A6/W4/W8 clustering window behind
  * [[StreamOps.clusterWindows]]. All methods are pure (state in,
  * (state, emissions) out); the operator owns state storage and timer
  * plumbing. */
private[streaming] final class ClusterWindowLogic(
    k: Int, decay: Double, windowSizeMs: Long, minCount: Int, maxCount: Int,
    seed: Long) extends Serializable {
  require(k > 1 && windowSizeMs > 0 && minCount >= 0 && maxCount > 0
    && decay >= 0 && decay <= 1, "invalid clustering-window parameters")

  import scala.collection.mutable.ArrayBuffer

  def initial: ClusterWinState =
    ClusterWinState(Nil, Nil, Nil, Nil, 0, 0L, windowExtended = false, Map.empty)

  /** The event-time timer the operator should hold after an invocation:
    * the next window end, clamped past the watermark (a due logical timer
    * is handled by the watermark check at the next batch either way). */
  def desiredTimer(st: ClusterWinState, wm: Long): Option[Long] =
    if (st.nextTimer > 0 && !st.windowExtended)
      Some(math.max(st.nextTimer, wm + 1))
    else None

  /** Data-less window-end callback (the operator's timer fired). Guarded
    * on the window actually being due: timer registrations are clamped to
    * wm+1, so a genuine timeout always passes, and a timeout that is not
    * due changes nothing. */
  def onTimeout(st0: ClusterWinState, wm: Long): (ClusterWinState, Seq[ModelRow]) = {
    val out = ArrayBuffer.empty[ModelRow]
    var st = st0
    if (st.nextTimer > 0 && wm >= st.nextTimer && !st.windowExtended)
      st = onWindowEnd(st, out)
    (st, out.toSeq)
  }

  /** A batch of rows under the current watermark. */
  def onData(st0: ClusterWinState, wm: Long,
             it: Iterator[ClusterIn]): (ClusterWinState, Seq[ModelRow]) = {
    val out = ArrayBuffer.empty[ModelRow]
    var st = st0
    // window ends the watermark passed since the last batch fire first —
    // Flink delivers these as onTimer before later elements
    while (st.nextTimer > 0 && wm >= st.nextTimer && !st.windowExtended)
      st = onWindowEnd(st, out)
    // ctrl-before-point within a timestamp: a parameter injected at t
    // applies to points from t on. The full-row tiebreak pins a TOTAL
    // order — same-timestamp rows arrive in shuffle order, and the seeded
    // bootstrap is input-order-sensitive, so anything less breaks the
    // determinism contract of clusterWindows
    val rows = it.toSeq.sortBy(r =>
      (r.ts.getTime, r.ctrl.isEmpty, r.point.mkString(","), r.ctrl))
    rows.foreach { r =>
      if (r.ctrl.nonEmpty) {
        ControlParams.parse(r.ctrl).foreach {
          case ControlParams.K(v)        => st = st.copy(params = st.params + ("k" -> v.toString))
          case ControlParams.Decay(v)    => st = st.copy(params = st.params + ("decay" -> v.toString))
          case ControlParams.Label(i, t) => st = st.copy(params = st.params + (s"label:$i" -> t))
          case _: ControlParams.ParseError => () // dead-letter is the source's job
        }
      } else {
        val ets = r.ts.getTime
        if (st.nextTimer == 0L) // first element: open the window
          st = st.copy(nextTimer = ets + windowSizeMs)
        if (ets > st.nextTimer && !st.windowExtended)
          st = st.copy(nextBuffer = st.nextBuffer :+ r.point) // ahead of window
        else
          st = st.copy(buffer = st.buffer :+ r.point) // in-window or late
        val earlyFire = st.buffer.length >= maxCount
        val delayedFire = st.windowExtended && st.buffer.length >= minCount
        if (earlyFire || delayedFire) {
          st = fire(st, out)
          st = st.copy(nextTimer = ets + windowSizeMs, windowExtended = false)
        }
      }
    }
    (st, out.toSeq)
  }

  // reference onTimer: fire iff count > minCount, else extend
  private def onWindowEnd(st0: ClusterWinState,
                          out: ArrayBuffer[ModelRow]): ClusterWinState = {
    var st = st0
    if (st.buffer.length > minCount) {
      st = fire(st, out)
      st.copy(nextTimer = st.nextTimer + windowSizeMs, windowExtended = false)
    } else st.copy(windowExtended = true)
  }

  // reference emitClusters: cluster the buffer with params read NOW
  private def fire(st0: ClusterWinState,
                   out: ArrayBuffer[ModelRow]): ClusterWinState = {
    var st = st0
    if (st.buffer.nonEmpty) {
      val kNow = st.params.get("k").flatMap(_.toIntOption).getOrElse(k)
      val decayNow = st.params.get("decay").flatMap(_.toDoubleOption).getOrElse(decay)
      val pts = st.buffer.map(_.toVector)
      // previous model repaired to the CURRENT k (reference:
      // buildClusters(points, initial, params.k) k-repair); repair only on
      // an actual k change — ensureK re-sorts by weight, and the decay
      // blend must stay index-aligned between the repaired initial
      // clusters and their Lloyd's-updated versions
      val prev =
        if (st.centroids.isEmpty) None
        else {
          val cs = st.centroids.indices.map(i =>
            KMeans.Cluster(i, st.centroids(i).toVector, st.weights(i))).toVector
          Some(if (cs.length == kNow) cs else KMeans.ensureK(cs, kNow))
        }
      val init = prev.map(_.map(_.centroid))
        .getOrElse(KMeans.bootstrap(pts, kNow, seed))
      val clustered = KMeans.cluster(pts, init)
      val merged = prev.map(cs => KMeans.Model(cs).update(clustered, decayNow))
        .getOrElse(clustered)
      val version = st.version + 1
      val labels = merged.clusters.map(c =>
        st.params.getOrElse(s"label:${c.index}", ""))
      // ClusterMetadata (reference createMetadata :337-373): mean centroid
      // displacement by cluster index (0 for unmatched/new clusters) +
      // cluster-count delta. Displacement pairs use the REPAIRED previous
      // clusters — after a runtime k change ensureK re-sorts and
      // re-indexes, so only the repaired model is index-aligned with the
      // new one (the reference's persistent cluster index maps onto the
      // repaired index here).
      val prevByIdx = prev.getOrElse(Vector.empty)
        .map(c => c.index -> c.centroid).toMap
      val shifts = merged.clusters.map(c =>
        prevByIdx.get(c.index)
          .map(p => math.sqrt(KMeans.sqDist(p, c.centroid)))
          .getOrElse(0.0))
      val avgShift =
        if (shifts.isEmpty) 0.0 else shifts.sum / shifts.length
      out += ModelRow(version, pts.length,
        merged.clusters.map(_.centroid.toSeq), merged.clusters.map(_.weight),
        labels, avgShift, merged.clusters.length - st.centroids.length)
      // next window inherits the ahead-of-window buffer (ref :265-271)
      st = st.copy(buffer = st.nextBuffer, nextBuffer = Nil,
        centroids = merged.clusters.map(_.centroid.toSeq),
        weights = merged.clusters.map(_.weight), version = version)
    }
    st
  }
}
