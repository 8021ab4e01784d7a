package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One edge event: a root (parent_id = None) or a reply pointing at its
  * parent (reference: RawCommentEvent with replyToPostId/replyToCommentId,
  * model/Events.scala:111-120). The trailing payload fields (defaulted for
  * pure-graph callers) ride along so a resolved event can feed downstream
  * per-root statistics without a stream-stream re-join — the reference's
  * comment payload travels through its tree builder the same way
  * (BuildReplyTreeProcessFunction emits whole enriched comments). `tsec`
  * is the event time in epoch milliseconds — the resolver's causality and
  * deadline clock; `ts` carries the same instant as a timestamp. */
final case class EdgeEvent(event_id: Long, tsec: Long, parent_id: Option[Long],
                           user_id: Long = 0L, event_type: String = "",
                           ts: java.sql.Timestamp = null)

/** Resolver state: resolved id → (root, depth, causal, tsec); pending
  * parent id → waiting children. */
final case class TreeState(resolved: Map[Long, (Long, Int, Boolean, Long)],
                           pending: Map[Long, Seq[EdgeEvent]])

/** Edge event with a real event-time column — the watermark carrier for
  * the evicting resolver. Payload fields as in [[EdgeEvent]]. */
final case class EdgeEventT(event_id: Long, ts: java.sql.Timestamp,
                            parent_id: Option[Long],
                            user_id: Long = 0L, event_type: String = "")

/** Evicting-resolver output: a resolved event (`dropped` false) or an
  * evicted dangling reply (`dropped` true, root/depth sentinel −1) — the
  * reference's main + side output collapsed onto one stream, split by the
  * caller with a filter (R3 side-output pattern). The trailing payload
  * columns (the event's own exact event time + attributes) let callers
  * window/aggregate the resolved stream directly; they append AFTER the
  * original five so positional consumers are unaffected. */
final case class TreeOut(event_id: Long, root_id: Long, depth: Int,
                         causal: Boolean, dropped: Boolean,
                         ts: java.sql.Timestamp = null,
                         user_id: Long = 0L, event_type: String = "")

/** Row flowing between the scale-out resolver's frontier and archive hops:
  * a resolved event on its way out (kind 0 — carrying `reg = true` until
  * the hop after its resolution point stores its entry), a probe for a
  * parent outside the frontier (kind 1, keyed by `parent_id`), or a
  * dropped row (kind 0, `dropped = true`, minted at the last hop). */
final case class TreeFlow(kind: Int, event_id: Long, parent_id: Long,
                          root_id: Long, depth: Int, causal: Boolean,
                          tsec: Long, reg: Boolean, dropped: Boolean,
                          ts: java.sql.Timestamp, user_id: Long,
                          event_type: String)

/** One archived resolution: the value type of the distributed archive
  * hops' per-event-id state. */
final case class ArchiveEntry(root_id: Long, depth: Int, causal: Boolean,
                              tsec: Long)

/** The reply-tree resolution step, written once: a pure fold over
  * [[TreeState]] shared by [[ReplyTreeOp.resolveEvicting]] and
  * [[ReplyTreeOp.frontier]], which differ only in what they do with
  * overdue replies. An entry is (root, depth, causal, tsec). */
private[graft] object TreeFold {
  type Entry = (Long, Int, Boolean, Long)

  val empty: TreeState = TreeState(Map.empty, Map.empty)

  def edge(e: EdgeEventT): EdgeEvent =
    EdgeEvent(e.event_id, e.ts.getTime, e.parent_id, e.user_id, e.event_type, e.ts)

  /** Add a micro-batch in event-id order. A root settles; a reply whose
    * parent is resolved settles and then drains its waiting subtree
    * (children in event-id order), carrying the causality check (child
    * tsec >= parent tsec) down the chain — the reference's
    * getDescendants:367-393; any other reply parks under its parent id.
    * Returns each settlement as (event, entry), in emission order. */
  def add(st: TreeState, events: Seq[EdgeEvent]): (TreeState, Seq[(EdgeEvent, Entry)]) = {
    val out = Vector.newBuilder[(EdgeEvent, Entry)]

    def settle(s: TreeState, e: EdgeEvent, parent: Option[Entry]): TreeState = {
      val entry = parent match {
        case None => (e.event_id, 0, true, e.tsec)
        case Some((root, depth, causal, ptsec)) =>
          (root, depth + 1, causal && e.tsec >= ptsec, e.tsec)
      }
      out += e -> entry
      drain(s.copy(resolved = s.resolved + (e.event_id -> entry)), e.event_id, entry)
    }

    def drain(s: TreeState, id: Long, p: Entry): TreeState =
      s.pending.get(id).fold(s) { kids =>
        kids.sortBy(_.event_id)
          .foldLeft(s.copy(pending = s.pending - id))(settle(_, _, Some(p)))
      }

    val next = events.sortBy(_.event_id).foldLeft(st) { (s, e) =>
      e.parent_id match {
        case Some(pid) if !s.resolved.contains(pid) =>
          s.copy(pending = s.pending + (pid -> (s.pending.getOrElse(pid, Nil) :+ e)))
        case parent => settle(s, e, parent.map(s.resolved))
      }
    }
    (next, out.result())
  }

  /** Remove the pending replies with `tsec <= wm`; returns them as
    * (parent id, event) in (parent id, event id) order. */
  def takeOverdue(st: TreeState, wm: Long): (TreeState, Seq[(Long, EdgeEvent)]) = {
    val hit = st.pending.filter(_._2.exists(_.tsec <= wm))
    if (hit.isEmpty) (st, Nil)
    else {
      val due = hit.toSeq.sortBy(_._1).flatMap { case (pid, kids) =>
        kids.filter(_.tsec <= wm).sortBy(_.event_id).map(pid -> _)
      }
      val pending = hit.foldLeft(st.pending) { case (m, (pid, kids)) =>
        val rest = kids.filter(_.tsec > wm)
        if (rest.isEmpty) m - pid else m + (pid -> rest)
      }
      (st.copy(pending = pending), due)
    }
  }

  /** Remove the transitive waiting subtree of `id`; returns it in
    * pre-order, siblings by event id. */
  def takeSubtree(st: TreeState, id: Long): (TreeState, Seq[EdgeEvent]) =
    st.pending.get(id).fold((st, Seq.empty[EdgeEvent])) { kids =>
      kids.sortBy(_.event_id)
        .foldLeft((st.copy(pending = st.pending - id), Vector.empty[EdgeEvent])) {
          case ((s, acc), k) =>
            val (s1, sub) = takeSubtree(s, k.event_id)
            (s1, (acc :+ k) ++ sub)
        }
    }
}

/** Streaming reply-tree resolution — SURVEY §7.4 Plan A (reference:
  * streams/BuildReplyTreeProcessFunction.scala:28-409). Events arrive in
  * any order across micro-batches; a reply whose parent is unknown parks in
  * pending state; when its parent resolves, the whole waiting subtree
  * resolves recursively (the reference's getDescendants:367-393), carrying
  * the causality check (child ts >= parent ts) down the chain. Emission is
  * incremental (append mode): an event is emitted exactly once, in the
  * micro-batch where its chain reaches a root.
  *
  * Runs as ONE state group — the reference's effective behavior too: its
  * mapping state is replicated across all workers via broadcast
  * (acknowledged at BuildReplyTreeProcessFunction.scala:207-214). The
  * scale-out variant partitions by root-affinity once resolved and keeps
  * only the unresolved frontier in the single group. Eviction of stale
  * pending entries (the reference's watermark-based dangling drop,
  * :288-317) is [[ReplyTreeOp.resolveEvicting]]: pending replies whose
  * event time the watermark has passed are dropped WITH their transitive
  * waiting children and side-output as `dropped` rows — pending state is
  * bounded by the watermark horizon instead of growing forever under
  * sustained dangling input.
  *
  * NOTE on the fully-partitioned form: a reply resolved in this batch must
  * be able to resolve ITS children, which wait under a different key —
  * that feedback edge cannot exist inside one streaming stateful operator
  * (no cycles in a streaming plan). Two distributed answers exist:
  * [[resolveScaleOut]] unrolls the feedback a bounded number of times
  * (frontier + chained archive hops — the resolved map lives in
  * hash-partitioned keyed state), and a per-micro-batch fixpoint against
  * a persisted mapping store partitioned by comment id (`foreachBatch` +
  * the GraphPack fixpoint + KeyedUpsertSink, not built) would be the
  * unbounded-depth form. THIS operator is
  * the reference-faithful in-graph form (the reference replicates its
  * mapping state to every worker too,
  * BuildReplyTreeProcessFunction.scala:207-214).
  */
object ReplyTreeOp {

  /** The evicting resolver: the [[TreeFold]] step plus watermark-based
    * dangling-reply eviction (reference:
    * BuildReplyTreeProcessFunction.evictDanglingReplies:288-317 — a pending
    * reply whose event time the watermark has passed will never find its
    * parent: drop it AND its transitive waiting children — getWithChildren
    * :301-303 — and report them on the side output, streams/package.scala
    * :287-298). Resolved rows carry `dropped = false`; evicted replies
    * `dropped = true`. Input must carry a watermark on `ts`.
    *
    * Eviction runs against the current watermark before each batch's rows
    * and in a timeout callback armed at the oldest pending reply's
    * timestamp, so state drains even when no further data arrives for the
    * group — pending size is bounded by the replies INSIDE the watermark
    * horizon. */
  def resolveEvicting(events: Dataset[EdgeEventT]): Dataset[TreeOut] = {
    implicit val stateEnc = StreamOps.stateEncoder[TreeState]
    implicit val outEnc = Encoders.product[TreeOut]
    implicit val keyEnc = Encoders.scalaInt
    events.groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: Int, it: Iterator[EdgeEventT], state: GroupState[TreeState]) => {
          val wm = state.getCurrentWatermarkMs()
          // watermark advanced since the last invocation
          val (st0, lost) = dropOverdue(state.getOption.getOrElse(TreeFold.empty), wm)
          val (st, settled) =
            if (state.hasTimedOut) (st0, Nil) else TreeFold.add(st0, it.map(TreeFold.edge).toSeq)
          state.update(st)
          // re-arm: evict as soon as the watermark passes the oldest
          // pending reply (nothing pending -> no timer needed)
          st.pending.valuesIterator.flatten.map(_.tsec).minOption.foreach(t =>
            state.setTimeoutTimestamp(math.max(t + 1, wm + 1)))
          lost.iterator.map(e => TreeOut(e.event_id, -1L, -1, causal = false,
            dropped = true, e.ts, e.user_id, e.event_type)) ++
            settled.iterator.map { case (e, (root, depth, causal, _)) =>
              TreeOut(e.event_id, root, depth, causal, dropped = false,
                e.ts, e.user_id, e.event_type)
            }
        })
  }

  /** [[resolveEvicting]]'s overdue policy: take every pending reply the
    * watermark has passed, each followed by its transitive waiting subtree
    * (reference getWithChildren: children of a dropped reply are dropped
    * regardless of their own timestamps). */
  private[graft] def dropOverdue(st: TreeState, wm: Long): (TreeState, Seq[EdgeEvent]) = {
    val (st1, due) = TreeFold.takeOverdue(st, wm)
    val (st2, lost) = due.foldLeft((st1, Vector.empty[EdgeEvent])) {
      case ((s, acc), (_, e)) =>
        val (s1, sub) = TreeFold.takeSubtree(s, e.event_id)
        (s1, (acc :+ e) ++ sub)
    }
    (st2, lost.distinctBy(_.event_id))
  }

  /** SCALE-OUT streaming resolution (SURVEY §7.4's sketch): the unbounded
    * resolved map — one entry per event EVER seen, the state that makes
    * [[resolveEvicting]]'s single group the lone non-distributed operator
    * in the library — moves into hash-partitioned keyed state; the single
    * group keeps only the watermark-bounded FRONTIER.
    *
    * Topology (one streaming query, `1 + hops` chained stateful operators):
    *
    *  1. [[frontier]] (single group): pending replies + entries resolved
    *     here within `recentHorizonMs` of event time. Parents inside the
    *     horizon resolve children immediately (the reference's fast path —
    *     virtually all traffic, since replies cluster near their parents);
    *     a reply whose parent is still unknown when the watermark passes
    *     the reply's own event time — [[resolveEvicting]]'s drop deadline —
    *     is forwarded as a PROBE instead of dropped.
    *  2. `hops` × [[archiveHop]] (keyed by event id, DISTRIBUTED): each
    *     resolved row registers its entry at the hop after its resolution
    *     point (exactly once across the chain); probes route to the
    *     partition owning the parent id and either resolve there or fall
    *     through to the next hop; the last hop turns unresolved probes into
    *     `dropped` rows.
    *
    * Equivalence to [[resolveEvicting]] (ScaleOutReplyTreeSpec): same
    * resolved set with identical (root, depth, causal) and same dropped
    * set, because a probe fires at exactly the moment resolveEvicting
    * would drop, and the archive holds precisely the events resolved by
    * then. Differences, both documented trade-offs of distributing the
    * state: (a) slow-path rows emit at their watermark deadline rather
    * than on parent arrival; (b) a lineage may cross at most `hops`
    * consecutive slow-path generations — generation k+1 of a
    * necro-revival chain (each generation arriving > horizon after its
    * parent) resolves at hop k+1, so chains deeper than `hops` such
    * generations drop. Fast-path generations (within the horizon) are
    * unlimited. At 100 TB, `hops` covers the p99.9 revival depth and a
    * per-micro-batch fixpoint job would be the unbounded answer.
    *
    * Callers must disable
    * `spark.sql.streaming.statefulOperator.checkCorrectness.enabled` at
    * query start (probe rows are behind the watermark BY DESIGN — they
    * fire at the drop deadline; the loss semantics are the reference's own
    * allowed-lateness drop), the same scoped opt-out as
    * PostStatisticsJob.runResolved. Input must carry a watermark on `ts`.
    */
  def resolveScaleOut(events: Dataset[EdgeEventT], hops: Int = 3,
                      recentHorizonMs: Long = 6L * 3600 * 1000): Dataset[TreeOut] = {
    require(hops >= 1, "need at least one archive hop")
    val flows = (1 to hops).foldLeft(frontier(events, recentHorizonMs)) {
      (ds, i) => archiveHop(ds, last = i == hops)
    }
    flows.map(r => TreeOut(r.event_id, r.root_id, r.depth, r.causal,
      r.dropped, r.ts, r.user_id, r.event_type))(Encoders.product[TreeOut])
  }

  /** The single-group frontier: pending (watermark-bounded, as in
    * [[resolveEvicting]]) + recent resolutions (horizon-bounded). Overdue
    * pending replies leave as probes; resolved rows leave with
    * `reg = true` for the first archive hop. */
  private[streaming] def frontier(events: Dataset[EdgeEventT],
                                  horizonMs: Long): Dataset[TreeFlow] = {
    implicit val stateEnc = StreamOps.stateEncoder[TreeState]
    implicit val outEnc = Encoders.product[TreeFlow]
    implicit val keyEnc = Encoders.scalaInt
    events.groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: Int, it: Iterator[EdgeEventT], state: GroupState[TreeState]) => {
          val wm = state.getCurrentWatermarkMs()
          // overdue pending replies become probes — the same deadline at
          // which resolveEvicting drops them, but here the archive gets
          // the last word. NOT transitive: children of a probed reply hit
          // their own deadlines later and probe for it by id.
          val (st0, due) = TreeFold.takeOverdue(
            state.getOption.getOrElse(TreeFold.empty), wm)
          val (st1, settled) =
            if (state.hasTimedOut) (st0, Nil) else TreeFold.add(st0, it.map(TreeFold.edge).toSeq)
          // horizon eviction: entries the watermark has outrun by more
          // than the horizon can no longer serve a fast-path child — any
          // later child probes the archive at its own deadline instead
          val stale = st1.resolved.iterator
            .filter { case (_, (_, _, _, t)) => t + horizonMs <= wm }
            .map(_._1).toSeq
          val st = if (stale.isEmpty) st1 else st1.copy(resolved = st1.resolved -- stale)
          state.update(st)
          // re-arm for the earliest future obligation: a pending reply's
          // probe deadline or a recent entry's horizon expiry — state
          // drains even if the group never sees another row
          (st.pending.valuesIterator.flatten.map(_.tsec) ++
            st.resolved.valuesIterator.map(_._4 + horizonMs)).minOption
            .foreach(t => state.setTimeoutTimestamp(math.max(t + 1, wm + 1)))
          due.iterator.map { case (pid, e) =>
            TreeFlow(1, e.event_id, pid, -1L, -1, causal = false, e.tsec,
              reg = false, dropped = false, e.ts, e.user_id, e.event_type)
          } ++ settled.iterator.map { case (e, (root, depth, causal, _)) =>
            TreeFlow(0, e.event_id, e.parent_id.getOrElse(-1L), root, depth,
              causal, e.tsec, reg = true, dropped = false, e.ts, e.user_id,
              e.event_type)
          }
        })
  }

  /** One distributed archive hop: keyed state `event id → ArchiveEntry`.
    * Registrations (resolved rows with `reg = true`) store their entry
    * here and travel on with `reg = false`; probes keyed by `parent_id`
    * resolve against the entry or fall through (last hop: become
    * `dropped`). Registrations are applied before probes so a same-batch
    * upstream resolution serves this batch's probes — the archive is
    * exactly as current as the single group's map at the drop deadline. */
  private[streaming] def archiveHop(in: Dataset[TreeFlow],
                                    last: Boolean): Dataset[TreeFlow] = {
    implicit val stateEnc = Encoders.product[ArchiveEntry]
    implicit val outEnc = Encoders.product[TreeFlow]
    implicit val keyEnc = Encoders.scalaLong
    in.groupByKey(r => if (r.kind == 1) r.parent_id else r.event_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, it: Iterator[TreeFlow], state: GroupState[ArchiveEntry]) => {
          val rows = it.toSeq
          val out = scala.collection.mutable.ArrayBuffer.empty[TreeFlow]
          rows.filter(r => r.kind == 0 && r.reg).sortBy(_.event_id).foreach { r =>
            if (!state.exists)
              state.update(ArchiveEntry(r.root_id, r.depth, r.causal, r.tsec))
            out += r.copy(reg = false)
          }
          rows.filter(r => r.kind == 0 && !r.reg).foreach(out += _)
          val entry = state.getOption
          rows.filter(_.kind == 1).sortBy(_.event_id).foreach { p =>
            entry match {
              case Some(en) =>
                out += TreeFlow(0, p.event_id, p.parent_id, en.root_id,
                  en.depth + 1, en.causal && p.tsec >= en.tsec, p.tsec,
                  reg = !last, dropped = false, p.ts, p.user_id, p.event_type)
              case None =>
                if (last)
                  out += p.copy(kind = 0, root_id = -1L, depth = -1,
                    causal = false, reg = false, dropped = true)
                else out += p
            }
          }
          out.iterator
        })
  }
}
