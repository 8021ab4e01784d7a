package graft

import graft.operators.GraphPack
import graft.streaming.{EdgeEventT, ReplyTreeOp}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming reply-tree (Plan A) vs. batch fixpoint (Plan B) equivalence —
  * the reference's BuildReplyTreeProcessFunctionITSuite invariants
  * (recursive descendant resolution, causality, exactly-once emission)
  * under adversarial arrival orders. */
class ReplyTreeStreamSpec extends GraftSuite {

  private def t(ms: Long) = new java.sql.Timestamp(ms)

  private lazy val edges: Seq[EdgeEventT] = {
    Tables.events(spark, sf)
      .select(col("event_id"), unix_timestamp(col("ts")).as("tsec"),
        when(col("event_type") === "click",
          col("event_id") - 1 - (regexp_extract(col("props"), "(\\d+)", 1).cast("long") % 4))
          .otherwise(lit(null)).as("parent_id"))
      .collect().map { r =>
        EdgeEventT(r.getLong(0), t(r.getLong(1) * 1000L),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))
      }.toSeq
  }

  private lazy val batchResolved: Map[Long, (Long, Int, Boolean)] =
    GraphPack.queries("q45_reply_tree_roots")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getBoolean(3)))).toMap

  /** The evicting resolver's resolved rows into memory table `name`. The
    * watermark delay is longer than any input's event-time span, so
    * nothing evicts: every reply waits for its parent. */
  private def startResolved(stream: MemoryStream[EdgeEventT], name: String) =
    ReplyTreeOp.resolveEvicting(stream.toDS().withWatermark("ts", "3650 days"))
      .filter(!col("dropped"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()

  private def runStreaming(feed: Seq[Seq[EdgeEventT]], name: String): Map[Long, (Long, Int, Boolean)] = {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[EdgeEventT]
    val q = startResolved(stream, name)
    try {
      feed.foreach { c => stream.addData(c); q.processAllAvailable() }
      spark.table(name).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getBoolean(3)))).toMap
    } finally q.stop()
  }

  test("streaming resolution equals the batch fixpoint (in-order feed)") {
    val got = runStreaming(edges.grouped(edges.length / 3 + 1).toSeq, "rt_inorder")
    assert(got == batchResolved)
  }

  test("streaming resolution equals the batch fixpoint (reverse order: children before parents)") {
    val got = runStreaming(edges.reverse.grouped(edges.length / 3 + 1).toSeq, "rt_reverse")
    assert(got == batchResolved)
  }

  test("streaming resolution equals the batch fixpoint (seeded shuffle across 5 batches)") {
    val r = new scala.util.Random(99)
    val shuffled = r.shuffle(edges)
    val got = runStreaming(shuffled.grouped(edges.length / 5 + 1).toSeq, "rt_shuffled")
    assert(got == batchResolved)
  }

  test("dangling replies evict once the watermark passes; dropped = batch q45 complement") {
    // reference BuildReplyTreeProcessFunction.evictDanglingReplies:288-317:
    // a pending reply whose event time the watermark passed can never find
    // its parent -> dropped (with transitive children) to the side output.
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[EdgeEventT]
    // 2h watermark delay: lets the test hold C1's event time AHEAD of the
    // watermark at X's eviction, so C1 can only drop TRANSITIVELY
    val q = ReplyTreeOp.resolveEvicting(
        stream.toDS().withWatermark("ts", "2 hours"))
      .writeStream.format("memory").queryName("rt_evict")
      .outputMode("append").start()
    try {
      val maxSec = edges.map(_.ts.getTime / 1000L).max
      edges.grouped(edges.length / 3 + 1)
        .foreach { c => stream.addData(c); q.processAllAvailable() }
      // at sf0.001 every natural event resolves, so inject a dangling
      // chain: X waits on a parent that never comes, C1 waits on X with an
      // event time AHEAD of the watermark at X's eviction - it must drop
      // TRANSITIVELY with X (reference getWithChildren :301-303), not by
      // its own timestamp
      val xId = 5000001L; val c1Id = 5000002L
      stream.addData(
        EdgeEventT(xId,
          new java.sql.Timestamp((maxSec + 10) * 1000L), Some(-999L)),
        EdgeEventT(c1Id,
          new java.sql.Timestamp((maxSec + 5000) * 1000L), Some(xId)))
      q.processAllAvailable()
      // nudge 1 -> watermark = maxSec+200: past X (+10), NOT past C1
      // (+5000); nudge 2 -> watermark = maxSec+7400: past everything
      val nudgeId = 10000000L
      stream.addData(EdgeEventT(
        nudgeId, new java.sql.Timestamp((maxSec + 7400) * 1000L), None))
      q.processAllAvailable()
      val afterNudge1 = spark.table("rt_evict").collect()
      assert(afterNudge1.exists(r => r.getLong(0) == c1Id && r.getBoolean(4)),
        "C1 must drop transitively with X, ahead of its own event time")
      stream.addData(EdgeEventT(
        nudgeId + 1, new java.sql.Timestamp((maxSec + 14600) * 1000L), None))
      q.processAllAvailable()

      val rows = spark.table("rt_evict").collect()
        .filter(r => r.getLong(0) < nudgeId)
      val resolved = rows.filter(!_.getBoolean(4))
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getBoolean(3)))).toMap
      val droppedSet = rows.filter(_.getBoolean(4)).map(_.getLong(0)).toSet

      // resolved rows match the batch fixpoint exactly
      assert(resolved == batchResolved)
      // dropped = the batch complement (q45 silently drops danglers):
      // the natural complement plus the injected dangling chain
      val complement =
        (edges.map(_.event_id).toSet -- batchResolved.keySet) + xId + c1Id
      assert(droppedSet == complement,
        s"missing=${(complement -- droppedSet).take(5)} extra=${(droppedSet -- complement).take(5)}")
      // every event is accounted for exactly once -> pending state is empty
      assert(rows.length == edges.length + 2)
      assert(resolved.keySet.intersect(droppedSet).isEmpty)

      // pending really is gone: a late-arriving parent of a dropped reply
      // must resolve nothing (the reply was evicted, not parked)
      val before = spark.table("rt_evict").count()
      stream.addData(EdgeEventT(
        xId, new java.sql.Timestamp((maxSec + 14700) * 1000L), None))
      q.processAllAvailable()
      val after = spark.table("rt_evict").collect()
      assert(after.length == before + 1, "evicted children must NOT resurrect")
      assert(after.count(r => r.getLong(0) == c1Id) == 1)
    } finally q.stop()
  }

  test("property: random forests under random arrival orders and chunkings resolve to the local fixpoint") {
    // randomized depth over the recursive drain logic: parents always
    // precede children in ID (so no danglers), but arrival order and
    // micro-batch boundaries are shuffled per sample — every node must
    // emit exactly once with the locally-computed (root, depth, causal)
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(20260813L)
    (1 to 6).foreach { sample =>
      val n = 8 + rnd.nextInt(25)
      val nodes = (0L until n).map { i =>
        val parent = if (i == 0 || rnd.nextInt(4) == 0) None
                     else Some(rnd.nextLong(i)) // any earlier node
        // event times from 1 s: a reply at the initial watermark (0)
        // would already be overdue
        EdgeEventT(i, t((1 + rnd.nextInt(1000)) * 1000L), parent)
      }
      // local fixpoint: ids ascend from roots, so one forward pass settles
      val expect = scala.collection.mutable.Map.empty[Long, (Long, Int, Boolean)]
      nodes.foreach { e =>
        e.parent_id match {
          case None => expect(e.event_id) = (e.event_id, 0, true)
          case Some(p) =>
            val (r, d, c) = expect(p)
            val pts = nodes(p.toInt).ts.getTime
            expect(e.event_id) = (r, d + 1, c && e.ts.getTime >= pts)
        }
      }
      val arrival = rnd.shuffle(nodes)
      val stream = MemoryStream[EdgeEventT]
      val q = startResolved(stream, s"rt_prop_$sample")
      try {
        var rest = arrival.toList
        while (rest.nonEmpty) {
          val take = 1 + rnd.nextInt(rest.length)
          stream.addData(rest.take(take)); q.processAllAvailable()
          rest = rest.drop(take)
        }
        val got = spark.table(s"rt_prop_$sample").collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getBoolean(3))))
        assert(got.length == n, s"sample $sample: ${got.length} emissions for $n nodes")
        assert(got.toMap == expect.toMap, s"sample $sample diverged")
      } finally q.stop()
    }
  }

  test("each event is emitted exactly once across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[EdgeEventT]
    val q = startResolved(stream, "rt_once")
    try {
      edges.reverse.grouped(edges.length / 4 + 1)
        .foreach { c => stream.addData(c); q.processAllAvailable() }
      val ids = spark.table("rt_once").select("event_id").collect().map(_.getLong(0))
      assert(ids.length == ids.distinct.length, "duplicate emission")
    } finally q.stop()
  }
}
