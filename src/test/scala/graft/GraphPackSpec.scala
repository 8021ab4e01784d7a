package graft

import graft.operators.{Artifacts, GraphPack}
import org.apache.spark.sql.functions._

class GraphPackSpec extends GraftSuite {

  private lazy val resolved = GraphPack.queries("q45_reply_tree_roots")(spark, sf)
    .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2), r.getBoolean(3))).toMap

  private lazy val events = Tables.events(spark, sf)
    .select(col("event_id"), col("event_type"),
      regexp_extract(col("props"), "(\\d+)", 1).cast("long").as("k"),
      unix_timestamp(col("ts")).as("tsec"))
    .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap

  test("non-reply events are their own root at depth 0") {
    events.foreach { case (id, (etype, _, _)) =>
      if (etype != "click") {
        val (root, depth, causal) = resolved(id)
        assert(root == id && depth == 0 && causal)
      }
    }
  }

  test("reply chains: parent is at depth-1 with the same root (fixpoint invariant)") {
    events.foreach { case (id, (etype, k, _)) =>
      if (etype == "click") {
        val parent = id - 1 - (k % 4)
        (resolved.get(id), resolved.get(parent)) match {
          case (Some((root, depth, _)), Some((proot, pdepth, _))) =>
            assert(root == proot && depth == pdepth + 1, s"chain broken at $id")
          case (Some(_), None) =>
            fail(s"$id resolved but its parent $parent did not")
          case (None, _) => // dangling chain — correctly dropped
        }
      }
    }
  }

  test("causality: a resolved reply is causal iff parent causal and ts >= parent ts") {
    events.foreach { case (id, (etype, k, tsec)) =>
      if (etype == "click") {
        val parent = id - 1 - (k % 4)
        (resolved.get(id), resolved.get(parent), events.get(parent)) match {
          case (Some((_, _, causal)), Some((_, _, pcausal)), Some((_, _, ptsec))) =>
            assert(causal == (pcausal && tsec >= ptsec), s"causality wrong at $id")
          case _ =>
        }
      }
    }
  }

  test("only dangling events are unresolved") {
    val all = events.keySet
    val unresolvedIds = all -- resolved.keySet
    // every unresolved event must head a chain whose parent id doesn't exist
    unresolvedIds.foreach { id =>
      var cur = id
      var steps = 0
      while (events.contains(cur) && events(cur)._1 == "click" && steps < 100) {
        cur = cur - 1 - (events(cur)._2 % 4)
        steps += 1
      }
      assert(!events.contains(cur), s"$id unresolved but its chain reaches existing $cur")
    }
  }

  test("q46 stats: descendant counts sum to number of resolved replies") {
    val stats = GraphPack.queries("q46_reply_tree_stats")(spark, sf).collect()
    val descendants = stats.map(_.getLong(1)).sum
    val resolvedReplies = resolved.count { case (_, (_, depth, _)) => depth > 0 }
    assert(descendants == resolvedReplies)
  }

  test("q135 thread paths: each path walks root→leaf along parent edges") {
    val parentOf: Map[Long, Long] = events.collect {
      case (id, ("click", k, _)) => id -> (id - 1 - (k % 4))
    }.toMap
    val targeted: Set[Long] = parentOf.values.toSet
    val rows = GraphPack.queries("q135_thread_paths")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (leaf, root, depth, nTurns, path) =
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getString(5))
      val ids = path.split(">").map(_.toLong)
      assert(ids.head == root && ids.last == leaf)
      assert(ids.length == nTurns && nTurns == depth + 1)
      ids.sliding(2).foreach { case Array(p, c) =>
        assert(parentOf(c) == p, s"$c's parent is not $p in path $path")
      }
      assert(!targeted.contains(leaf), s"$leaf has a reply — not a leaf")
      // path agrees with the q45 resolution of the leaf
      assert(resolved(leaf) == ((root, depth, r.getBoolean(4))))
    }
  }

  test("q135 covers exactly the resolved leaves with depth >= 1") {
    val parentOf: Map[Long, Long] = events.collect {
      case (id, ("click", k, _)) => id -> (id - 1 - (k % 4))
    }.toMap
    val targeted = parentOf.values.toSet
    val expected = resolved.collect {
      case (id, (_, depth, _)) if depth >= 1 && !targeted.contains(id) => id
    }.toSet
    val got = GraphPack.queries("q135_thread_paths")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(got == expected)
  }

  test("resolvedChains is memoized per (session, dir) and invalidation rebuilds identically") {
    // a fresh session, so invalidating does not make later suites rebuild
    // the shared session's artifacts
    val s = spark.newSession()
    val a = GraphPack.resolvedChains(s, sf)
    assert(GraphPack.resolvedChains(s, sf) eq a,
      "second call must hit the memo, not re-run the fixpoint")
    Artifacts.invalidate(s, Some(sf))
    val b = GraphPack.resolvedChains(s, sf)
    assert(!(b eq a), "invalidate must force a rebuild")
    assert(b.exceptAll(a).isEmpty && a.exceptAll(b).isEmpty,
      "rebuilt chain must carry identical rows")
    Artifacts.invalidate(s)
  }
}
