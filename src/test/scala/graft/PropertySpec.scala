package graft

import graft.functions.KMeans
import graft.streaming.{ControlParams, EdgeEvent, ReplyTreeOp, TreeFold}
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based invariants over the pure modules (SURVEY §5 "ScalaCheck
  * for bucketing/topN/set-op properties"). Raw ScalaCheck Prop/Test API
  * (the scalatest bridge artifact is not in the offline cache). */
class PropertySpec extends AnyFunSuite {

  private def check(p: Prop, n: Int = 100): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  private val pointGen: Gen[Vector[Double]] =
    Gen.listOfN(3, Gen.chooseNum(-100.0, 100.0)).map(_.toVector)

  test("ensureK always yields exactly k clusters with indices 0..k-1, splits preserve weight") {
    val clusterGen = for {
      c <- pointGen
      w <- Gen.chooseNum(0.1, 50.0)
    } yield KMeans.Cluster(0, c, w)
    check(Prop.forAll(Gen.nonEmptyListOf(clusterGen), Gen.choose(1, 8)) { (cs, k) =>
      val fixed = KMeans.ensureK(cs.toVector, k)
      fixed.length == k &&
        fixed.map(_.index) == (0 until k).toVector &&
        (cs.length > k ||
          math.abs(fixed.map(_.weight).sum - cs.map(_.weight).sum) < 1e-6)
    })
  }

  test("classify returns a centroid at minimal distance (argmin property)") {
    check(Prop.forAll(Gen.nonEmptyListOf(pointGen), pointGen) { (cents, p) =>
      val m = KMeans.Model(cents.toVector.zipWithIndex.map { case (c, i) =>
        KMeans.Cluster(i, c, 1.0)
      })
      KMeans.sqDist(m.classify(p).centroid, p) == cents.map(c => KMeans.sqDist(c, p)).min
    })
  }

  test("nearest-centroid kernel: index equals classify's, ties to the first, in both arithmetic forms") {
    import org.apache.spark.sql.functions.col
    val spark = SparkTestBase.spark
    import spark.implicits._
    // small integer coordinates: every difference, product and sum below is
    // exact, so both forms see the exact ties that classify's minBy breaks
    val coord = Gen.choose(-3, 3).map(_.toDouble)
    val pt = Gen.listOfN(3, coord).map(_.toVector)
    // k centroids drawn from k-1 distinct points: at least one exact duplicate
    val centsGen = for {
      k <- Gen.choose(2, 6)
      pool <- Gen.listOfN(k - 1, pt)
      cents <- Gen.listOfN(k, Gen.oneOf(pool))
    } yield cents.toVector
    // no shrinking: shrunk doubles leave the exact integer grid
    check(Prop.forAllNoShrink(centsGen, Gen.listOfN(30, pt)) { (cents, ps) =>
      val pts = ps.toVector ++ cents
      val xs = Seq(col("x0"), col("x1"), col("x2"))
      val ds = cents.zipWithIndex.map { case (c, i) => KMeans.sqDist(xs, c).as(s"d$i") }
      val ss = cents.zipWithIndex.map { case (c, i) => KMeans.score(col("v"), c).as(s"s$i") }
      val (byDist, _) = KMeans.nearest(cents.indices.map(i => col(s"d$i")))
      val (byScore, _) = KMeans.nearest(cents.indices.map(i => col(s"s$i")))
      val got = pts.map(p => (p(0), p(1), p(2), p)).toDF("x0", "x1", "x2", "v")
        .select(ds ++ ss: _*).select(byDist, byScore).as[(Int, Int)].collect().toSeq
      val m = KMeans.Model(cents.zipWithIndex.map { case (c, i) => KMeans.Cluster(i, c, 1.0) })
      got == pts.map { p => val i = m.classify(p).index; (i, i) }
    }, n = 50)
  }

  test("decayed update: weight = oldWeight*decay + newWeight; centroid inside the blend segment") {
    check(Prop.forAll(Gen.chooseNum(0.0, 1.0), Gen.chooseNum(0.1, 100.0),
      Gen.chooseNum(0.1, 100.0), pointGen, pointGen) { (decay, ow, nw, oc, nc) =>
      val merged = KMeans.Model(Vector(KMeans.Cluster(0, oc, ow)))
        .update(KMeans.Model(Vector(KMeans.Cluster(0, nc, nw))), decay)
      math.abs(merged.clusters.head.weight - (ow * decay + nw)) < 1e-9 &&
        merged.clusters.head.centroid.zipWithIndex.forall { case (v, i) =>
          v >= math.min(oc(i), nc(i)) - 1e-9 && v <= math.max(oc(i), nc(i)) + 1e-9
        }
    })
  }

  test("k-means clustering assigns every point: weights sum to the point count") {
    check(Prop.forAll(Gen.listOfN(30, pointGen), Gen.choose(1, 5)) { (pts, k) =>
      val m = KMeans.cluster(pts, KMeans.bootstrap(pts, k))
      m.clusters.map(_.weight).sum == pts.length.toDouble
    }, n = 50)
  }

  test("Misra-Gries: bounds hold on arbitrary streams and arbitrary chunked merges") {
    val itemGen = Gen.listOf(Gen.oneOf(
      Gen.choose(0, 4).map(i => s"hot$i"),      // skewed head
      Gen.choose(0, 500).map(i => s"cold$i")))  // long tail
    check(Prop.forAll(itemGen, Gen.choose(2, 12), Gen.choose(1, 7)) { (items, k, chunks) =>
      val sk = new graft.functions.FreqSketch(k)
      val bufs = items.grouped(math.max(1, items.length / chunks + 1))
        .map(c => c.foldLeft(sk.zero)(sk.reduce)).toSeq
      val m = if (bufs.isEmpty) sk.zero else bufs.reduceLeft(sk.merge)
      val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = items.length.toLong
      val bound = n / (k + 1)
      m.n == n && m.counts.size <= k &&
        truth.filter(_._2 > bound).keys.forall(m.counts.contains) &&
        m.counts.forall { case (t, est) =>
          est <= truth(t) && truth(t) - est <= bound
        }
    }, n = 200)
  }

  test("Efraimidis-Spirakis keys: weight scaling never changes the selected set") {
    // key = ln(u)/w is order-equivariant under w -> c*w (all keys scale by
    // 1/c > 0), so the top-k sample depends only on RELATIVE weights — the
    // property that makes the sampler unit-free.
    val rowGen = Gen.listOf(for {
      id <- Gen.choose(0L, 100000L)
      w <- Gen.chooseNum(1.0, 5000.0)
      u <- Gen.chooseNum(1e-6, 1.0)
    } yield (id, w, u)).map(_.distinctBy(_._1))
    check(Prop.forAll(rowGen, Gen.chooseNum(0.001, 1000.0), Gen.choose(1, 10)) {
      (rows, c, k) =>
        def top(scale: Double): Seq[Long] =
          rows.map { case (id, w, u) => (id, math.log(u) / (w * scale)) }
            .sortBy { case (id, key) => (-key, id) }.take(k).map(_._1)
        top(1.0) == top(c)
    }, n = 200)
  }

  test("control-param parse: k/decay round-trip, '='-free garbage errors, comments nothing") {
    check(Prop.forAll(Gen.choose(1, 999)) { k =>
      ControlParams.parse(s"k=$k").contains(ControlParams.K(k))
    })
    check(Prop.forAll(Gen.chooseNum(0.0, 1.0)) { d =>
      ControlParams.parse(s"decay=$d").contains(ControlParams.Decay(d))
    })
    check(Prop.forAll(Gen.alphaStr.suchThat(s => s.nonEmpty && !s.startsWith("#"))) { s =>
      ControlParams.parse(s) match {
        case Some(ControlParams.ParseError(_, _)) => true
        case _ => false
      }
    })
    assert(ControlParams.parse("# anything").isEmpty)
    assert(ControlParams.parse("").isEmpty)
    // a model needs at least one centroid: k=0 is a dead-letter line
    assert(ControlParams.parse("k=0").exists(_.isInstanceOf[ControlParams.ParseError]))
  }

  test("foldFp: canonical is the first-seen batch's min under any batching; verdicts never retract") {
    import graft.streaming.{CurDoc, CurateStream}
    def doc(id: Long) = CurDoc(id, "en", "s", "t", 1L)
    val idsGen = Gen.nonEmptyListOf(Gen.choose(0L, 50L)).map(_.distinct)
    val cutsGen = Gen.listOf(Gen.choose(1, 5))
    check(Prop.forAll(idsGen, cutsGen) { (ids, cuts) =>
      // partition ids into batches by the random cut widths
      val batches = {
        var rest = ids; val out = scala.collection.mutable.ListBuffer
          .empty[List[Long]]
        val ws = if (cuts.isEmpty) List(ids.length) else cuts
        var i = 0
        while (rest.nonEmpty) {
          val w = ws(i % ws.length); out += rest.take(w); rest = rest.drop(w)
          i += 1
        }
        out.toList
      }
      var st: Option[Long] = None
      val tags = scala.collection.mutable.Map.empty[Long, Boolean]
      batches.foreach { b =>
        val (st2, out) = CurateStream.foldFp(st, b.map(doc))
        st = st2
        out.foreach(t => tags(t.doc_id) = t.is_dup)
      }
      // exactly one canonical; it is the min of its own and all EARLIER
      // batches' ids (first-seen), and every other id is tagged dup
      val canon = tags.collect { case (id, false) => id }
      canon.size == 1 && st.contains(canon.head) &&
        tags.size == ids.size &&
        canon.head == batches
          .take(batches.indexWhere(_.contains(canon.head)) + 1)
          .flatten.min
    })
  }

  test("shard foldGroup: never overflows the cap (unless a single doc does); files fill greedily") {
    import graft.streaming.{CurateStream, ShardDoc}
    val sizesGen = Gen.nonEmptyListOf(Gen.choose(1L, 40L))
    check(Prop.forAll(sizesGen, Gen.choose(20L, 100L)) { (sizes, cap) =>
      val docs = sizes.zipWithIndex.map { case (nb, i) =>
        ShardDoc("s", i.toLong, math.min(nb, cap)) // no doc above cap
      }
      val (_, assigns) = CurateStream.foldGroup(None, docs, cap)
      val byFile = assigns.groupBy(_.file_idx)
      val fileIds = byFile.keys.toSeq.sorted
      // files are consecutive from 0; every file within cap; and greedy:
      // a file's first doc would have overflowed the previous file
      fileIds == (0L until fileIds.length.toLong) &&
        byFile.values.forall(_.map(_.n_bytes).sum <= cap) &&
        fileIds.tail.forall { fi =>
          val firstNb = byFile(fi).minBy(_.doc_id).n_bytes
          byFile(fi - 1).map(_.n_bytes).sum + firstNb > cap
        }
    })
  }

  test("shard foldGroup: state carry equals one concatenated fold (re-batching invariance)") {
    import graft.streaming.{CurateStream, ShardDoc, ShardState}
    val sizesGen = Gen.nonEmptyListOf(Gen.choose(1L, 40L))
    check(Prop.forAll(sizesGen, Gen.choose(2, 6), Gen.choose(40L, 100L)) {
      (sizes, nB, cap) =>
        val docs = sizes.zipWithIndex.map { case (nb, i) =>
          ShardDoc("s", i.toLong, nb)
        }
        val (stA, oneShot) = CurateStream.foldGroup(None, docs, cap)
        var st: Option[ShardState] = None
        val chunked = docs.grouped(math.max(1, docs.length / nB)).flatMap { c =>
          val (st2, out) = CurateStream.foldGroup(st, c, cap)
          st = st2
          out
        }.toSeq
        st == stA && chunked == oneShot
    })
  }

  /** A random forest over ids 0 until n: node i is a root or replies to an
    * earlier node, at a random event time in [0, times). */
  private def forest(n: Int, times: Int, rnd: scala.util.Random): IndexedSeq[EdgeEvent] =
    (0 until n).map { i =>
      val parent = if (i == 0 || rnd.nextInt(4) == 0) None else Some(rnd.nextInt(i).toLong)
      EdgeEvent(i.toLong, rnd.nextInt(times).toLong, parent)
    }

  /** `events` in a random arrival order, cut into random micro-batches. */
  private def chunked(events: Seq[EdgeEvent], rnd: scala.util.Random): List[Seq[EdgeEvent]] = {
    var rest = rnd.shuffle(events).toList
    val out = List.newBuilder[Seq[EdgeEvent]]
    while (rest.nonEmpty) {
      val k = 1 + rnd.nextInt(rest.length)
      out += rest.take(k); rest = rest.drop(k)
    }
    out.result()
  }

  test("reply-tree step: any arrival order and chunking settles every node once, at the local fixpoint") {
    // event times in [0, 10): parent/child ties are common, so the
    // causality check's boundary (child tsec >= parent tsec) is exercised
    check(Prop.forAll(Gen.choose(1, 40), Gen.long) { (n, seed) =>
      val rnd = new scala.util.Random(seed)
      val nodes = forest(n, 10, rnd)
      // parents precede children in id, so one forward pass is the fixpoint
      val expect = nodes.foldLeft(Map.empty[Long, (Long, Int, Boolean)]) { (m, e) =>
        m + (e.event_id -> e.parent_id.fold((e.event_id, 0, true)) { p =>
          val (root, depth, causal) = m(p)
          (root, depth + 1, causal && e.tsec >= nodes(p.toInt).tsec)
        })
      }
      val (st, settled) = chunked(nodes, rnd)
        .foldLeft((TreeFold.empty, Vector.empty[(Long, (Long, Int, Boolean))])) {
          case ((s, acc), batch) =>
            val (s1, out) = TreeFold.add(s, batch)
            (s1, acc ++ out.map { case (e, (r, d, c, _)) => e.event_id -> ((r, d, c)) })
        }
      settled.length == n && settled.toMap == expect && st.pending.isEmpty
    })
  }

  test("reply-tree eviction: withheld parents drop exactly their transitive subtrees") {
    check(Prop.forAll(Gen.choose(1, 40), Gen.long) { (n, seed) =>
      val rnd = new scala.util.Random(seed)
      val nodes = forest(n, 1000, rnd)
      val withheld = nodes.map(_.event_id).filter(_ => rnd.nextInt(5) == 0).toSet
      val input = nodes.filterNot(e => withheld(e.event_id))
      val ids = input.map(_.event_id).toSet
      // a node is lost iff its ancestor chain reaches a withheld node
      val lost = nodes.foldLeft(Set.empty[Long]) { (s, e) =>
        if (e.parent_id.exists(p => withheld(p) || s(p))) s + e.event_id else s
      } -- withheld
      val st = chunked(input, rnd).foldLeft(TreeFold.empty)(TreeFold.add(_, _)._1)
      // the watermark passes every orphan (a reply to a withheld node) but
      // not necessarily their descendants, which must drop with them
      val wm = input.filter(_.parent_id.exists(withheld)).map(_.tsec).maxOption
        .getOrElse(-1L)
      val (after, dropped) = ReplyTreeOp.dropOverdue(st, wm)
      val droppedIds = dropped.map(_.event_id)
      val resolved = after.resolved.keySet
      droppedIds.distinct.length == droppedIds.length &&
        droppedIds.toSet == lost && resolved == ids -- lost &&
        (resolved ++ droppedIds) == ids && after.pending.isEmpty
    })
  }
}
