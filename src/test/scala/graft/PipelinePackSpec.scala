package graft

import graft.operators.{Artifacts, PipelinePack, TextPack}
import org.apache.spark.sql.functions._

class PipelinePackSpec extends GraftSuite {

  test("every pipeline query returns rows at sf0.001 with matching oracle key") {
    PipelinePack.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.count() > 0, s"$name returned no rows")
      assert(PipelinePack.oracle.contains(name), s"$name lacks oracle SQL")
    }
  }

  test("dup clusters are the transitive closure of the pair graph") {
    // every pair's endpoints land in the SAME cluster, and every cluster id
    // is the min of its member list (min-label fixpoint reached)
    val pairs = TextPack.queries("q31_ngram_jaccard")(spark, sf)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1)))
    val clusters = PipelinePack.queries("q44_dup_clusters")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(2).split(",").map(_.toLong).toSet)
    val memberToCluster = clusters.flatMap { case (c, ms) => ms.map(_ -> c) }.toMap
    pairs.foreach { case (i, j) =>
      assert(memberToCluster(i) == memberToCluster(j),
        s"pair ($i,$j) split across clusters")
    }
    clusters.foreach { case (c, ms) =>
      assert(ms.min == c, s"cluster $c is not the min of its members $ms")
    }
  }

  test("label propagation converges on multi-hop chains and rings (diameter > 1)") {
    import spark.implicits._
    // chain 1-2-3-4-5, ring 10-11-12-10, isolated pair 20-21: the real
    // data's planted dups are mostly diameter-1, so pin the multi-round
    // fixpoint explicitly
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)).toDF("i", "j")
    val got = PipelinePack.labelPropagation(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(got(_) == 1L), s"chain labels: $got")
    assert((10L to 12L).forall(got(_) == 10L), s"ring labels: $got")
    assert(got(20L) == 20L && got(21L) == 20L)
  }

  test("star contraction equals label propagation on real and adversarial graphs") {
    import spark.implicits._
    // the q44 pair graph at sf0.001 (via the public q69 projection)
    val real = PipelinePack.queries("q69_containment_dedup")(spark, sf)
      .select(col("i"), col("j"))
    // adversarial shapes: chain, ring, star-from-the-top, random graph
    val rnd = new scala.util.Random(77)
    val shapes = Seq(
      (0L until 25L).sliding(2).map(w => (w(0), w(1))).toSeq,
      Seq((100L, 101L), (101L, 102L), (102L, 100L)),
      (1L to 10L).map(i => (200L, 200L + i)),
      Seq.fill(60)((300L + rnd.nextInt(30), 300L + rnd.nextInt(30)))
        .filter(p => p._1 != p._2))
    (shapes.map(_.toDF("i", "j")) :+ real).foreach { pairs =>
      val lp = PipelinePack.labelPropagation(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val sc = PipelinePack.ccStarContraction(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(sc == lp, s"diff: ${sc.toSet -- lp.toSet}")
    }
  }

  test("star contraction closes a 200-hop chain in O(log) rounds (the 100 TB case)") {
    import spark.implicits._
    // label propagation needs 199 rounds here (and our bound rightly
    // throws); star contraction must stay logarithmic
    val chain = (0L until 200L).sliding(2).map(w => (w(0), w(1))).toSeq.toDF("i", "j")
    val got = PipelinePack.ccStarContraction(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 200L).forall(got(_) == 0L))
    assert(PipelinePack.lastStarRounds <= 12,
      s"expected O(log n) rounds, took ${PipelinePack.lastStarRounds}")
    assertThrows[IllegalStateException] {
      PipelinePack.labelPropagation(chain).collect()
    }
    // the adaptive front door survives the same chain by escalating
    val adaptive = PipelinePack.connectedComponents(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(adaptive == got, "escalated path must produce identical labels")
  }

  test("salted skew aggregation equals the plain aggregate") {
    val salted = PipelinePack.queries("q48_skew_agg")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val plain = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast("long")).as("sum_cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted == plain)
  }

  test("stratified sample is deterministic and ~SAMPLE_PCT of the corpus") {
    val a = PipelinePack.queries("q64_sample_stratified")(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = PipelinePack.queries("q64_sample_stratified")(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b, "hash sampling must be repartition/retry-stable")
    val total = Tables.documents(spark, sf).count()
    // md5 is uniform: expect ~10% +- a generous binomial margin
    assert(a.size > total * 0.03 && a.size < total * 0.25,
      s"sample ${a.size}/$total far from 10%")
  }

  test("tfidf ranks at most TOP terms per doc with distinct ranks 1..k") {
    val rows = PipelinePack.queries("q63_tfidf")(spark, sf)
      .select("doc_id", "rank").collect().map(r => (r.getLong(0), r.getInt(1)))
    rows.groupBy(_._1).foreach { case (doc, rs) =>
      val ranks = rs.map(_._2).sorted.toList
      assert(ranks == (1 to ranks.size).toList,
        s"doc $doc ranks $ranks not 1..k")
      assert(ranks.size <= 5)
    }
  }

  test("bm25: one query's scores match a driver-side recomputation") {
    import org.apache.spark.sql.functions._
    val rows = PipelinePack.queries("q90_bm25")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq === (1 to rs.length))
      assert(rs.forall(_.getLong(2) != qid), "self must be excluded")
      val sc = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(sc.zip(sc.tail).forall { case (a, b) => a >= b })
    }
    // independent recomputation of the full ranking for the first query
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
    val tf = docs.flatMap { case (id, ts) =>
      ts.groupBy(identity).map { case (t, o) => ((id, t), o.size.toLong) }
    }.toMap
    val dl = docs.map { case (id, ts) => id -> ts.size.toLong }.toMap
    val dfm = tf.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val n = docs.length.toLong
    val avgdl = dl.values.sum.toDouble / n
    val qid = rows.map(_.getLong(0)).min
    val qToks = docs.find(_._1 == qid).get._2.distinct
    val expected = docs.filter(_._1 != qid).map { case (cid, _) =>
      val micro = qToks.flatMap { t =>
        tf.get((cid, t)).map { f =>
          val idf = math.log((n - dfm(t) + 0.5) / (dfm(t) + 0.5) + 1.0)
          val tfp = f * 2.2 / (f + 1.2 * (0.25 + 0.75 * dl(cid) / avgdl))
          math.floor(idf * tfp * 1000000.0).toLong
        }
      }.sum
      (cid, micro)
    }.filter(_._2 != 0L).sortBy { case (cid, m) => (-m, cid) }.take(10)
    val got = rows.filter(_.getLong(0) == qid).sortBy(_.getInt(1))
      .map(r => (r.getLong(2),
        BigDecimal(r.getDouble(3)).setScale(4).toDouble)).toSeq
    assert(got.map(_._1) === expected.map(_._1).toSeq)
    got.zip(expected).foreach { case ((_, s), (_, m)) =>
      assert(math.abs(s - m / 1e6) < 1e-3)
    }
  }

  test("oov filter: kept iff rounded ratio <= threshold; token counts add up") {
    val bad = PipelinePack.queries("q66_oov_filter")(spark, sf)
      .filter((col("oov_ratio") <= 0.2) =!= col("kept") ||
        col("n_oov") > col("n_tokens"))
      .count()
    assert(bad == 0)
  }

  test("session attribution equals a brute-force containment join") {
    // the custom as-of operator (latest start <= ts, then end-bound filter)
    // must agree with the direct range-predicate join on every view event —
    // valid because gap-split sessions are disjoint per user
    val ev = Tables.events(spark, sf)
    val got = PipelinePack.queries("q73_session_attribution")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> (Option(r.get(2)), Option(r.get(3)))).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("psec"), col("event_id"))
    val sess = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), unix_timestamp(col("ts")).as("psec"))
      .withColumn("prev", lag(col("psec"), 1).over(w))
      .withColumn("news", when(col("prev").isNull || col("psec") - col("prev") > 1800, 1).otherwise(0))
      .withColumn("sid", sum(col("news")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("user_id").as("su"), col("sid"))
      .agg(min(col("psec")).as("st"), max(col("psec")).as("en"),
        min(col("event_id")).as("session_id"))
    val brute = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), unix_timestamp(col("ts")).as("vsec"))
      .join(sess, col("su") === col("user_id")
        && col("st") <= col("vsec") && col("vsec") <= col("en"), "left")
      .select(col("event_id"), col("session_id"),
        (col("vsec") - col("st")).as("into"))
      .collect().map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(got.keySet == brute.keySet)
    got.foreach { case (id, v) => assert(v == brute(id), s"view $id mismatch") }
  }

  test("q121 snapshot diff: statuses partition the hash buckets exactly") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def b32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)
    def b60(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(15), 16)
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val bkt = docs.keys.map(id => id -> b32(id.toString) % 10).toMap
    val out = PipelinePack.queries("q121_snapshot_diff")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getString(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long]))).toMap
    // the hash split fully determines every status; nothing else surfaces
    assert(out.keySet == bkt.filter(kv => Set(0L, 1L, 2L)(kv._2)).keySet)
    out.foreach { case (id, (status, fpOld, fpNew)) =>
      bkt(id) match {
        case 0 => assert(status == "added" && fpOld.isEmpty &&
          fpNew.contains(b60(docs(id))))
        case 1 => assert(status == "changed" &&
          fpOld.contains(b60(docs(id))) &&
          fpNew.contains(b60(docs(id) + " [rev2]")))
        case 2 => assert(status == "removed" &&
          fpOld.contains(b60(docs(id))) && fpNew.isEmpty)
        case b => fail(s"doc $id bucket $b should be unchanged, got $status")
      }
    }
  }

  test("q137 takedown equals a driver-side transitive-closure recomputation") {
    // independent union-find over the q31 pair graph, then seed closure
    val pairs = TextPack.queries("q31_ngram_jaccard")(spark, sf)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (i, j) =>
      val (ri, rj) = (find(i), find(j))
      if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val lbl = nodes.map(id => id -> find(id)).toMap
    val seeds = Tables.documents(spark, sf).select(col("doc_id")).collect()
      .map(_.getLong(0)).filter(_ % 37 == 0).toSet
    val seedLbls = seeds.filter(nodes).map(lbl)
    val expected = seeds.map(id => id -> "seed").toMap ++
      nodes.filter(id => seedLbls(lbl(id)) && !seeds(id))
        .map(id => id -> "propagated")
    val got = PipelinePack.queries("q137_takedown")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, (status, cluster)) =>
      assert(status == expected(id), s"doc $id: $status")
      assert(cluster == lbl.getOrElse(id, id), s"doc $id cluster $cluster")
    }
    assert(got.values.exists(_._1 == "propagated"),
      "seed modulus chosen so propagation is exercised")
  }

  test("q137 purge set is closed under the pair graph: no notice escapes via a chained copy") {
    // the legal-hold property itself: if one endpoint of ANY near-dup pair
    // is purged, the other must be too
    val purged = PipelinePack.queries("q137_takedown")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val pairs = TextPack.queries("q31_ngram_jaccard")(spark, sf)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (i, j) =>
      assert(purged(i) == purged(j),
        s"pair ($i,$j) crosses the purge boundary")
    }
  }

  test("q142 representatives are the max-quality member of each q44 cluster") {
    val quality = TextPack.queries("q36_quality_score")(spark, sf)
      .select("doc_id", "quality").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val clusters = PipelinePack.queries("q44_dup_clusters")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> r.getString(2).split(",").map(_.toLong).toSeq)
      .toMap
    val got = PipelinePack.queries("q142_cluster_reps")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got.keySet == clusters.keySet)
    got.foreach { case (c, (n, rep, repQ)) =>
      val members = clusters(c)
      assert(n == members.size, s"cluster $c size")
      val expectedRep = members.minBy(id => (-quality(id), id))
      assert(rep == expectedRep, s"cluster $c rep")
      assert(repQ == quality(expectedRep), s"cluster $c rep quality")
    }
  }

  test("common-token bigrams dominate per-source top lists deterministically") {
    val rows = PipelinePack.queries("q65_bigram_counts")(spark, sf).collect()
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getInt(1))
      // counts must be non-increasing in rank, ties broken by bigram asc
      byRank.sliding(2).foreach {
        case Array(x, y) =>
          val (nx, ny) = (x.getLong(3), y.getLong(3))
          assert(nx > ny || (nx == ny && x.getString(2) < y.getString(2)))
        case _ => ()
      }
    }
  }

  test("q174 dup-source matrix reconciles with q31's pairs; pair mass conserved") {
    val srcOf = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = TextPack.queries("q31_ngram_jaccard")(spark, sf)
      .select(col("i"), col("j")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = pairs
      .map { case (i, j) =>
        val (a, b) = (srcOf(i), srcOf(j))
        if (a <= b) (a, b) else (b, a)
      }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rows = PipelinePack.queries("q174_dup_source_matrix")(spark, sf).collect()
    val got = rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == want)
    rows.foreach(r => assert(r.getBoolean(3) == (r.getString(0) != r.getString(1))))
    assert(rows.map(_.getLong(2)).sum == pairs.length.toLong,
      "every near-dup pair lands in exactly one source cell")
  }

  test("dupClusterLabels is memoized per (session, dir) and invalidation rebuilds identically") {
    // a fresh session, so invalidating does not make later suites rebuild
    // the shared session's artifacts
    val s = spark.newSession()
    val a = PipelinePack.dupClusterLabels(s, sf)
    assert(PipelinePack.dupClusterLabels(s, sf) eq a,
      "second call must hit the memo, not re-run the CC fixpoint")
    val decA = PipelinePack.curationDecisions(s, sf)
    Artifacts.invalidate(s, Some(sf))
    val b = PipelinePack.dupClusterLabels(s, sf)
    assert(!(b eq a), "invalidate must force a rebuild")
    assert(b.exceptAll(a).isEmpty && a.exceptAll(b).isEmpty,
      "rebuilt labeling must carry identical rows")
    assert(!(PipelinePack.curationDecisions(s, sf) eq decA),
      "the decisions built from the labels must be rebuilt too")
    Artifacts.invalidate(s)
  }
}
