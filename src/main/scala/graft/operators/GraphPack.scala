package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reply-tree / transitive-chain resolution — the reference's hardest
  * operator (reference: streams/BuildReplyTreeProcessFunction.scala:28-409:
  * comments know their post, replies know only their parent comment; the
  * operator resolves reply→…→comment→post chains transitively, enforcing
  * causality — a child with ts earlier than its parent is marked invalid —
  * and drops chains that never reach a root).
  *
  * Here the batch form (SURVEY §7.4 Plan B): iterative delta-join to
  * fixpoint. The edge relation is derived deterministically from `events`:
  * 'click' events are replies whose parent is `event_id - 1 - (k mod 4)`
  * (k from props); everything else is a root. The DuckDB oracle is the
  * same fixpoint as a recursive CTE.
  *
  * Scale design (100 TB): each round joins ONLY the unresolved frontier
  * against the previous round's newly-resolved delta (semi-naive
  * evaluation — never re-joins the full resolved set); per-round persists
  * truncate lineage so plans stay bounded; rounds are bounded by the max
  * reply depth (data-bounded, ~6 here), not by data volume. Each round is
  * one shuffle on the parent key.
  */
object GraphPack {
  type Q = (SparkSession, String) => DataFrame

  private val MAX_ROUNDS = 64

  private[graft] val PR_SCALE = 1000000000L // 1e9 micro-units of rank mass
  private[graft] val PR_DNUM  = 17L  // damping d = 17/20 = 0.85, kept
  private[graft] val PR_DDEN  = 20L  //   rational so floor div is exact
  private[graft] val PR_ITERS = 5

  /** Weighted PageRank in integer micro-units ([[PR_SCALE]] = total initial
    * mass) with floor division, so a fixed iteration count lands
    * byte-identical on any engine. `edges` are raw (src, dst) pair rows
    * (multi-edges become weights); `nodes` is the full (node) universe —
    * it may include nodes with no edges, which keep their teleport base.
    * Dangling nodes leak their damped mass (the standard simplification).
    * Scale: each iteration is one shuffle join of the rank relation
    * against the cached edge/out-weight relation on src + one
    * re-aggregation on dst — the textbook distributed PageRank round;
    * nothing is collected, and the node count enters the plan as a
    * broadcast 1-row aggregate. */
  def pageRank(edges: DataFrame, nodes: DataFrame,
               iters: Int = PR_ITERS): DataFrame = {
    // both loop-invariant relations are cached PRE-PARTITIONED on their
    // per-iteration join key, so every one of the `iters` joins reuses the
    // in-memory hash layout instead of re-exchanging the same static rows
    // each round (2·iters exchanges saved; the rank side already arrives
    // hash-partitioned from the previous round's aggregation)
    val e = edges.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    val ew = e.join(
        e.groupBy(col("src")).agg(sum(col("w")).cast("long").as("tw")),
        "src").repartition(col("src")).cache()
    val withN = nodes.crossJoin(broadcast(
      nodes.agg(count(lit(1)).as("n_nodes"))))
      .repartition(col("node")).cache()
    val r0 = withN.select(col("node"),
      expr(s"$PR_SCALE div n_nodes").cast("long").as("rank"))
    // SHUFFLE_HASH on the rank/cin side of both per-iteration joins: the
    // inputs are already co-partitioned on the join key (cached repartition
    // / previous round's aggregation), so the only strategy question is
    // sort-merge vs hash — SMJ re-SORTS the cached edge list and the rank
    // relation every round (2 sorts × iters), hash build of the
    // per-partition rank slice skips them (guide §3.1; measured −16% on
    // q115 at sf0.1). Build side = the rank relation: one (node, rank)
    // pair per node per partition — the per-partition build is |nodes| /
    // shuffle-partitions rows, the size AQE already bounds at scale.
    (1 to iters).foldLeft(r0) { (r, _) =>
      val cin = ew.join(
          r.withColumnRenamed("node", "src").hint("shuffle_hash"), "src")
        .select(col("dst").as("node"),
          expr(s"($PR_DNUM * rank * w) div ($PR_DDEN * tw)").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).cast("long").as("cin"))
      withN.join(cin.hint("shuffle_hash"), Seq("node"), "left")
        .select(col("node"),
          (expr(s"${(PR_DDEN - PR_DNUM) * PR_SCALE} div ($PR_DDEN * n_nodes)")
            + coalesce(col("cin"), lit(0L))).cast("long").as("rank"))
    }
  }

  /** events annotated with parent pointer (NULL for roots). */
  private[graft] def edges(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"), col("ts"),
        when(col("event_type") === "click",
          col("event_id") - 1 - (regexp_extract(col("props"), "(\\d+)", 1).cast("long") % 4))
          .otherwise(lit(null).cast("long")).as("parent_id"))

  private val sqlEdges: String =
    """SELECT event_id, ts,
      |    CASE WHEN event_type = 'click'
      |         THEN event_id - 1 - (CAST(regexp_extract(props, '(\d+)', 1) AS BIGINT) % 4)
      |         ELSE NULL END AS parent_id
      |  FROM events""".stripMargin

  /** Resolve every event to its root: (event_id, root_id, depth, causal).
    * Dangling chains (parent id below 0 or pointing at nothing) are dropped,
    * matching the reference's watermark-evicted dangling replies
    * (BuildReplyTreeProcessFunction.scala:288-317).
    */
  def resolveRoots(s: SparkSession, d: String): DataFrame =
    resolvedChains(s, d)
      .select(col("event_id"), col("root_id"), col("depth"), col("causal"))

  /** The memoized resolved-chain relation all three tree queries consume
    * (q45/q46 project the path column away; q135 keeps it): the fixpoint
    * is a per-corpus BUILD artifact — ~depth rounds of eager
    * localCheckpoint joins — so it runs once per (session, dir) through
    * [[Artifacts]], like TextPack.bpeChain. The union of round deltas is
    * collapsed to ONE materialized LogicalRDD so every consumer scans a
    * single bounded relation instead of re-planning (and re-reading) the
    * per-round union. */
  private[graft] def resolvedChains(s: SparkSession, d: String): DataFrame =
    Artifacts.get(s, d, "resolvedChains") {
      resolveChains(s, d, withPath = true).localCheckpoint()
    }

  /** The shared fixpoint behind [[resolveRoots]] (q45/q46) and the q135
    * thread assembly. With `withPath` the delta additionally carries the
    * root→current id chain as a '>'-joined string — bounded by depth ×
    * id-width, so it rides the same per-round shuffle at negligible extra
    * byte cost (and q45/q46 skip it entirely). */
  private def resolveChains(s: SparkSession, d: String,
                            withPath: Boolean): DataFrame = {
    // localCheckpoint (eager) after every round: materializes the round AND
    // truncates lineage — without it each round replans the whole history
    // and runtime grows combinatorially with depth. (On a production
    // cluster with executor churn, swap for reliable checkpoint() to a
    // checkpoint dir; semantics identical.)
    val e = edges(s, d).localCheckpoint()
    val replies = e.filter(col("parent_id").isNotNull)
      .select(col("event_id"), col("ts"), col("parent_id"))
      .localCheckpoint()

    // round 0: roots resolve to themselves
    val seed = e.filter(col("parent_id").isNull)
      .select(col("event_id"), col("event_id").as("root_id"),
        lit(0).as("depth"), lit(true).as("causal"), col("ts"))
    var delta =
      (if (withPath) seed.withColumn("path", col("event_id").cast("string"))
       else seed).localCheckpoint()
    var resolved = Vector(delta)
    var round = 0
    var progressing = delta.limit(1).count() > 0

    while (progressing && round < MAX_ROUNDS) {
      // semi-naive: the full reply set joins only the last delta — a reply's
      // parent lands in exactly ONE delta round, so each reply still
      // resolves exactly once and no frontier-shrinking anti-join is needed
      val stepCols = Seq(col("f.event_id"),
        col("r.root_id"),
        (col("r.depth") + 1).as("depth"),
        (col("r.causal") && col("f.ts") >= col("r.ts")).as("causal"),
        col("f.ts")) ++
        (if (withPath)
           Seq(concat(col("r.path"), lit(">"),
             col("f.event_id").cast("string")).as("path"))
         else Nil)
      val next = replies.as("f")
        .join(delta.as("r"), col("f.parent_id") === col("r.event_id"))
        .select(stepCols: _*)
        .localCheckpoint()
      progressing = next.limit(1).count() > 0
      if (progressing) {
        resolved = resolved :+ next
        delta = next
      }
      round += 1
    }
    resolved.reduce(_ unionByName _)
  }

  private val sqlResolve: String =
    s"""WITH RECURSIVE e AS (
       |  $sqlEdges
       |), r AS (
       |  SELECT event_id, event_id AS root_id, 0 AS depth, true AS causal, ts
       |  FROM e WHERE parent_id IS NULL
       |  UNION ALL
       |  SELECT c.event_id, r.root_id, r.depth + 1,
       |         r.causal AND c.ts >= r.ts, c.ts
       |  FROM e c JOIN r ON c.parent_id = r.event_id
       |)""".stripMargin

  /** [[sqlResolve]] with the root→current id path accumulated (q135). */
  private val sqlResolvePath: String =
    s"""WITH RECURSIVE e AS (
       |  $sqlEdges
       |), r AS (
       |  SELECT event_id, event_id AS root_id, 0 AS depth, true AS causal,
       |         ts, CAST(event_id AS VARCHAR) AS path
       |  FROM e WHERE parent_id IS NULL
       |  UNION ALL
       |  SELECT c.event_id, r.root_id, r.depth + 1,
       |         r.causal AND c.ts >= r.ts, c.ts,
       |         r.path || '>' || CAST(c.event_id AS VARCHAR)
       |  FROM e c JOIN r ON c.parent_id = r.event_id
       |)""".stripMargin

  val queries: Map[String, Q] = Map(
    // R1 reply-tree resolution: every event → its transitive root, chain
    // depth, and whole-chain causality flag.
    "q45_reply_tree_roots" -> ((s, d) =>
      resolveRoots(s, d).orderBy(col("event_id"))),

    // Per-root tree statistics (the shape Task 1 consumes: per-post counts
    // over the resolved tree — reference ActivePostStatisticsJob comment
    // vs reply discrimination, P1).
    "q46_reply_tree_stats" -> ((s, d) =>
      resolveRoots(s, d)
        .groupBy(col("root_id"))
        .agg((count(lit(1)) - 1).as("n_descendants"),
          max(col("depth")).as("max_depth"),
          count(when(!col("causal"), 1)).as("n_noncausal"))
        .filter(col("n_descendants") > 0)
        .orderBy(col("root_id"))),

    // Weighted PageRank over the user-interaction graph (edge u→v when a
    // reply authored by u targets an event authored by v — the graph a
    // crawl pipeline uses to weight sources by authority before mixing).
    // Ranks are integer micro-units (1e9 = total initial mass) with floor
    // division, so five iterations land byte-identical on any engine —
    // the same integer-exactness trick as q90's BM25 micro-unit scores.
    // Dangling users (no outgoing reply) leak their damped mass, the
    // standard simplification; the oracle applies the identical formula.
    // Scale: each iteration is one shuffle join of the rank relation
    // against the edge relation on src + one re-aggregation on dst —
    // the textbook distributed PageRank round. Nothing is collected;
    // N (node count) enters the plan as a broadcast 1-row aggregate.
    "q115_pagerank" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"))
      val rep = edges(s, d).filter(col("parent_id").isNotNull)
        .select(col("event_id"), col("parent_id"))
      val replyEdges = rep
        .join(ev.as("c"), rep("event_id") === col("c.event_id"))
        .join(ev.as("p"), rep("parent_id") === col("p.event_id"))
        .select(col("c.user_id").as("src"), col("p.user_id").as("dst"))
      val nodes = ev.select(col("user_id").as("node")).distinct()
      pageRank(replyEdges, nodes)
        .select(col("node").as("user_id"), col("rank"))
        .orderBy(col("user_id"))
    }),

    // Degree-ordered triangle counting + local clustering coefficient over
    // the undirected user-interaction graph (community detection / spam-ring
    // signal in crawl curation). Every edge is oriented from its lower
    // (degree, id) endpoint to the higher one, so each triangle is found
    // exactly once at its lowest-order apex AND every oriented out-degree
    // is O(√m) — the classic bound that keeps the wedge join Σd_out² ≤
    // m^1.5 instead of Σd² (which a hub node makes quadratic). Coefficient
    // in exact ppm (floor division), so the result is byte-exact.
    // Scale: wedge join shuffles on the apex, closing-edge check is one
    // more equi-join on (v, w); no node ever materializes its full
    // neighborhood in one task beyond the √m-bounded out-list.
    "q116_triangles" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"))
      val rep = edges(s, d).filter(col("parent_id").isNotNull)
        .select(col("event_id"), col("parent_id"))
      val und = rep
        .join(ev.as("c"), rep("event_id") === col("c.event_id"))
        .join(ev.as("p"), rep("parent_id") === col("p.event_id"))
        .select(least(col("c.user_id"), col("p.user_id")).as("a"),
          greatest(col("c.user_id"), col("p.user_id")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
      triangleStats(und)
        .withColumnRenamed("n", "user_id")
        .orderBy(col("user_id"))
    }),

    // Conversation-thread assembly: every maximal reply chain (root → leaf)
    // as one training example — the SFT/chat-data op that turns a comment
    // forest into dialogue transcripts (each leaf yields the full path of
    // event ids from its root). Built on the SAME semi-naive fixpoint as
    // q45 with the path string accumulated alongside the (root, depth,
    // causal) resolution — no second traversal; leaves are the events no
    // reply targets (shuffle anti-join on the parent-id set). Single-event
    // "conversations" (roots with no replies) are excluded, matching what
    // a dialogue pipeline would keep. Scale: path bytes are bounded by
    // depth × id-width (depth is data-bounded, ~6 here), so the per-round
    // shuffle stays O(frontier); the leaf anti-join is one hash shuffle.
    "q135_thread_paths" -> ((s, d) => {
      val chains = resolvedChains(s, d)
      val parents = edges(s, d).filter(col("parent_id").isNotNull)
        .select(col("parent_id").as("event_id"))
      chains.filter(col("depth") >= 1)
        .join(parents, Seq("event_id"), "left_anti")
        .select(col("event_id").as("leaf_id"), col("root_id"),
          col("depth"), (col("depth") + 1).as("n_turns"),
          col("causal"), col("path"))
        .orderBy(col("leaf_id"))
    })
  )

  /** Per-node triangle counts + local clustering coefficient over the
    * undirected distinct edge set (a, b) with a < b. Returns
    * (n, deg, n_tri, coef_ppm); coefficient = 2·tri/(deg·(deg−1)) in
    * exact ppm via floor division. See the q116 entry for the
    * degree-ordering scale rationale.
    *
    * Cache lifetime is CALLER-owned: `deg` and `o` are cache()'d because
    * the plan scans them two and three times respectively, and the
    * returned frame is lazy so this method cannot unpersist them itself.
    * Re-invocation over the same input reuses the same entries
    * (CacheManager canonical-plan match — no per-call growth); a
    * long-lived session that feeds MANY DISTINCT edge sets through here
    * should `spark.catalog.clearCache()` (or unpersist by plan) between
    * inputs. */
  def triangleStats(und: DataFrame): DataFrame = {
    // deg arrives hash-partitioned on n from its own aggregation; caching
    // that layout lets the final deg ⋈ perNode join (keyed n) skip its
    // deg-side exchange on every scan
    val deg = und.select(col("a").as("n"))
      .unionAll(und.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg")).cache()
    // `o` is cached PRE-PARTITIONED on the wedge apex (pageRank's trick):
    // the wedge self-join keys on u, so both sides reuse the cached hash
    // layout instead of re-exchanging the oriented edge list per scan
    // (2 exchanges saved; the closing-edge probe re-keys on (v, w), which
    // no single layout can also serve)
    val lowFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    // oriented edge (u → v) with v's degree carried for wedge ordering
    val o = und
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
      .select(when(lowFirst, col("a")).otherwise(col("b")).as("u"),
        when(lowFirst, col("b")).otherwise(col("a")).as("v"),
        when(lowFirst, col("db")).otherwise(col("da")).as("dv"))
      .repartition(col("u")).cache()
    val wedges = o.as("e1").join(o.as("e2"), Seq("u"))
      .filter(col("e1.dv") < col("e2.dv") ||
        (col("e1.dv") === col("e2.dv") && col("e1.v") < col("e2.v")))
      .select(col("u"), col("e1.v").as("v"), col("e2.v").as("w"))
    val tri = wedges.join(
      o.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"))
    val perNode = tri.select(col("u").as("n"))
      .unionAll(tri.select(col("v").as("n")))
      .unionAll(tri.select(col("w").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("n"), "left")
      .select(col("n"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("coef_ppm",
        when(col("deg") >= 2,
          expr("(2000000 * n_tri) div (deg * (deg - 1))"))
          .otherwise(0L).cast("long"))
  }

  val oracle: Map[String, String] = Map(
    "q45_reply_tree_roots" ->
      s"""$sqlResolve
         |SELECT event_id, root_id, depth, causal FROM r ORDER BY event_id""".stripMargin,

    "q46_reply_tree_stats" ->
      s"""$sqlResolve
         |SELECT root_id, count(*) - 1 AS n_descendants, max(depth) AS max_depth,
         |  count(*) FILTER (NOT causal) AS n_noncausal
         |FROM r GROUP BY root_id HAVING count(*) > 1 ORDER BY root_id""".stripMargin,

    "q135_thread_paths" ->
      s"""$sqlResolvePath
         |SELECT r.event_id AS leaf_id, r.root_id, r.depth,
         |  r.depth + 1 AS n_turns, r.causal, r.path
         |FROM r
         |WHERE r.depth >= 1
         |  AND NOT EXISTS (SELECT 1 FROM e c WHERE c.parent_id = r.event_id)
         |ORDER BY leaf_id""".stripMargin,

    "q115_pagerank" -> {
      def iter(r: Int): String =
        s"""r$r AS (
           |  SELECT n.user_id,
           |    ((${(PR_DDEN - PR_DNUM) * PR_SCALE} // ($PR_DDEN * (SELECT n_nodes FROM nn)))
           |      + COALESCE(c.cin, 0))::BIGINT AS rank
           |  FROM nodes n LEFT JOIN (
           |    SELECT ew.dst AS user_id,
           |      SUM(($PR_DNUM * r.rank * ew.w) // ($PR_DDEN * ew.tw))::BIGINT AS cin
           |    FROM ew JOIN r${r - 1} r ON ew.src = r.user_id
           |    GROUP BY ew.dst
           |  ) c ON n.user_id = c.user_id
           |)""".stripMargin
      s"""WITH ed AS (
         |  $sqlEdges
         |), ev AS (
         |  SELECT event_id, user_id FROM events
         |), e AS MATERIALIZED (
         |  SELECT c.user_id AS src, p.user_id AS dst, count(*)::BIGINT AS w
         |  FROM (SELECT event_id, parent_id FROM ed WHERE parent_id IS NOT NULL) rep
         |  JOIN ev c ON rep.event_id = c.event_id
         |  JOIN ev p ON rep.parent_id = p.event_id
         |  GROUP BY 1, 2
         |), ew AS MATERIALIZED (
         |  SELECT e.src, e.dst, e.w, ow.tw FROM e
         |  JOIN (SELECT src, SUM(w)::BIGINT AS tw FROM e GROUP BY src) ow
         |    ON e.src = ow.src
         |), nodes AS MATERIALIZED (
         |  SELECT DISTINCT user_id FROM events
         |), nn AS (
         |  SELECT count(*)::BIGINT AS n_nodes FROM nodes
         |), r0 AS (
         |  SELECT user_id,
         |    ($PR_SCALE // (SELECT n_nodes FROM nn))::BIGINT AS rank
         |  FROM nodes
         |),
         |${(1 to PR_ITERS).map(iter).mkString(",\n")}
         |SELECT user_id, rank FROM r$PR_ITERS ORDER BY user_id""".stripMargin
    },

    "q116_triangles" ->
      s"""WITH ed AS (
         |  $sqlEdges
         |), ev AS (
         |  SELECT event_id, user_id FROM events
         |), und AS MATERIALIZED (
         |  SELECT DISTINCT least(c.user_id, p.user_id) AS a,
         |         greatest(c.user_id, p.user_id) AS b
         |  FROM (SELECT event_id, parent_id FROM ed WHERE parent_id IS NOT NULL) rep
         |  JOIN ev c ON rep.event_id = c.event_id
         |  JOIN ev p ON rep.parent_id = p.event_id
         |  WHERE c.user_id <> p.user_id
         |), deg AS MATERIALIZED (
         |  SELECT n, count(*)::BIGINT AS deg FROM (
         |    SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und
         |  ) GROUP BY n
         |), o AS MATERIALIZED (
         |  SELECT CASE WHEN lf THEN a ELSE b END AS u,
         |         CASE WHEN lf THEN b ELSE a END AS v,
         |         CASE WHEN lf THEN db ELSE da END AS dv
         |  FROM (
         |    SELECT a, b, da.deg AS da, db.deg AS db,
         |      (da.deg < db.deg OR (da.deg = db.deg AND a < b)) AS lf
         |    FROM und JOIN deg da ON und.a = da.n JOIN deg db ON und.b = db.n)
         |), tri AS MATERIALIZED (
         |  SELECT w.u, w.v, w.w FROM (
         |    SELECT e1.u, e1.v AS v, e2.v AS w
         |    FROM o e1 JOIN o e2 ON e1.u = e2.u
         |    WHERE e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v)
         |  ) w JOIN o c ON w.v = c.u AND w.w = c.v
         |), pn AS (
         |  SELECT n, count(*)::BIGINT AS n_tri FROM (
         |    SELECT u AS n FROM tri UNION ALL SELECT v AS n FROM tri
         |    UNION ALL SELECT w AS n FROM tri
         |  ) GROUP BY n
         |)
         |SELECT deg.n AS user_id, deg.deg, COALESCE(pn.n_tri, 0)::BIGINT AS n_tri,
         |  (CASE WHEN deg.deg >= 2
         |    THEN (2000000 * COALESCE(pn.n_tri, 0)) // (deg.deg * (deg.deg - 1))
         |    ELSE 0 END)::BIGINT AS coef_ppm
         |FROM deg LEFT JOIN pn ON deg.n = pn.n
         |ORDER BY user_id""".stripMargin
  )
}
