package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.functions.{KMeans, MinHash, MinHashSig, TextFeatures, VecDot}
import graft.operators._

/** The catalog workload: a closed loop with one client over batch queries
  * of the packs. The next query starts after the previous one has fully
  * materialised through the `noop` sink. Every pass runs the workload's
  * queries in a seed-drawn order.
  *
  * Untraced: set-up (session start plus the cold first pass, which also
  * writes each result for the oracle check), then steady passes until
  * `seconds` have elapsed and `minPasses` are done, then a forced-GC heap
  * reading. Traced: the same, with steady passes alternating between
  * traced and untraced (the difference is the tracing overhead), followed
  * by timed probes of the `Tables` loaders and the `functions` kernels. */
object Catalog {
  type Fn = (SparkSession, String) => DataFrame
  final case class Pack(name: String, queries: Map[String, Fn])
  final case class Q(name: String, pack: String, fn: Fn)

  val olap: Seq[Pack] = Seq(
    Pack("RelationalPack", RelationalPack.queries),
    Pack("WindowPack", WindowPack.queries))
  val corpus: Seq[Pack] = Seq(
    Pack("TextPack", TextPack.queries),
    Pack("SimilarityPack", SimilarityPack.queries),
    Pack("PipelinePack", PipelinePack.queries),
    Pack("CurationPack", CurationPack.queries),
    Pack("SamplingPack", SamplingPack.queries),
    Pack("MultimodalPack", MultimodalPack.queries),
    Pack("GraphPack", GraphPack.queries),
    Pack("RecommendationPack", RecommendationPack.queries),
    Pack("ActivityPack", ActivityPack.queries))

  /** The workload's queries: six of the 174, so that set-up, eight timed
    * passes and the check fit one run. Three relational and window queries
    * (scan, join, shuffle, window aggregation, Catalyst planning) and three
    * corpus queries that build shared artifacts and call the kernels:
    * MinHash LSH pairs, the ANN indexes (with the nested IVF-on-cells
    * build) and the BM25 index. */
  val queryNames: Seq[String] = Seq(
    "q01_agg_basic", "q74_star_join", "q21_sliding_stats",
    "q32_dedup_minhash_lsh", "q111_ann_recall", "q90_bm25")
  private val minPasses = 8

  def workload: Seq[Q] = queryNames.map { n =>
    val p = (olap ++ corpus).find(_.queries.contains(n)).getOrElse(sys.error(s"no query $n"))
    Q(n, p.name, p.queries(n))
  }
  /** The packs the workload's queries come from, the only ones it times. */
  def packs: Seq[String] = workload.map(_.pack).distinct

  def run(o: Main.Opts): Result = {
    val res = new Result
    val t0 = Main.nowS
    val spark = Main.session(o)
    val dir = o.data
    val rng = new scala.util.Random(o.seed)
    val queries = workload
    val tracer = new Tracer
    val dump = s"${o.out}/dump"

    /** One query into `sink`: Some(seconds), or None on failure. */
    def once(q: Q, traced: Boolean, sink: DataFrame => Unit): Option[Double] = {
      res.attempted += 1
      val s = Main.nowS
      try {
        def exec(): Unit = sink(q.fn(spark, dir))
        if (traced) tracer.span(spark, "operators", s"${q.pack}.${q.name}")(exec()) else exec()
        Some(Main.nowS - s)
      } catch { case e: Throwable => res.fail(q.name, e); None }
    }
    val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

    // set-up: session start and the cold pass (artifact builds, codegen,
    // JIT); the cold pass writes each result as parquet for the oracle check
    if (o.trace) tracer.register(spark)
    val cold = rng.shuffle(queries).map { q =>
      q -> once(q, o.trace, _.write.mode("overwrite").parquet(s"$dump/${q.name}"))
    }
    val setupS = Main.nowS - t0

    // steady passes; when traced, every other pass runs with tracing off
    case class Pass(traced: Boolean, lat: Seq[(Q, Double)], window: (Double, Double), compileNs: Long)
    val passes = mutable.ArrayBuffer.empty[Pass]
    val deadline = Main.nowS + o.seconds
    val wanted = minPasses + (if (o.trace) 1 else 0)
    def inBudget = Main.nowS < o.endS - Main.ReserveS
    while ((Main.nowS < deadline || passes.size < wanted) && inBudget) {
      val traced = o.trace && passes.size % 2 == 0
      if (o.trace) { if (traced) tracer.register(spark) else tracer.unregister(spark) }
      val order = rng.shuffle(queries)
      val c0 = CodeGenerator.compileTime
      val w0 = tracer.nowMs
      val lat = order.flatMap(q => once(q, traced, noop).map(q -> _))
      passes += Pass(traced, lat, (w0, tracer.nowMs), CodeGenerator.compileTime - c0)
    }
    if (passes.size < wanted) res.errors += s"steady passes: ${passes.size} of $wanted in the time limit"
    val timed = passes.filterNot(_.traced)
    res.info("pass_sums") = timed.map(p => f"${p.lat.map(_._2).sum}%.3f").mkString(" ")
    val heapMb = Main.heapLiveMb()
    res.info("passes") = timed.size.toString
    // Each query's steady latency is its fastest successful pass: CPU time
    // taken by other tenants of the machine only ever adds to a latency,
    // so the minimum is the figure least moved by them. A pass is the sum
    // of these; a query that never succeeded is left out (and counted).
    def best(ps: Seq[Pass]): Map[String, Double] =
      ps.flatMap(_.lat).groupBy(_._1.name).map { case (n, xs) => n -> xs.map(_._2).min }
    val steady = best(timed.toSeq)
    cold.foreach { case (q, c) =>
      res.info(s"q.${q.name}") = f"cold ${c.getOrElse(Double.NaN)}%.3f steady ${steady.getOrElse(q.name, Double.NaN)}%.3f"
    }

    if (!o.trace) {
      val lats = steady.values.toSeq
      res.e2e("setup_s", setupS, "s")
      res.e2e("pass_s", lats.sum, "s")
      // typical query latency: the geometric mean over the queries (a
      // percentile of six very different queries jumps between them)
      res.e2e("latency_s", math.exp(lats.map(math.log).sum / lats.size), "s")
      res.e2e("heap_live_mb", heapMb, "MB")
    } else {
      tracer.register(spark)
      val probes = probe(spark, dir, tracer, res)
      tracer.unregister(spark)
      val tracedBest = best(passes.filter(_.traced).toSeq)
      layers(spark, res, tracer, cold.map { case (q, t) => q -> t.getOrElse(0.0) }, tracedBest,
        passes.filter(_.traced).map(p => (p.window, p.compileNs)).toSeq, probes)
      val tracedPass = tracedBest.values.sum
      val plainPass = steady.values.sum
      res.layer("trace.pass_s", tracedPass, "s")
      res.layer("trace.untraced_pass_s", plainPass, "s")
      res.layer("trace.overhead_pct", 100.0 * (tracedPass - plainPass) / plainPass, "%")
      writeSpans(o, tracer, probes)
    }
    writeOracleSql(spark, o, queries)
    res
  }

  /** Timed calls into the `Tables` loaders (each table fully scanned) and
    * into the `functions` kernels over the workload's whole input. */
  private def probe(spark: SparkSession, dir: String, tr: Tracer, res: Result): Seq[Span] = {
    val before = tr.spans.size
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val loaders: Map[String, (SparkSession, String) => DataFrame] = Map(
      "lineitem" -> Tables.lineitem, "orders" -> Tables.orders, "customer" -> Tables.customer,
      "supplier" -> Tables.supplier, "part" -> Tables.part, "nation" -> Tables.nation,
      "region" -> Tables.region, "events" -> Tables.events,
      "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)
    loaders.foreach { case (t, load) => tr.span(spark, "tables", t)(noop(load(spark, dir))) }
    val docs = Tables.documents(spark, dir)
    val toks = docs.select(col("doc_id"), TextFeatures.toks(col("text")).as("toks"))
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    def kernel(name: String)(body: => Unit): Unit =
      try tr.span(spark, "functions", name)(body)
      catch { case e: Throwable => res.fail(s"kernel $name", e) }
    kernel("minhash_sig")(noop(toks.select(MinHashSig.of(col("toks"), 64, 42L).as("sig"))))
    kernel("minhash_signature")(noop(MinHash(64, 16, 42L).signature(
      toks.select(col("doc_id"), explode(col("toks")).as("tok")), "doc_id", "tok")))
    kernel("text_featurize")(noop(docs.select(TextFeatures.featurize(col("text")).as("f"))))
    kernel("vec_dot")(noop(emb.as("a").crossJoin(emb.as("b"))
      .select(VecDot.of(col("a.v"), col("b.v")).as("d"))))
    kernel("kmeans_train") {
      val pts = emb.select("v").collect().map(_.getSeq[Double](0).toVector).toSeq
      KMeans.cluster(pts, KMeans.bootstrap(pts, 10))
    }
    tr.spans.asScala.toSeq.drop(before)
  }

  /** Per-layer figures of the traced steady passes (`steady`: each pass's
    * time window and codegen compile time), per pass. */
  private def layers(spark: SparkSession, res: Result, tr: Tracer, cold: Seq[(Q, Double)],
                     tracedBest: Map[String, Double], steady: Seq[((Double, Double), Long)],
                     probes: Seq[Span]): Unit = {
    val n = math.max(1, steady.size).toDouble
    val windows = steady.map(_._1)
    def inSteady(t: Double) = windows.exists { case (a, b) => t >= a && t <= b }
    val jobs = tr.jobs.values.asScala.toSeq
    val steadyJobs = jobs.filter(j => inSteady(j.startMs.toDouble))
    val stageSet = steadyJobs.flatMap(_.stageIds).toSet
    val tasks = tr.tasks.asScala.toSeq.filter(t => stageSet(t.stageId))
    val qes = tr.planning.asScala.toSeq.filter(p => inSteady(p._2.toDouble))
    def per(v: Double) = v / n

    val probeSpans = probes.groupBy(_.layer)
    res.layer("tables.scan_bytes", per(tasks.map(_.inBytes).sum.toDouble), "B")
    res.layer("tables.scan_rows", per(tasks.map(_.inRecords).sum.toDouble), "count")
    res.layer("tables.scan_ms", probeSpans.getOrElse("tables", Nil).map(_.durMs).sum, "ms")
    res.layer("tables.roundrobin_exchanges",
      per(qes.filter(_._1 == "planning").map(_._4).sum.toDouble), "count")

    planning(res, tr, inSteady, n)
    res.layer("spark.codegen_compile_ms", per(steady.map(_._2).sum / 1e6), "ms")
    sparkExecution(res, steadyJobs, tasks, n)

    packs.foreach { p =>
      val mine = cold.map(_._1).filter(_.pack == p)
      res.layer(s"operators.$p.s", mine.map(q => tracedBest.getOrElse(q.name, 0.0)).sum, "s")
      res.layer(s"operators.$p.cold_s", cold.filter(_._1.pack == p).map(_._2).sum, "s")
    }
    val rdds = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    res.layer("artifacts.cached_mb", rdds.map(r => r.memSize + r.diskSize).sum / (1024.0 * 1024.0), "MB")
    res.layer("artifacts.cached_relations", rdds.length.toDouble, "count")
    res.layer("artifacts.evicted_blocks", tr.droppedBlocks.get.toDouble, "count")
    Seq("minhash_sig", "minhash_signature", "text_featurize", "vec_dot", "kmeans_train").foreach { k =>
      res.layer(s"functions.${k}_s",
        probeSpans.getOrElse("functions", Nil).filter(_.name == k).map(_.durMs).sum / 1000.0, "s")
    }

    // self time per layer over the traced steady passes: query spans
    // (operators) minus their Spark jobs and planning phases (spark)
    val qSpans = tr.spans.asScala.toSeq.filter(s => s.layer == "operators" && inSteady(s.startMs))
    def owner(t: Double) = qSpans.find(s => t >= s.startMs && t <= s.endMs).map(_.id).getOrElse(0L)
    val planSpans = qes.filter(_._1 != "parsing").map { case (ph, a, b, _) =>
      Span(tr.newId(), owner(a.toDouble), "spark", s"planning.$ph", a.toDouble, b.toDouble)
    }
    val jobSpans = tr.jobSpans((_, _) => 0L).filter(s => inSteady(s.startMs))
    val self = Tracer.selfTimeByLayer(qSpans ++ planSpans ++ jobSpans)
    val probeSelf = Tracer.selfTimeByLayer(probes ++ tr.jobSpans((_, _) => 0L)
      .filter(j => probes.exists(p => j.parent == p.id)))
    Seq("operators", "spark").foreach(l => res.layer(s"self.$l.s", per(self.getOrElse(l, 0.0)) / 1000.0, "s"))
    Seq("tables", "functions").foreach(l => res.layer(s"self.$l.s", probeSelf.getOrElse(l, 0.0) / 1000.0, "s"))
    tr.spans.addAll((planSpans).asJava)
  }

  /** Spark execution counters, per pass (or per run when n = 1). */
  def sparkExecution(res: Result, jobs: Seq[JobRec], tasks: Seq[TaskRec], n: Double): Unit = {
    def per(v: Double) = v / n
    res.layer("spark.jobs", per(jobs.size), "count")
    res.layer("spark.stages", per(jobs.flatMap(_.stageIds).distinct.size), "count")
    res.layer("spark.tasks", per(tasks.size), "count")
    res.layer("spark.scheduler_delay_ms", per(tasks.map(_.schedDelayMs).sum.toDouble), "ms")
    res.layer("spark.task_run_ms", per(tasks.map(_.runMs).sum.toDouble), "ms")
    res.layer("spark.task_cpu_ms", per(tasks.map(_.cpuMs).sum), "ms")
    res.layer("spark.gc_ms", per(tasks.map(_.gcMs).sum.toDouble), "ms")
    res.layer("spark.shuffle_write_bytes", per(tasks.map(_.shWriteBytes).sum.toDouble), "B")
    res.layer("spark.shuffle_read_bytes", per(tasks.map(_.shReadBytes).sum.toDouble), "B")
    res.layer("spark.shuffle_records", per(tasks.map(_.shRecords).sum.toDouble), "count")
    res.layer("spark.shuffle_fetch_wait_ms", per(tasks.map(_.fetchWaitMs).sum.toDouble), "ms")
    res.layer("spark.spill_bytes", per(tasks.map(_.spillBytes).sum.toDouble), "B")
    val skews = tasks.groupBy(_.stageId).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(t => (t.finishMs - t.launchMs).toDouble)
      val med = Stats.median(d)
      if (med > 0) d.max / med else 1.0
    }.toSeq
    res.layer("spark.partition_skew", if (skews.isEmpty) 1.0 else skews.sum / skews.size, "ratio")
  }

  /** Planning phase totals (ms) of the query executions that started
    * inside `inWindow`, divided by `n`. */
  def planning(res: Result, tr: Tracer, inWindow: Double => Boolean, n: Double): Unit = {
    val qes = tr.planning.asScala.toSeq.filter(p => inWindow(p._2.toDouble))
    def phase(p: String) = qes.filter(_._1 == p).map(q => (q._3 - q._2).toDouble).sum / n
    res.layer("spark.analysis_ms", phase("analysis"), "ms")
    res.layer("spark.optimization_ms", phase("optimization"), "ms")
    res.layer("spark.physical_planning_ms", phase("planning"), "ms")
  }

  /** The oracle SQL of the workload's queries beside their dumped
    * results, for the DuckDB compare run.py makes after the run. */
  private def writeOracleSql(spark: SparkSession, o: Main.Opts, queries: Seq[Q]): Unit = {
    // q111's oracle embeds the trained IVF centroids; the other
    // data-dependent oracle (q62) would cost a K-means training per run
    val oracle = SparkEntry.oracleSql ++ SimilarityPack.dynamicOracle(spark, o.data)
    queries.filterNot(q => oracle.contains(q.name)).foreach(q => sys.error(s"${q.name} has no oracle"))
    Files.createDirectories(Paths.get(s"${o.out}/dump"))
    Files.writeString(Paths.get(o.out, "dump", "oracle_sql.json"), queries
      .map(q => s"${graft.Jsons.quote(q.name)}: ${graft.Jsons.quote(oracle(q.name))}").mkString("{", ",\n", "}"))
  }

  private def writeSpans(o: Main.Opts, tr: Tracer, probes: Seq[Span]): Unit = {
    val all = tr.spans.asScala.toSeq ++ tr.jobSpans((_, _) => 0L)
    Tracer.writeSpans(s"${o.out}/spans.jsonl", all)
  }
}
