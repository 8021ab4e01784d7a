package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark harness: runs one workload in one Spark process and writes
  * `<out>/result.json` (metrics, attempted and failed operations, errors).
  * `perfbench/run.py` builds, generates the inputs, launches this and
  * checks the outputs.
  *
  *   Main --workload <name> --data <dir> --out <dir> --seconds <n>
  *        --seed <n> --trace <0|1> --budget-s <s>
  *
  * `--budget-s` is the time the run may take. Every wait of the harness
  * ends early enough to leave `ReserveS` of it for the check and the
  * report; work cut short by it counts as failed.
  */
object Main {
  final case class Opts(workload: String, data: String, out: String,
                        seconds: Int, seed: Long, trace: Boolean, endS: Double)

  /** Cores of the measured session; the single-core baseline uses 1. */
  val Cores = 4
  /** Seconds of the run's budget kept for the output check and the report. */
  val ReserveS = 30.0

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("data"), kv("out"), kv("seconds").toInt,
      kv("seed").toLong, kv.get("trace").contains("1"),
      nowS + kv("budget-s").toDouble)
    Files.createDirectories(Paths.get(o.out))
    val res = o.workload match {
      case "catalog"     => Catalog.run(o)
      case "dspa-replay" => Replay.run(o)
      case w => sys.error(s"unknown workload $w")
    }
    if (o.trace) Metrics.complete(res)
    Files.writeString(Paths.get(o.out, "result.json"), res.json)
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
  }

  /** One local session; scratch and warehouse directories stay under `out`. */
  def session(o: Opts, cores: Int = Cores): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"${o.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.out}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def nowS: Double = System.nanoTime() / 1e9

  /** Heap in use after a forced full collection, MB: the least of three
    * readings, so that objects freed during one collection do not count. */
  def heapLiveMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }
}

/** Every per-layer metric a traced run reports, with its unit. A metric
  * that does not apply to the workload (the streaming layers on `catalog`,
  * the batch layers on `dspa-replay`) reads 0. */
object Metrics {
  private val jobs = Seq("task1_post_stats", "task2_recommendations", "task3_model", "task3_classify")
  val perLayer: Seq[(String, String)] =
    Seq("tables.scan_bytes" -> "B", "tables.scan_rows" -> "count", "tables.scan_ms" -> "ms",
      "tables.roundrobin_exchanges" -> "count",
      "spark.analysis_ms" -> "ms", "spark.optimization_ms" -> "ms", "spark.physical_planning_ms" -> "ms",
      "spark.codegen_compile_ms" -> "ms", "spark.jobs" -> "count", "spark.stages" -> "count",
      "spark.tasks" -> "count", "spark.scheduler_delay_ms" -> "ms", "spark.task_run_ms" -> "ms",
      "spark.task_cpu_ms" -> "ms", "spark.gc_ms" -> "ms", "spark.shuffle_write_bytes" -> "B",
      "spark.shuffle_read_bytes" -> "B", "spark.shuffle_records" -> "count",
      "spark.shuffle_fetch_wait_ms" -> "ms", "spark.spill_bytes" -> "B", "spark.partition_skew" -> "ratio") ++
    Catalog.packs.flatMap(p => Seq(s"operators.$p.s" -> "s", s"operators.$p.cold_s" -> "s")) ++
    Seq("artifacts.cached_mb" -> "MB", "artifacts.cached_relations" -> "count",
      "artifacts.evicted_blocks" -> "count") ++
    Seq("minhash_sig", "minhash_signature", "text_featurize", "vec_dot", "kmeans_train")
      .map(k => s"functions.${k}_s" -> "s") ++
    Seq("sources.replay_latest_offset_ms" -> "ms", "sources.replay_get_batch_ms" -> "ms",
      "sources.replay_rows_per_batch" -> "count", "sources.upsert_rows_written" -> "count",
      "sources.upsert_bytes_written" -> "B", "sources.upsert_rows_per_event" -> "ratio",
      "streaming.state_rows_max" -> "count", "streaming.state_rows_final" -> "count",
      "streaming.state_mem_mb_max" -> "MB", "streaming.state_commit_ms" -> "ms",
      "streaming.state_update_ms" -> "ms", "streaming.state_removal_ms" -> "ms",
      "streaming.rows_dropped_late" -> "count") ++
    jobs.flatMap(j => Seq(s"jobs.$j.batches" -> "count", s"jobs.$j.batch_ms_p50" -> "ms",
      s"jobs.$j.query_planning_ms" -> "ms", s"jobs.$j.wal_commit_ms" -> "ms")) ++
    Seq("jobs.event_latency_p50_s" -> "s", "jobs.event_latency_p90_s" -> "s",
      "jobs.event_latency_p99_s" -> "s", "jobs.drain_lag_s" -> "s") ++
    Seq("operators", "spark", "tables", "functions", "jobs", "sources").map(l => s"self.$l.s" -> "s") ++
    Seq("trace.pass_s" -> "s", "trace.untraced_pass_s" -> "s", "trace.overhead_pct" -> "%") ++
    Seq("setup_s", "pass_s", "latency_p50_s", "latency_p90_s", "drain_lag_s").map(m => s"baseline_1core.$m" -> "s")

  /** Put the per-layer metrics in registry order, 0 where not measured. */
  def complete(res: Result): Unit = {
    val got = res.perLayer.clone()
    val unknown = got.keySet -- perLayer.map(_._1)
    require(unknown.isEmpty, s"unregistered per-layer metrics: $unknown")
    res.perLayer.clear()
    perLayer.foreach { case (n, u) =>
      val (v, gu) = got.getOrElse(n, (0.0, u))
      require(gu == u, s"$n reported in $gu, registered in $u")
      res.perLayer(n) = (v, u)
    }
  }
}

/** Linear-interpolated percentile (the same rule as numpy's default). */
object Stats {
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** What one run reports. `errors` lists every failed operation. */
final class Result {
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val errors = mutable.ArrayBuffer.empty[String]
  val checks = mutable.ArrayBuffer.empty[String]
  val info = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  def failed: Long = errors.size.toLong

  def e2e(name: String, v: Double, unit: String): Unit = endToEnd(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = perLayer(name) = (v, unit)
  def fail(what: String, e: Throwable): Unit = {
    val msg = Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.nextOption().getOrElse("")
    errors += s"$what: ${msg.take(300)}"
  }

  def json: String = {
    def q(s: String) = graft.Jsons.quote(s)
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => s"${q(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${q(u)}}" }
        .mkString("{", ", ", "}")
    s"""{"attempted": $attempted, "failed": $failed,
       |"end_to_end": ${metrics(endToEnd)},
       |"per_layer": ${metrics(perLayer)},
       |"errors": ${errors.map(q).mkString("[", ", ", "]")},
       |"checks": ${checks.map(q).mkString("[", ", ", "]")},
       |"info": ${info.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ", ", "}")}}""".stripMargin
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
