package graft
import java.nio.file.{Files, Paths, StandardCopyOption}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Robustness contract (r9: the driver's gate produced an empty artifact,
  * so a partial run must still yield usable evidence):
  *  - oracle_sql.json is written FIRST, so dumps that complete before any
  *    interruption are comparable;
  *  - a status.json sidecar ({name: {status, secs, rows?, msg?}}) is
  *    rewritten after EVERY query — a thrown query leaves an explicit
  *    "err" row instead of a silently missing directory;
  *  - each query runs under a per-query wall cap (default 120 s,
  *    SPARK_GRAFT_QUERY_CAP_SEC to override): on expiry its job group is
  *    cancelled and the gate moves on, so one pathological query cannot
  *    consume the whole gate budget;
  *  - a per-query heartbeat line goes to stderr for timeout forensics.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet // optional query-name subset for local runs
    val capSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_CAP_SEC", "120").toInt
    val spark = Sessions.local("verify")
    new java.io.File(outDir).mkdirs()
    def q(s: String): String = Jsons.quote(s)
    // the sf dir is known here: enable the data-dependent oracles
    // (centroid literals) so q43/q62 get full hash checks
    SparkEntry.oracleContext = Some((spark, sfDir))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val status = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def flushStatus(): Unit = {
      val body = status.map { case (k, v) => s"${q(k)}: $v" }
        .mkString("{", ",", "}")
      val tmp = Paths.get(s"$outDir/status.json.tmp")
      Files.writeString(tmp, body)
      Files.move(tmp, Paths.get(s"$outDir/status.json"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    import scala.concurrent.{Await, Future, TimeoutException}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // A non-ok query must not leave a readable dump: the driver compares
    // every directory in outDir, and a partial (or post-timeout-completed)
    // parquet next to a "timeout"/"err" status row would be compared as if
    // it were a real result.
    def dropDump(name: String): Unit = {
      val d = Paths.get(s"$outDir/$name")
      if (Files.exists(d)) {
        import scala.jdk.CollectionConverters._
        Files.walk(d).iterator().asScala.toSeq.reverse
          .foreach(p => Files.deleteIfExists(p))
      }
    }
    val names = SparkEntry.queries.keys.toSeq
      .filter(n => only.isEmpty || only(n))
    names.zipWithIndex.foreach { case (name, i) =>
      val t0 = System.nanoTime()
      def secs = (System.nanoTime() - t0) / 1e9
      val fut = Future {
        spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
        try SparkEntry.queries(name)(spark, sfDir).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
        finally spark.sparkContext.clearJobGroup()
      }
      val entry =
        try { Await.result(fut, capSec.seconds); f"""{"status":"ok","secs":$secs%.2f}""" }
        catch {
          case _: TimeoutException =>
            // cancelJobGroup only kills currently-ACTIVE jobs; the orphaned
            // future thread keeps running and can submit follow-up jobs for
            // multi-job queries (e.g. localCheckpoint chains), competing
            // with the next query's cap. Keep cancelling until the future
            // actually exits (bounded), then drop any partial dump.
            var rounds = 0
            while (!fut.isCompleted && rounds < 30) {
              spark.sparkContext.cancelJobGroup(name)
              try Await.ready(fut, 1.second)
              catch { case _: TimeoutException => () }
              rounds += 1
            }
            dropDump(name)
            System.err.println(s"[verify] $name TIMED OUT after $capSec s — cancelled")
            f"""{"status":"timeout","secs":$secs%.2f}"""
          case e: Throwable =>
            dropDump(name) // a failed write can leave a partial parquet dir
            val m = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
            System.err.println(s"[verify] $name failed: $m")
            s"""{"status":"err","secs":${f"$secs%.2f"},"msg":${q(m)}}"""
        }
      status(name) = entry
      flushStatus()
      System.err.println(f"[verify] ${i + 1}%3d/${names.size} $name%-28s $secs%7.2f s")
    }
    spark.stop()
  }
}
