package graft

/** Dev-loop benchmark: time ONLY the named queries (best-of-3, same
  * session/config/noop-sink contract as [[Bench]]) so a single-operator
  * change can be measured without a full 70-query sweep.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   sbt "runMain graft.BenchOne q21_sliding_stats q69_containment_dedup"
  *
  * SPARK_GRAFT_CONF (optional, comma-separated k=v pairs) sets session
  * confs before the queries build — the way to measure the documented
  * scale knobs, e.g. the hot-shingle / hot-token DF caps:
  *   SPARK_GRAFT_CONF=graft.shingle.maxDocFreq=64
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("bench-one")
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(',').filter(_.nonEmpty)
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k.trim, v.trim)
      })
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      val times = Seq.fill(3) {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$name%-28s best=${times.min}%.3f  runs=${times.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
