package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory every main uses (the job mains, the
  * benches, Verify, PlanDump, ScaleUp): `local[cpus]` with shuffle
  * partitions = cpus, UTC session time zone, no UI, [[GraftExtensions]]
  * registered, log level WARN. `cpus` is `SPARK_GRAFT_CPUS`, else every
  * available processor.
  *
  * Specs do not call it: in a shared test JVM `getOrCreate` would hand
  * back the suite's session and overwrite its shuffle partitions. */
object Sessions {
  def local(name: String): SparkSession = {
    val n = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName(s"graft-$name")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
