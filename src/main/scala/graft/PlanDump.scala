package graft

/** Dev tool: print the executed plan of named queries (the brief's
  * "explain and iterate" loop, scripted). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Sessions.local("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { name =>
      println(s"========== $name ==========")
      println(SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
