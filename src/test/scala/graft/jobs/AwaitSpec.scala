package graft.jobs

import graft.GraftSuite
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryException

/** The job mains wait through [[Jobs.await]]: a query of the session that
  * fails must end the wait with its error, not pass silently until the
  * run time is up. */
class AwaitSpec extends GraftSuite {

  test("await rethrows the first failed query of the session without waiting out the run") {
    // a fresh session: other suites' finished queries do not count
    val s = spark.newSession()
    import s.implicits._
    implicit val sq = s.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_await").toString
    val ok = MemoryStream[Int]
    val bad = MemoryStream[Int]
    val q1 = ok.toDS().writeStream.option("checkpointLocation", s"$base/ok")
      .foreachBatch { (_: Dataset[Int], _: Long) => () }.start()
    val q2 = bad.toDS().writeStream.option("checkpointLocation", s"$base/bad")
      .foreachBatch { (_: Dataset[Int], _: Long) =>
        throw new IllegalStateException("classify batch failed")
      }.start()
    try {
      ok.addData(1, 2)
      bad.addData(3)
      val t0 = System.nanoTime()
      val e = intercept[StreamingQueryException](Jobs.await(s, 60))
      assert((System.nanoTime() - t0) / 1e9 < 30, "await waited out the run")
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("classify batch failed")))
      assert(q1.isActive, "the healthy query is left to the caller to stop")
    } finally { q1.stop(); q2.stop() }
  }
}
