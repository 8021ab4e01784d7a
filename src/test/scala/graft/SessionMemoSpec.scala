package graft

import graft.operators.SessionMemo

/** The shared-artifact memo: a builder may build another artifact of the
  * same memo (SimilarityPack's IVF search builds its cells this way). */
class SessionMemoSpec extends GraftSuite {

  test("a nested build on 1000 fresh sessions never fails and builds each key once") {
    val memo = new SessionMemo[Int]
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    (1 to 1000).foreach { i =>
      val s = spark.newSession()
      def cells = memo.get(s, "dir|cells") { builds.incrementAndGet(); i }
      val ivf = memo.get(s, "dir|ivf") { builds.incrementAndGet(); cells + 1 }
      assert(ivf == i + 1 && cells == i)
      memo.invalidate(s)
    }
    assert(builds.get == 2000)
  }

  test("a builder that throws is retried by the next get") {
    val memo = new SessionMemo[Int]
    intercept[IllegalStateException](memo.get(spark, "k")(throw new IllegalStateException("boom")))
    assert(memo.get(spark, "k")(7) == 7)
    assert(memo.get(spark, "k")(8) == 7)
    memo.invalidate(spark)
  }
}
