package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.operators.Artifacts

/** The shared-artifact registry: a builder may build another artifact
  * (SimilarityPack's IVF search builds its cells this way), and entries
  * are keyed by (session, dir, name). */
class ArtifactsSpec extends GraftSuite {

  test("a nested build on 1000 fresh sessions never fails and builds each key once") {
    val builds = new AtomicInteger()
    (1 to 1000).foreach { i =>
      val s = spark.newSession()
      def cells = Artifacts.get(s, "dir", "cells") { builds.incrementAndGet(); i }
      val ivf = Artifacts.get(s, "dir", "ivf") { builds.incrementAndGet(); cells + 1 }
      assert(ivf == i + 1 && cells == i)
      Artifacts.invalidate(s)
    }
    assert(builds.get == 2000)
  }

  test("a builder that throws is retried by the next get") {
    val s = spark.newSession()
    intercept[IllegalStateException](
      Artifacts.get(s, "dir", "k")(throw new IllegalStateException("boom")))
    assert(Artifacts.get(s, "dir", "k")(7) == 7)
    assert(Artifacts.get(s, "dir", "k")(8) == 7)
    Artifacts.invalidate(s)
  }

  test("two names on the same (session, dir) do not collide") {
    val s = spark.newSession()
    assert(Artifacts.get(s, "dir", "a")(1) == 1)
    assert(Artifacts.get(s, "dir", "b")(2) == 2)
    assert(Artifacts.get(s, "dir", "a")(3) == 1)
    assert(Artifacts.get(s, "dir", "b")(4) == 2)
    Artifacts.invalidate(s)
  }

  test("8 threads that get one key run its builder once") {
    val s = spark.newSession()
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val gets = (1 to 8).map { _ =>
        Future {
          start.await()
          Artifacts.get(s, "dir", "shared") {
            builds.incrementAndGet()
            Thread.sleep(200) // keep the build open while the others arrive
            new Object
          }
        }
      }
      start.countDown()
      val got = Await.result(Future.sequence(gets), 30.seconds)
      assert(builds.get == 1)
      assert(got.forall(_ eq got.head))
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)
      Artifacts.invalidate(s)
    }
  }

  test("invalidate(s, Some(dirA)) leaves dirB's entries in place") {
    val s = spark.newSession()
    val a = Artifacts.get(s, "dirA", "x")(new Object)
    val b = Artifacts.get(s, "dirB", "x")(new Object)
    Artifacts.invalidate(s, Some("dirA"))
    assert(!(Artifacts.get(s, "dirA", "x")(new Object) eq a), "dirA must rebuild")
    assert(Artifacts.get(s, "dirB", "x")(new Object) eq b, "dirB must stay")
    Artifacts.invalidate(s)
  }
}
