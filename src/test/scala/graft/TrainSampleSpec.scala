package graft

import graft.functions.TrainSample
import org.apache.spark.sql.functions._

/** Pins the bounded-training-collect contract: the sample is capped, a
  * pure function of the key (partitioning-independent), exhaustive below
  * the cap, and plans as per-partition top-k heaps — the properties that
  * make driver-side k-means/IVF training safe at corpus scale. */
class TrainSampleSpec extends GraftSuite {
  import spark.implicits._

  private def ids(n: Int) = (1 to n).map(_.toLong).toDF("id")

  test("sample size is capped and exhaustive below the cap") {
    assert(TrainSample(ids(500), col("id"), cap = 100).count() == 100)
    assert(TrainSample(ids(50), col("id"), cap = 100)
      .collect().map(_.getLong(0)).sorted.toSeq == (1L to 50L))
  }

  test("sample is deterministic and independent of input partitioning") {
    val base = TrainSample(ids(500), col("id"), cap = 64)
      .collect().map(_.getLong(0)).toSet
    val shuffled = TrainSample(ids(500).repartition(7, col("id") % 3), col("id"), cap = 64)
      .collect().map(_.getLong(0)).toSet
    assert(base == shuffled)
    // and it matches the hash-priority definition computed independently
    val expected = ids(500).withColumn("h", xxhash64(col("id")))
      .orderBy(col("h"), col("id")).limit(64)
      .collect().map(_.getLong(0)).toSet
    assert(base == expected)
  }

  test("plan is TakeOrderedAndProject (per-partition heaps, no global sort)") {
    val plan = TrainSample(ids(500), col("id"), cap = 64)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"bounded sample must not global-sort:\n$plan")
  }

  test("trained models are memoized and reproducible across invocations") {
    val m1 = graft.operators.ActivityPack.model(spark, sf)
    val m2 = graft.operators.ActivityPack.model(spark, sf)
    assert(m1 eq m2) // memoized — one train per (session, directory)
    val c1 = graft.operators.SimilarityPack.ivfCentroids(spark, sf)
    assert(c1.length == 8 && c1.forall(_.length == 64))
  }
}
