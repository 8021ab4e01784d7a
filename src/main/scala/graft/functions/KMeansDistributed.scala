package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Lloyd's K-means — the scale path above [[TrainSample]]'s
  * driver-collect cap (reference analogue: the MMDS 7.6.4 distributed
  * variant the reference cites as the scale-out of its parallelism-1
  * clustering, UnusualActivityDetectionJob.scala:367,376).
  *
  * Each iteration is one narrow distributed pass + one k-row aggregate:
  *
  *   - ASSIGN: [[KMeans.nearest]] over [[KMeans.score]]s of centroid
  *     LITERALS (the q43 plan shape) — no shuffle of the points, no state;
  *   - RECOMPUTE: `groupBy(cluster)` with per-dimension sums + counts —
  *     a k×(dim+1) result collected to the driver (a few KB at any input
  *     size). Empty clusters keep their centroid — the same semantics as
  *     [[KMeans.cluster]].
  *
  * Driver memory holds exactly k centroids; the input is cached across
  * iterations (it is scanned once per iteration). Below the cap the
  * driver path [[KMeans.cluster]] remains bit-identical to previous
  * rounds; this path trades bit-level determinism for scale — partial
  * sums combine in shuffle order, so centroid coordinates can differ in
  * the last ULPs across runs (convergence therefore uses a 1e-12
  * tolerance instead of the driver path's exact fixpoint; parity with
  * the driver path from the same initial centroids is asserted to 1e-9
  * in KMeansDistributedSpec).
  */
object KMeansDistributed {

  /** One Lloyd's run over `df`'s array column `v` from `initial`
    * centroids. `df` is cached for the duration of the loop. */
  def cluster(df: DataFrame, v: Column, initial: Vector[Vector[Double]],
              maxIterations: Int = 100, tol: Double = 1e-12): KMeans.Model = {
    require(initial.nonEmpty, "need at least one initial centroid")
    val dim = initial.head.length
    val k = initial.length
    val pts = df.select(v.as("v")).cache()
    try {
      var centroids = initial
      var weights = Vector.fill(k)(0.0)
      var it = 0
      var converged = false
      while (!converged && it < maxIterations) {
        val scores = centroids.zipWithIndex.map { case (c, i) => KMeans.score(col("v"), c).as(s"s$i") }
        val (cl, _) = KMeans.nearest((0 until k).map(i => col(s"s$i")))
        val sums = (0 until dim).map(i => sum(element_at(col("v"), i + 1)).as(s"x$i"))
        val rows = pts.select(col("v") +: scores: _*)
          .withColumn("c", cl)
          .groupBy(col("c"))
          .agg(count(lit(1)).as("n"), sums: _*)
          .collect()
        val byCluster = rows.map { r =>
          r.getInt(0) -> (r.getLong(1),
            Vector.tabulate(dim)(i => r.getDouble(2 + i)))
        }.toMap
        val next = centroids.indices.map { i =>
          byCluster.get(i) match {
            case Some((n, s)) => s.map(_ / n)
            case None         => centroids(i) // empty cluster keeps its centroid
          }
        }.toVector
        weights = centroids.indices.map(i =>
          byCluster.get(i).map(_._1.toDouble).getOrElse(0.0)).toVector
        converged = next.zip(centroids).forall { case (a, b) =>
          a.zip(b).forall { case (x, y) => math.abs(x - y) <= tol }
        }
        centroids = next
        it += 1
      }
      KMeans.Model(centroids.zipWithIndex.map { case (c, i) =>
        KMeans.Cluster(i, c, weights(i))
      })
    } finally pts.unpersist()
  }

  /** Cap-selected training over `(id, v)` rows: at or below `cap` rows the
    * input is collected in id order and trained with the bit-identical
    * driver path (exactly the pre-distributed behavior, so data-dependent
    * oracles regenerate unchanged at test SFs); above it, the seeded
    * bootstrap comes from [[TrainSample]]'s deterministic hash-priority
    * cap and Lloyd's runs DISTRIBUTED over the full input — the model
    * trains on everything, the driver never holds more than `cap` sample
    * rows plus k centroids. */
  def train(df: DataFrame, id: Column, v: Column, k: Int, seed: Long = 137L,
            cap: Int = TrainSample.DEFAULT_CAP): KMeans.Model = {
    val sel = df.select(id.as("id"), v.as("v"))
    // cap+1 probes whether the input exceeds the cap without a count() job;
    // rows arrive in hash-priority order, so the first `cap` are exactly
    // TrainSample(cap)'s deterministic sample
    val probe = TrainSample(sel, col("id"), cap + 1).collect()
    def pts(rows: Array[org.apache.spark.sql.Row]) =
      rows.sortBy(_.getLong(0))
        .map(_.getSeq[Double](1).toVector).toSeq
    if (probe.length <= cap) {
      val p = pts(probe)
      KMeans.cluster(p, KMeans.bootstrap(p, k, seed))
    } else {
      val init = KMeans.bootstrap(pts(probe.take(cap)), k, seed)
      cluster(sel, col("v"), init)
    }
  }
}
