package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{expr, least, lit, when}

/** Seeded Lloyd's K-means with k-repair and decayed model merging — the
  * reference's streaming-clustering core re-derived from its documented
  * semantics (reference: jobs/clustering/KMeansClustering.scala:25-182 —
  * iterate assign→recompute to fixpoint, `ensureK` splits the largest
  * cluster with tiny offsets when k grows and keeps the k heaviest when k
  * shrinks, seeded Random for deterministic centroid bootstrap;
  * model/ClusterModel.scala:12-47 — decayed weight blend + nearest-centroid
  * classify).
  *
  * Deliberately NOT Spark ML KMeans: the decay-merge semantics (prior
  * model influences the next window's model with geometrically decaying
  * weight) don't exist there, and each window's point set is small enough
  * to cluster inside the stateful operator (the reference runs it in one
  * parallelism-1 window function; we run it inside one
  * flatMapGroupsWithState group — same single-task semantics, SURVEY §3.3).
  */
object KMeans {

  final case class Cluster(index: Int, centroid: Vector[Double], weight: Double)

  final case class Model(clusters: Vector[Cluster]) {
    /** Nearest-centroid classification (reference: ClusterModel.classify:26):
      * the smallest [[sqDist]], ties going to the first cluster (`minBy`).
      * [[nearest]] states the same rule over Spark columns. */
    def classify(p: Vector[Double]): Cluster =
      clusters.minBy(c => sqDist(c.centroid, p))

    /** Decayed update (reference: ClusterModel.update:12-47):
      * newWeight = oldWeight * decay + updWeight; centroid = weighted blend. */
    def update(updated: Model, decay: Double): Model = {
      val merged = updated.clusters.map { u =>
        clusters.find(_.index == u.index) match {
          case Some(old) =>
            val ow = old.weight * decay
            val w = ow + u.weight
            val c =
              if (w == 0) u.centroid
              else old.centroid.zip(u.centroid).map { case (a, b) => (a * ow + b * u.weight) / w }
            Cluster(u.index, c, w)
          case None => u
        }
      }
      Model(merged)
    }
  }

  def sqDist(a: Vector[Double], b: Vector[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** [[Model.classify]]'s rule over one column per centroid, for every
    * distributed classifier (Task 3, q62, the IVF cells, distributed
    * Lloyd's): the index of the smallest of `ds`, ties going to the lowest
    * index, and that smallest value. Callers project each `ds` column
    * under its own name first, so every distance is computed once per row.
    * A one-centroid model has no `least` to take (Spark's needs two
    * arguments): index 0 and its one distance. */
  def nearest(ds: Seq[Column]): (Column, Column) = if (ds.size == 1) (lit(0), ds.head) else {
    val m = least(ds: _*)
    val idx = ds.indices.tail.foldLeft(when(ds.head === m, lit(0))) {
      (acc, i) => acc.when(ds(i) === m, lit(i))
    }
    (idx, m)
  }

  /** [[sqDist]] from literal centroid `c` to the point whose coordinates
    * are the columns `xs`, summed in dimension order: bit-equal to the
    * driver-side value and to the DuckDB oracles' difference form. */
  def sqDist(xs: Seq[Column], c: Vector[Double]): Column =
    xs.zip(c).map { case (x, ci) => val d = x - ci; d * d }.reduce(_ + _)

  /** `−2·v·c + |c|²` for literal centroid `c` over array column `v`: the
    * squared distance less |v|², which is constant per row, so its argmin
    * is the nearest centroid's at one [[VecDot]] per centroid. */
  def score(v: Column, c: Vector[Double]): Column =
    VecDot.of(v, expr(c.mkString("array(", "D,", "D)"))) * -2.0 + lit(c.map(x => x * x).sum)

  /** Lloyd's iteration to fixpoint from given initial centroids. */
  def cluster(points: Seq[Vector[Double]], initial: Vector[Vector[Double]],
              maxIterations: Int = 100): Model = {
    require(initial.nonEmpty, "need at least one initial centroid")
    var centroids = initial
    var it = 0
    var converged = false
    var assignment: Map[Int, Seq[Vector[Double]]] = Map.empty
    while (!converged && it < maxIterations) {
      assignment = points.groupBy(p => centroids.indices.minBy(i => sqDist(centroids(i), p)))
      val next = centroids.indices.map { i =>
        assignment.get(i) match {
          case Some(ps) => mean(ps)
          case None     => centroids(i) // empty cluster keeps its centroid
        }
      }.toVector
      converged = next == centroids
      centroids = next
      it += 1
    }
    Model(centroids.zipWithIndex.map { case (c, i) =>
      Cluster(i, c, assignment.get(i).map(_.size.toDouble).getOrElse(0.0))
    }.toVector)
  }

  /** Deterministic centroid bootstrap: k distinct points chosen by seeded
    * shuffle (reference: KMeansClustering random bootstrap, seeded
    * Random(137) in UnusualActivityDetectionJob wiring). */
  def bootstrap(points: Seq[Vector[Double]], k: Int, seed: Long = 137L): Vector[Vector[Double]] = {
    val distinct = points.distinct
    val r = new scala.util.Random(seed)
    val picked = r.shuffle(distinct).take(k).toVector
    ensureK(picked.map(c => Cluster(0, c, 1.0)), k).map(_.centroid)
  }

  /** k-repair (reference: KMeansClustering.ensureK:96-110): too few →
    * repeatedly split the heaviest cluster with tiny ±eps offsets; too
    * many → keep the k heaviest. */
  def ensureK(clusters: Vector[Cluster], k: Int, eps: Double = 1e-4): Vector[Cluster] = {
    var cs = clusters.sortBy(-_.weight)
    if (cs.length > k) cs = cs.take(k)
    while (cs.length < k) {
      // remove by POSITION — equality-based removal would drop every
      // structurally-identical duplicate and lose weight
      val bigIdx = cs.indices.maxBy(i => cs(i).weight)
      val big = cs(bigIdx)
      val up = big.centroid.zipWithIndex.map { case (v, i) => v + eps * (i + 1) }
      val dn = big.centroid.zipWithIndex.map { case (v, i) => v - eps * (i + 1) }
      cs = cs.patch(bigIdx, Nil, 1) :+
        big.copy(centroid = up, weight = big.weight / 2) :+
        big.copy(centroid = dn, weight = big.weight / 2)
    }
    cs.zipWithIndex.map { case (c, i) => c.copy(index = i) }
  }

  private def mean(ps: Seq[Vector[Double]]): Vector[Double] = {
    val dim = ps.head.length
    val acc = Array.fill(dim)(0.0)
    ps.foreach { p => var i = 0; while (i < dim) { acc(i) += p(i); i += 1 } }
    acc.map(_ / ps.size).toVector
  }
}
