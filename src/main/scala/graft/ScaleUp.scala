package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: materialize an N× replica of an sf dir (default 10× sf0.1 →
  * a ~sf1 equivalent) for the empirical scaling sweep in SCALE.md — the
  * round brief's "would this plan survive a 100× scale-up" question,
  * answered with measured exponents instead of arguments alone.
  *
  * Replication gives each copy a DISJOINT key space (entity keys get a
  * per-copy offset; `region`/`nation` stay single like TPC-H's fixed
  * dims), so join cardinalities and per-key group sizes scale the way a
  * larger generated dataset would:
  *  - `documents`: verbatim text copies would make every doc a 10-way
  *    near-duplicate family and quadratically inflate every
  *    shingle-bucket pair relation — an artifact, not scale. Each copy
  *    instead deterministically SHUFFLES every doc's word order (sort by
  *    hash(word, position, copy)): unigram statistics (token counts,
  *    stopword ratios, langid markers, BPE pair mass) are preserved
  *    while w-token shingles decorrelate across copies.
  *  - `embeddings`: verbatim vector copies would be exact ANN/near-dup
  *    twins; each copy circularly ROTATES the dims by its copy index —
  *    norms and marginals preserved, cross-copy cosine decorrelated.
  *  - `events`: copies share the same 30-day span, so event-time window
  *    density scales ×N (what a bigger deployment looks like) while
  *    per-user sequences stay user-sized. event_id offsets keep q45's
  *    arithmetic parent rule within-copy.
  *
  * Usage: sbt "runMain graft.ScaleUp [srcDir] [outDir] [copies]"
  *   (defaults: /root/testdata/sf0.1 /tmp/sfx1 10)
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/sfx1")
    val n = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Sessions.local("scale-up")

    val CUST = 10000000L; val ORD = 100000000L; val EVT = 1000000000L
    val copies = spark.range(n).select(col("id").cast("int").as("cp"))

    def rep(table: String)(f: (DataFrame, org.apache.spark.sql.Column) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      val reps = base.crossJoin(broadcast(copies))
      f(reps, col("cp")).drop("cp")
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"[scaleup] $table x$n written")
    }

    // fixed dims: verbatim single copy
    Seq("region", "nation").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scaleup] $t copied")
    }
    rep("customer")((d, cp) => d.withColumn("c_custkey", col("c_custkey") + cp * CUST))
    rep("supplier")((d, cp) => d.withColumn("s_suppkey", col("s_suppkey") + cp * CUST))
    rep("part")((d, cp) => d.withColumn("p_partkey", col("p_partkey") + cp * CUST))
    rep("orders")((d, cp) => d
      .withColumn("o_orderkey", col("o_orderkey") + cp * ORD)
      .withColumn("o_custkey", col("o_custkey") + cp * CUST))
    rep("lineitem")((d, cp) => d
      .withColumn("l_orderkey", col("l_orderkey") + cp * ORD)
      .withColumn("l_partkey", col("l_partkey") + cp * CUST)
      .withColumn("l_suppkey", col("l_suppkey") + cp * CUST))
    rep("events")((d, cp) => d
      .withColumn("event_id", col("event_id") + cp.cast("long") * EVT)
      .withColumn("user_id", col("user_id") + cp * CUST))
    rep("documents")((d, cp) => d
      .withColumn("doc_id", col("doc_id") + cp * CUST)
      .withColumn("text", expr(
        """concat_ws(' ', transform(
          |  array_sort(transform(split(text, ' '),
          |    (w, i) -> struct(hash(w, i, cp) as h, w as w))),
          |  x -> x.w))""".stripMargin)))
    rep("embeddings")((d, cp) => d
      .withColumn("vec_id", col("vec_id") + cp * CUST)
      .withColumn("embedding", expr(
        """transform(sequence(0, size(embedding) - 1),
          |  i -> element_at(embedding,
          |    ((i + cp) % size(embedding)) + 1))""".stripMargin)))
    spark.stop()
  }
}
