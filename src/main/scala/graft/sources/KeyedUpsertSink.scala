package graft.sources

import scala.util.{Failure, Success, Try}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Keyed upsert sink — the engine's result contract (reference K2/K3: ES
  * bulk `docAsUpsert` by deterministic doc id, e.g. `postId#windowEnd`,
  * db/ActivePostStatisticsIndex.scala:17-18) with the reference's ordering
  * guarantee W11 strengthened: instead of relying on Kafka partition order
  * (ActivePostStatisticsJob.scala:69-80), a MONOTONIC merge condition —
  * an update wins only if its version column is higher — which is
  * order-independent (SURVEY §7.4.6).
  *
  * Scale: the merge is one shuffle on the key; last-writer selection is
  * `max_by(struct)` (single agg, no window sort). In production this is a
  * Delta/Iceberg MERGE; here a parquet swap with the same semantics.
  *
  * This object is the only code that knows the store's on-disk layout:
  * every job reads, folds into and bases its versions on a store through
  * the operations below.
  */
object KeyedUpsertSink {

  private val BaseMarker = "graft-version-base"

  /** Merge `updates` into the table at `dir` keyed by `keys`: for each key
    * keep the row with the highest `version` (ties: existing wins).
    *
    * The merged table is written once, to `dir__tmp`, and swapped in:
    * `dir` is renamed to `dir__old`, `dir__tmp` to `dir`, and `dir__old`
    * deleted. At every point of a crash either `dir` holds a whole table or
    * it is missing and `dir__tmp` holds the merged one (`_SUCCESS` written);
    * the next upsert then finishes the swap before it merges. */
  def upsert(spark: SparkSession, dir: String, updates: DataFrame,
             keys: Seq[String], version: String): Unit = {
    val fs = fsOf(spark, dir)
    merge(fs, dir, open(spark, fs, dir), updates, keys, version)
  }

  /** The store's current table: `dir`, else a complete `dir__tmp` (a swap
    * a crash interrupted; the next upsert swaps it in), else None. It never
    * renames: every reader is the store's writer or runs while no writer
    * does, so the table it reads is the one the next upsert merges into. */
  def read(spark: SparkSession, dir: String): Option[DataFrame] =
    current(fsOf(spark, dir), dir).map(p => spark.read.parquet(p.toString))

  /** Add `delta`'s counts (every non-key column) into the store's standing
    * counts, writing the touched keys with `version` in column `version`.
    * Untouched keys keep their counts, and the whole table is rewritten
    * (the upsert swap). Sums double on a replayed micro-batch, so the
    * replay guard is the version tie: a replay recomputes a doubled value
    * under the version already stored, loses the tie, and leaves the store
    * byte-identical to a single delivery. */
  def addCounts(spark: SparkSession, dir: String, delta: DataFrame,
                keys: Seq[String], version: Long): Unit = {
    val fs = fsOf(spark, dir)
    val standing = open(spark, fs, dir)
    val counts = delta.columns.filterNot(keys.contains).toSeq
    val cum = standing.fold(delta) { t =>
      delta.join(t.select(keys.map(col) ++ counts.map(c => col(c).as(s"${c}__0")): _*),
          keys, "left")
        .select(keys.map(col) ++
          counts.map(c => (col(c) + coalesce(col(s"${c}__0"), lit(0L))).as(c)): _*)
    }
    merge(fs, dir, standing, cum.withColumn("version", lit(version)), keys, "version")
  }

  /** Version base for the lifetime of the checkpoint `ckpt`, for a store
    * versioned by its `version` column: writers version batch `id` as
    * `base + id`. A raw batchId breaks in two directions: on a FRESH
    * checkpoint against a surviving store it restarts at 0 and loses every
    * tie (count folds silently freeze, then double-count once it climbs
    * past the stored max), while a base re-read from the store on EVERY
    * start makes a same-checkpoint replay outrank its own first delivery
    * (sums double, a model retrains on weights that already include the
    * batch). Binding the base to the checkpoint through a marker file gives
    * both guarantees: a same-checkpoint replay reuses the same base, ties
    * and loses (exactly-once); a fresh checkpoint mints stored max + 1 (0
    * for a missing or zero-row store) and continues the store. */
  def versionBase(spark: SparkSession, ckpt: String, dir: String): Long = {
    val marker = new Path(s"$ckpt/$BaseMarker")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      try in.readLong() finally in.close()
    } else {
      val top = read(spark, dir).map(_.agg(max(col("version"))).head())
      val base = top.filterNot(_.isNullAt(0)).fold(0L)(_.getLong(0) + 1L)
      fs.mkdirs(marker.getParent)
      val out = fs.create(marker, false)
      try out.writeLong(base) finally out.close()
      base
    }
  }

  /** The store's rows of the highest `version`, materialized (None for a
    * missing or zero-row store). A store that exists but cannot be read
    * logs a warning and reads as None: restart bootstraps must tell a
    * corrupt store from a cold start without failing the restart. */
  def latest(spark: SparkSession, dir: String, version: String): Option[DataFrame] =
    Try(read(spark, dir).flatMap { t =>
      val top = t.agg(max(col(version))).head()
      Option.when(!top.isNullAt(0)) {
        val rows = t.filter(col(version) === top.get(0)).collect()
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), t.schema)
      }
    }) match {
      case Success(r) => r
      case Failure(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"cannot read the latest rows of $dir; treating the store as empty", e)
        None
    }

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmpOf(dir: String) = new Path(dir + "__tmp")

  /** Where the current table lives (see [[read]]). */
  private def current(fs: FileSystem, dir: String): Option[Path] = {
    val (path, tmp) = (new Path(dir), tmpOf(dir))
    if (fs.exists(path)) Some(path)
    else if (fs.exists(new Path(tmp, "_SUCCESS"))) Some(tmp)
    else None
  }

  /** The current table for a writer: an interrupted swap is finished
    * first, so the table read is `dir` and stays valid until [[merge]]. */
  private def open(spark: SparkSession, fs: FileSystem, dir: String): Option[DataFrame] =
    current(fs, dir).map { p =>
      if (p != new Path(dir)) swap(fs, p, new Path(dir))
      spark.read.parquet(dir)
    }

  /** Merge `updates` into `existing` (the table [[open]] returned) and
    * swap the result in. */
  private def merge(fs: FileSystem, dir: String, existing: Option[DataFrame],
                    updates: DataFrame, keys: Seq[String], version: String): Unit = {
    val (path, tmp, old) = (new Path(dir), tmpOf(dir), new Path(dir + "__old"))
    val all = existing match {
      case Some(e) => e.withColumn("__new", lit(0))
          .unionByName(updates.withColumn("__new", lit(1)))
      case None => updates.withColumn("__new", lit(1))
    }
    val valueCols = all.columns.filterNot(keys.contains)
    // last-writer-wins by (version, NOT new): existing row wins a version tie
    // => replaying the same batch is idempotent (W10 exactly-once contract)
    val picked = all
      .groupBy(keys.map(col): _*)
      .agg(max_by(struct(valueCols.toIndexedSeq.map(col): _*),
        struct(col(version), -col("__new"))).as("__row"))
      .select(keys.map(col) ++ valueCols.filter(_ != "__new").map(c => col(s"__row.$c")): _*)

    picked.write.mode("overwrite").parquet(tmp.toString)
    fs.delete(old, true)
    if (existing.isDefined) swap(fs, path, old)
    swap(fs, tmp, path)
    fs.delete(old, true)
  }

  /** `from` → `to`; `to` must not exist (a rename onto a directory moves
    * `from` into it). */
  private def swap(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new java.io.IOException(s"upsert: cannot rename $from to $to")
}
