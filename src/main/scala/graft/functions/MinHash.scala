package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** THE MinHasher: signatures, LSH band keys and estimated similarity —
  * the one module behind document dedup (TextPack q32/q112 and the
  * streaming index [[graft.streaming.DedupStream]]) and user-similarity
  * recommendations (RecommendationPack q51–q54, the static store, the
  * online Task 2 recompute and PrepJob), mirroring the reference's single
  * MinHasher used by both batch prep and streaming
  * (reference: jobs/recommendations/RecommendationUtils.scala:14-49;
  * LSH banding: jobs/preparation/LoadStaticDataJob.scala:92-105;
  * construction: MMDS ch. 3).
  *
  * One seeded [[Hashes.family]] is the single source of truth for BOTH the
  * Spark plan and the generated DuckDB oracle SQL — the reference's
  * "same MinHasher config everywhere" invariant (README.md:112) as a
  * cross-engine determinism contract.
  *
  * Production build: [[sig]], the one-pass [[MinHashSig]] kernel over a
  * set column (one row per set, map-only), then [[bandsOf]] and [[estSim]]
  * over the resulting `array<bigint>` signature column.
  *
  * Reference build: [[signature]] + [[sigArray]], the relational explode
  * → `numHashes` min-aggregates → shuffle. No production path uses it; it
  * is the independent construction MinHashSigSpec, DedupStreamSpec and
  * JobsSpec compare the kernel against. The DuckDB fragments are the
  * same relational construction on the oracle side.
  */
final case class MinHash(numHashes: Int, bands: Int, seed: Long) {
  require(numHashes % bands == 0, "bands must divide numHashes")
  val rowsPerBand: Int = numHashes / bands
  val fam: IndexedSeq[(Long, Long)] = Hashes.family(numHashes, seed)

  /** Signature (`array<bigint>`, `numHashes` slot minima) of an
    * `array<string>` set column; NULL for an empty set, which has no
    * minima (callers drop it, as the relational build emits no row). */
  def sig(set: Column): Column = MinHashSig.of(set, numHashes, seed)

  /** The `bands` LSH band keys of a signature column, as one
    * `array<string>`: band j's key is its `rowsPerBand` slots joined by
    * '-' (reference F7, LoadStaticDataJob.scala:92-105). */
  def bandKeys(sig: Column): Column =
    array((0 until bands).map(j =>
      concat_ws("-", (0 until rowsPerBand).map(r => sig.getItem(j * rowsPerBand + r)): _*)): _*)

  /** `(band, bandkey)` generator over a signature column — one row per
    * band, for `select(key, mh.bandsOf(col("sig")))`. */
  def bandsOf(sig: Column): Column = posexplode(bandKeys(sig)).as(Seq("band", "bandkey"))

  /** Estimated Jaccard similarity between two signature columns = the
    * fraction of equal slots (reference: RecommendationUtils.scala:27). */
  def estSim(a: Column, b: Column): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), e => e)) / lit(numHashes.toDouble)

  /** [[estSim]] over two signatures held on the driver or in operator
    * state (the streaming index compares inside its state function). */
  def estSim(a: Seq[Long], b: Seq[Long]): Double =
    a.iterator.zip(b.iterator).count { case (x, y) => x == y }.toDouble / numHashes

  // ---- reference build (relational; no production caller) ----

  /** Signature table (key, m0..m{n-1}) from (key, item) rows. */
  def signature(items: DataFrame, key: String, item: String): DataFrame =
    items
      .select(col(key), Hashes.base32(col(item)).as("__x"))
      .groupBy(col(key))
      .agg(min(Hashes.minhashSlot(col("__x"), fam(0))).as("m0"),
        (1 until numHashes).map(i =>
          min(Hashes.minhashSlot(col("__x"), fam(i))).as(s"m$i")): _*)

  /** The [[signature]] table's slot columns as one array column. */
  def sigArray: Column = array((0 until numHashes).map(i => col(s"m$i")): _*)

  // ---- DuckDB oracle fragments (same constants) ----

  /** SELECT computing the signature (key, m0..m{n-1}) from an items CTE
    * `(key, item)`. */
  def sqlSignature(itemsCte: String, key: String, item: String): String = {
    val mins = fam.zipWithIndex
      .map { case (ab, i) => s"min(${Hashes.sqlMinhashSlot("x", ab)}) AS m$i" }
      .mkString(",\n         ")
    s"""SELECT $key,
       |         $mins
       |  FROM (SELECT $key, ${Hashes.sqlBase32(item)} AS x FROM $itemsCte)
       |  GROUP BY $key""".stripMargin
  }

  /** UNION ALL computing (key, band, bandkey) rows from a signature CTE. */
  def sqlBands(sigCte: String, key: String): String =
    (0 until bands).map { j =>
      val k = (0 until rowsPerBand).map(r => s"m${j * rowsPerBand + r}::VARCHAR")
        .mkString(" || '-' || ")
      s"SELECT $key, $j AS band, $k AS bandkey FROM $sigCte"
    }.mkString("\n  UNION ALL\n  ")

  /** Equal-slot fraction between aliased signature rows. */
  def sqlEstSim(aliasA: String, aliasB: String): String =
    (0 until numHashes)
      .map(i => s"CASE WHEN $aliasA.m$i = $aliasB.m$i THEN 1 ELSE 0 END")
      .mkString("(", " + ", s")::DOUBLE / ${numHashes}::DOUBLE")
}
