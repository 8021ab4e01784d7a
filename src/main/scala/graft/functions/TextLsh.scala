package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** THE text near-dup configuration — one source of truth for the shingle
  * width and the [[MinHash]] (signature size, band layout, hash seed)
  * shared by the batch dedup stack (TextPack q31/q32/q105/q112 and their
  * DuckDB oracles) and the streaming index ([[graft.streaming.DedupStream]]).
  * A document's signature and band keys are bit-identical wherever they
  * are computed BECAUSE both sides build them with [[minHash]] over this
  * shingle builder; DedupStreamSpec pins the parity (streaming bandRows
  * signature == the relational reference build, bucket key ==
  * `<band>-` + [[MinHash.bandKeys]]). */
object TextLsh {
  val ShingleW: Int = 3    // shingle width (words)
  // 64 slots, 16 bands x 4 rows: s-curve threshold ~0.5
  val minHash: MinHash = MinHash(numHashes = 64, bands = 16, seed = 42L)

  /** Distinct [[ShingleW]]-token shingles of a PRE-PROJECTED token-array
    * column (empty when too short). `t` must be an attribute, not the
    * `split(...)` expression itself: higher-order functions are
    * CodegenFallback, so any non-attribute the lambda body references is
    * RE-EVALUATED per element — with the split inlined, every shingle
    * re-split the whole document (O(n²·len) per doc; measured ~3× slower
    * on the shingle build at sf0.1). */
  def shinglesOf(t: Column): Column =
    when(size(t) >= ShingleW,
      array_distinct(transform(sequence(lit(1), size(t) - lit(ShingleW - 1)),
        i => concat_ws(" ", slice(t, i, lit(ShingleW))))))
      .otherwise(array().cast("array<string>"))

  /** DuckDB equivalent of [[shinglesOf]] (1-based inclusive slices). */
  val sqlShingles: String =
    s"list_distinct([array_to_string(t[i:i+${ShingleW - 1}], ' ') " +
      s"FOR i IN range(1, len(t) - ${ShingleW - 2})])"
}
