package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftglue.ColumnGlue
import org.apache.spark.sql.types._

/** Native Catalyst expression computing a full MinHash signature —
  * `array<string>` of set elements → `array<long>` of `numHashes` slot
  * minima — in ONE pass over the input array, inside whole-stage codegen.
  *
  * This is THE production signature build: every signature in the
  * engine comes from it through [[MinHash.sig]] (the text dedup, the
  * streaming dedup index and Task 2). When element sets arrive as rows,
  * callers `collect_set` them into one row first (one aggregate with
  * map-side partial sets) instead of the relational explode → 64
  * min-aggregates → shuffle build ([[MinHash.signature]]), which stays
  * only as the independent reference the specs compare this kernel
  * against. At 100 TB that is the difference between a map-only
  * signature pass and shuffling the exploded token stream.
  *
  * Hash parity contract (same as [[Hashes]], single source of truth via
  * [[Hashes.family]]): x = first 4 md5 bytes unsigned (== Spark
  * `conv(substring(md5(s),1,8),16,10)` == the DuckDB oracle's
  * `('0x'||substr(md5(s),1,8))::BIGINT`), slot_i = (a_i·x+b_i) mod (2³¹−1)
  * — so expression-built signatures stay oracle-checkable.
  *
  * Codegen: `doGenCode` emits a call to the static [[MinHashSig.compute]]
  * kernel (primitive `long[]` mins, thread-local MessageDigest, no
  * per-element boxing) — the expression participates in whole-stage
  * codegen instead of falling back to interpreted eval.
  *
  * (Reference seed: the reuse-one-MinHasher-everywhere contract,
  * jobs/recommendations/RecommendationUtils.scala:14-41.)
  */
case class MinHashSig(child: Expression, numHashes: Int, seed: Long)
  extends UnaryExpression {

  @transient private lazy val fam = Hashes.family(numHashes, seed)
  @transient private lazy val famA: Array[Long] = fam.map(_._1).toArray
  @transient private lazy val famB: Array[Long] = fam.map(_._2).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects array<string>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // empty input sets have no well-defined minima → NULL (callers filter),
  // mirroring the relational path where such keys simply produce no row
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[ArrayData], famA, famB)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("famA", famA, "long[]")
    val bRef = ctx.addReferenceObj("famB", famB, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.MinHashSig.compute($c, $aRef, $bRef);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  private val digest: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** One-pass kernel shared by interpreted eval and generated code.
    * Null elements are skipped (absent from the set); empty → null. */
  def compute(arr: ArrayData, a: Array[Long], b: Array[Long]): ArrayData = {
    val n = arr.numElements()
    val mins = new Array[Long](a.length)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var seen = false
    val md = digest.get()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        seen = true
        md.reset()
        val h = md.digest(arr.getUTF8String(i).getBytes)
        val x = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
          ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
        var j = 0
        while (j < a.length) {
          val v = (a(j) * x + b(j)) % Hashes.P
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    if (!seen) null else UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** DataFrame-API entry point (no function-registry dependence). */
  def of(c: Column, numHashes: Int, seed: Long): Column =
    ColumnGlue.column(MinHashSig(ColumnGlue.expression(c), numHashes, seed))
}
