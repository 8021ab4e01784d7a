package graft

import graft.functions.{MinHashSig, TextLsh, VecDot}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extension point: registers graft's native expressions with the
  * session so they are callable from SQL text as well as the DataFrame API
  * (`spark.sql.extensions=graft.GraftExtensions`; Verify/Bench/test
  * sessions set it). The injection shape follows the public
  * `SparkSessionExtensions.injectFunction` contract. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.minhashSigFunction)
    ext.injectFunction(GraftExtensions.vecDotFunction)
    // whole-operator extension: AS-OF JOIN logical node → sort-merge exec
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

object GraftExtensions {
  /** `minhash_sig(array<string>)` → the signature of the text MinHasher
    * ([[graft.functions.TextLsh.minHash]], 64 slots, seed 42). */
  val minhashSigFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    new FunctionIdentifier("minhash_sig"),
    new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
    (children: Seq[Expression]) => children match {
      case Seq(arr) => MinHashSig(arr, TextLsh.minHash.numHashes, TextLsh.minHash.seed)
      case other => throw new IllegalArgumentException(
        s"minhash_sig expects 1 argument, got ${other.length}")
    })

  /** `vec_dot(array<double>, array<double>)` → double (sequential fold). */
  val vecDotFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    new FunctionIdentifier("vec_dot"),
    new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
    (children: Seq[Expression]) => children match {
      case Seq(a, b) => VecDot(a, b)
      case other => throw new IllegalArgumentException(
        s"vec_dot expects 2 arguments, got ${other.length}")
    })
}
