package graft.plans

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** 64-bit SimHash over an array of token hashes as ONE native Catalyst
  * expression — the scale fix for the composed form in
  * `TextFunctions.simhash64`, which unrolls 64 interpreted `aggregate()`
  * higher-order passes per row (64 × n_tokens lambda evaluations plus a
  * several-second codegen bill the streaming micro-batch path pays on
  * EVERY query start: an r8 stream probe measured the signed documents
  * stream at ~3.5 s/batch warm against 0.28 s for the same rows in warm
  * batch).
  * This expression makes one pass per row over the hash array in compiled
  * code — O(64·n) ALU inside whole-stage codegen, no lambdas.
  *
  * Semantics are bit-identical to the composed form (SimHashSpec proves
  * the equivalence on randomized inputs): per bit position j, each hash
  * votes +1/-1 by its j-th bit and the signature's bit j is set iff the
  * vote sum is positive — i.e. `2·ones(j) > n`. An empty array yields 0;
  * a null element yields 0 (the composed form's per-bit aggregate goes
  * null, failing every `> 0` test); a null array yields null.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash64 requires array<bigint>, got ${other.catalogString}")
    }
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any =
    SimHash64.ofArray(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.SimHash64.ofArray($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {

  /** The vote loop — called from both interpreted eval and generated code. */
  def ofArray(arr: ArrayData): Long = {
    val n = arr.numElements()
    val ones = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return 0L // composed form: null poisons every vote sum
      val h = arr.getLong(i)
      var j = 0
      while (j < 64) {
        ones(j) += ((h >>> j) & 1L).toInt
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (2 * ones(j) > n) sig |= 1L << j
      j += 1
    }
    sig
  }

  /** Column wrapper. */
  def simhash64(hashes: Column): Column =
    GraftSqlBridge.column(SimHash64(GraftSqlBridge.expression(hashes)))
}
