package graft.plans

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The maximal runs of letters (`\p{L}`) of a string, in order, empties
  * dropped — the array
  * `filter(split(s, "[^\\p{L}]+"), t -> length(t) > 0)` computes, in one
  * fused codegen'd pass: no regex, no lambda, no intermediate split array.
  *
  * It is wc's tokenizer (`WordCount.tokens`). The composed form's
  * `ArrayFilter` lambda is CodegenFallback and runs interpreted per row,
  * the HOF trap [[WordGramFnv]] avoids too. A null input yields null,
  * `""` the empty array.
  *
  * Two paths, one answer:
  *   - all bytes ASCII: the letters are exactly `[A-Za-z]`; each run is
  *     a view of a byte range of the input's bytes, no per-run copy.
  *   - otherwise: the string is decoded with `toString` (the decode the
  *     regex `split` runs, invalid UTF-8 included) and split by code point
  *     with `Character.isLetter`, which tests the same general categories
  *     (Lu, Ll, Lt, Lm, Lo) as `\p{L}`.
  */
case class LetterRuns(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"letter_runs requires a string argument, got ${other.catalogString}")
    }
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "letter_runs"

  override protected def nullSafeEval(input: Any): Any =
    LetterRuns.runs(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.plans.LetterRuns.runs($c);")

  override protected def withNewChildInternal(newChild: Expression): LetterRuns =
    copy(child = newChild)
}

object LetterRuns {

  /** The fused loop — called from both interpreted eval and generated code.
    * It tokenizes ASCII bytes as it checks them, and restarts on the
    * decoded string at the first non-ASCII byte.
    */
  def runs(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    val out = new Runs
    var start = -1
    var i = 0
    while (i < n && bytes(i) >= 0) {
      val lower = bytes(i) | 0x20
      val letter = lower >= 'a' && lower <= 'z'
      if (letter && start < 0) start = i
      else if (!letter && start >= 0) {
        out.add(UTF8String.fromBytes(bytes, start, i - start))
        start = -1
      }
      i += 1
    }
    if (i < n) return codePointRuns(s.toString)
    if (start >= 0) out.add(UTF8String.fromBytes(bytes, start, n - start))
    out.result()
  }

  private def codePointRuns(str: String): ArrayData = {
    val len = str.length
    val out = new Runs
    var start = -1
    var i = 0
    while (i < len) {
      val cp = str.codePointAt(i)
      val letter = Character.isLetter(cp)
      if (letter && start < 0) start = i
      else if (!letter && start >= 0) {
        out.add(UTF8String.fromString(str.substring(start, i)))
        start = -1
      }
      i += Character.charCount(cp)
    }
    if (start >= 0) out.add(UTF8String.fromString(str.substring(start)))
    out.result()
  }

  /** Growable element buffer; `result` wraps it without a copy when full. */
  private final class Runs {
    private var elems = new Array[AnyRef](8)
    private var k = 0
    def add(v: UTF8String): Unit = {
      if (k == elems.length) elems = java.util.Arrays.copyOf(elems, 2 * k)
      elems(k) = v
      k += 1
    }
    def result(): ArrayData = new GenericArrayData(
      (if (k == elems.length) elems else java.util.Arrays.copyOf(elems, k))
        .asInstanceOf[Array[Any]])
  }

  /** Column wrapper. */
  def letterRuns(c: Column): Column =
    GraftSqlBridge.column(LetterRuns(GraftSqlBridge.expression(c)))
}
