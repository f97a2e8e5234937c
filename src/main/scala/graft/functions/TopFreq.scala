package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Highest element multiplicity of an `array<string>` — the repetition
  * statistic behind Gopher-style top-token/top-bigram shares
  * (`TextAnalysis.repetition`).
  *
  * Semantics match the composable sorted-run fold exactly (the reference
  * of `CurationSpec`'s repetition parity test):
  * {{{
  *   aggregate(array_sort(arr), struct("" as prev, 0 as run, 0 as best),
  *     (acc, x) => ...longest equal run...).best
  * }}}
  * — 0 for an empty array, null only for null input. Null ELEMENTS never
  * occur in the repetition pipeline (split() never yields them), but the
  * registered SQL function is reachable with them, so they get the fold's
  * exact treatment: a null never equals anything in the sorted-run
  * comparison, so each null contributes a run of 1 and nulls never merge.
  * The fold interprets a lambda per element on top of an O(n log n) sort;
  * this is one codegen'd O(n) hash-count pass.
  */
case class TopFreq(child: Expression)
    extends UnaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string>, got ${other.simpleString(8)}")
    }

  override def dataType: DataType = IntegerType

  override def prettyName: String = "graft_top_freq"

  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    TopFreqUtil.topFreq(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.functions.TopFreqUtil.topFreq($arr);")

  override protected def withNewChildInternal(newChild: Expression): TopFreq =
    copy(child = newChild)
}

object TopFreqUtil {
  def topFreq(arr: ArrayData): Int = {
    val n = arr.numElements()
    if (n == 0) return 0
    val counts = new java.util.HashMap[UTF8String, Int](n * 2)
    var best = 0
    var sawNull = false
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) {
        // the sorted-run fold never merges nulls (null === x is never
        // true), so a null element is always a run of exactly 1
        sawNull = true
      } else {
        // copy: getUTF8String may return a pointer into shared row memory
        val k = arr.getUTF8String(i).clone()
        val c = counts.merge(k, 1, (a, b) => a + b)
        if (c > best) best = c
      }
      i += 1
    }
    if (best == 0 && sawNull) 1 else best
  }
}
