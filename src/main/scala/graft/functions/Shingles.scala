package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word-bigram shingles of a space-separated text — the unit every
  * Jaccard/MinHash dedup operator consumes.
  *
  * Semantics are EXACTLY the composable form that `ArrayDotSpec`'s
  * graft_shingles parity test keeps as its reference:
  * {{{
  *   array_distinct(zip_with(
  *     slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),
  *     (x, y) => concat(x, " ", y)))          // t = split(text, " ")
  * }}}
  * — same single-space regex split (trailing empties kept, limit -1), same
  * first-occurrence-order distinct, empty array for texts of fewer than two
  * tokens, null only for null input. The higher-order form interprets three
  * lambda trees and materializes two slice copies plus a zipped array per
  * row (HigherOrderFunction bodies are not code-generated); this expression
  * is one fused loop inside whole-stage codegen — on the dd31 posting-frame
  * path the shingle computation IS the dominant cost (the joins around it
  * are already codegen'd).
  */
case class BigramShingles(child: Expression)
    extends UnaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${other.simpleString(8)}")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "graft_shingles"

  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    ShingleUtil.bigrams(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, text =>
      s"${ev.value} = graft.functions.ShingleUtil.bigrams($text);")

  override protected def withNewChildInternal(newChild: Expression): BigramShingles =
    copy(child = newChild)
}

/** ALL word-bigram occurrences of a space-separated text, in order,
  * duplicates kept — the term grain a tf-weighted operator (TF-IDF,
  * td45) needs, where [[BigramShingles]]' first-occurrence distinct
  * would destroy the term frequencies.
  *
  * Semantics are EXACTLY the composable form in queries.TextOps.q45:
  * {{{
  *   when(size(sp) >= 2, transform(sequence(lit(1), size(sp) - 1),
  *     i => concat(element_at(sp, i), lit(" "), element_at(sp, i + 1))))
  *     .otherwise(array())                     // sp = split(text, " ")
  * }}}
  * — same single-space split (limit -1, trailing empties kept), n-1
  * bigrams for n >= 2 tokens, empty array below that, null only for null
  * input. The HOF form interprets the lambda and allocates a sequence
  * array plus three expression evals per bigram (measured: the DOMINANT
  * stage of the td45 pipeline at 2.6 s of a ~4 s query); this is one
  * fused loop inside whole-stage codegen.
  */
case class WordBigrams(child: Expression)
    extends UnaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${other.simpleString(8)}")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "graft_bigrams"

  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    ShingleUtil.bigramOccurrences(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, text =>
      s"${ev.value} = graft.functions.ShingleUtil.bigramOccurrences($text);")

  override protected def withNewChildInternal(newChild: Expression): WordBigrams =
    copy(child = newChild)
}

/** Hot loop as a static method shared by interpreted eval and generated
  * code (same idiom as MinHashUtil).
  */
object ShingleUtil {
  def bigramOccurrences(text: UTF8String): ArrayData = {
    val tokens = text.toString.split(" ", -1)
    val n = tokens.length
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - 1)
    var i = 0
    while (i < n - 1) {
      out(i) = UTF8String.fromString(tokens(i) + " " + tokens(i + 1))
      i += 1
    }
    new GenericArrayData(out)
  }

  def bigrams(text: UTF8String): ArrayData = {
    // identical tokenization to Spark's split(text, " "): regex split on a
    // single space, limit -1 (consecutive spaces yield empty tokens,
    // trailing empties kept)
    val tokens = text.toString.split(" ", -1)
    val n = tokens.length
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    // first-occurrence order, matching array_distinct
    val seen = new java.util.LinkedHashSet[String](n * 2)
    var i = 0
    while (i < n - 1) {
      seen.add(tokens(i) + " " + tokens(i + 1))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(out)
  }
}
