package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** All Gopher rule-screen counters (Rae et al. 2021, arXiv:2112.11446
  * §A.1.1) in ONE pass over the text — the raw integer counts only; the
  * caller (`TextAnalysis.gopherExprs`) derives the ratio signals with the
  * SAME Column arithmetic as the composable per-signal form that
  * `CurationSpec`'s gopher parity test keeps as its reference, so every
  * double is bit-identical and only the counting fuses.
  *
  * The composable form builds each signal from its own `split`: the
  * whitespace word split is re-evaluated per signal (Catalyst's
  * subexpression elimination cannot hoist it out of the short-circuit
  * `keep` conjunction, and the higher-order `filter`/`aggregate` lambdas
  * fall back to interpreted eval), so one row pays ~6 full splits plus
  * interpreted per-word lambda dispatch — measured as the dominant stage
  * of the curation pipeline at the heavy tier (3.2 s of td54's 9 s).
  * This expression splits once and walks words/lines once with compiled
  * patterns.
  *
  * Parity contract (spec-pinned against the composable form):
  * words = `split(text, "[ \t\n]+")` (Java regex split, limit -1), lines
  * = `split(text, "\n")`, word length = codepoint count (Spark
  * `length`), symbol hits = non-overlapping `#` plus `\.\.\.|…` matches
  * over the whole text, bullet/ellipsis hits = lines where the anchored
  * pattern FINDS (RLike semantics), alpha words = words containing
  * `[A-Za-z]`, stop hits = how many of the given stopwords appear as
  * exact word tokens.
  */
case class GopherStats(child: Expression, stopwords: Seq[String])
    extends UnaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${other.simpleString(8)}")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("word_len_sum", IntegerType, nullable = false),
    StructField("symbol_hits", IntegerType, nullable = false),
    StructField("n_lines", IntegerType, nullable = false),
    StructField("bullet_hits", IntegerType, nullable = false),
    StructField("ellipsis_hits", IntegerType, nullable = false),
    StructField("alpha_words", IntegerType, nullable = false),
    StructField("stop_hits", IntegerType, nullable = false)))

  override def prettyName: String = "graft_gopher_stats"

  @transient private lazy val stopArr: Array[String] = stopwords.toArray

  override protected def nullSafeEval(input: Any): Any =
    GopherStatsUtil.stats(input.asInstanceOf[UTF8String], stopArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val stopsRef = ctx.addReferenceObj("stops", stopArr,
      "java.lang.String[]")
    nullSafeCodeGen(ctx, ev, text =>
      s"${ev.value} = graft.functions.GopherStatsUtil.stats($text, $stopsRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): GopherStats =
    copy(child = newChild)
}

/** Hot loop as a static method shared by interpreted eval and generated
  * code (the NgramDigestUtil idiom).
  */
object GopherStatsUtil {
  private val wordRe = Pattern.compile("[ \\t\\n]+")
  private val lineRe = Pattern.compile("\n")
  private val dotsRe = Pattern.compile("\\.\\.\\.|…")
  private val bulletRe = Pattern.compile("^[ \\t]*[-*•]")
  private val ellipsisRe = Pattern.compile("(\\.\\.\\.|…)[ \\t]*$")

  def stats(text0: UTF8String, stops: Array[String]): InternalRow = {
    val text = text0.toString
    val words = wordRe.split(text, -1)
    val lines = lineRe.split(text, -1)
    var wordLenSum = 0
    var alphaWords = 0
    val wordSet = new java.util.HashSet[String](words.length * 2)
    var i = 0
    while (i < words.length) {
      val w = words(i)
      wordLenSum += w.codePointCount(0, w.length)
      var alpha = false
      var j = 0
      while (!alpha && j < w.length) {
        val c = w.charAt(j)
        if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) alpha = true
        j += 1
      }
      if (alpha) alphaWords += 1
      wordSet.add(w)
      i += 1
    }
    var symbolHits = 0
    i = 0
    while (i < text.length) {
      if (text.charAt(i) == '#') symbolHits += 1
      i += 1
    }
    val dm = dotsRe.matcher(text)
    while (dm.find()) symbolHits += 1
    var bulletHits = 0
    var ellipsisHits = 0
    i = 0
    while (i < lines.length) {
      if (bulletRe.matcher(lines(i)).find()) bulletHits += 1
      if (ellipsisRe.matcher(lines(i)).find()) ellipsisHits += 1
      i += 1
    }
    var stopHits = 0
    i = 0
    while (i < stops.length) {
      if (wordSet.contains(stops(i))) stopHits += 1
      i += 1
    }
    new GenericInternalRow(Array[Any](words.length, wordLenSum, symbolHits,
      lines.length, bulletHits, ellipsisHits, alphaWords, stopHits))
  }
}
