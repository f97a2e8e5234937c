package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** md5 hex digest of every sliding `n`-token window of a space-separated
  * text — the candidate unit of exact-substring dedup
  * (`TextDedup.substringDedup`, Lee et al. 2021-style span removal).
  *
  * Semantics are EXACTLY the composable form that `TextDedupSpec`'s
  * substringDedup parity test keeps as its reference:
  * {{{
  *   when(size(t) >= n,
  *     transform(sequence(1, size(t) - n + 1),
  *       j => md5(array_join(slice(t, j, n), " "))))   // t = split(text, " ")
  *     .otherwise(array())
  * }}}
  * — same single-space split (limit -1), same window order, empty array
  * under `n` tokens, null only for null input; digests are md5 over the
  * UTF-8 bytes of the space-joined window, so DuckDB's
  * `md5(array_to_string(list_slice(tk, j, j+n-1), ' '))` matches
  * byte-for-byte. The higher-order form interprets a lambda per window and
  * allocates a slice copy plus a joined string per window — at corpus
  * scale (tokens ≈ windows) that interpretation dominates the whole
  * operator (measured 33 s of a 44 s heavy-tier run). This expression is
  * one fused loop: token boundaries found once per row, each window
  * digested incrementally (digest.update per token + separator), no
  * intermediate arrays or joined strings.
  */
case class NgramDigests(child: Expression, n: Int)
    extends UnaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType if n >= 1 => TypeCheckResult.TypeCheckSuccess
      case StringType => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires n >= 1, got $n")
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${other.simpleString(8)}")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "graft_ngram_digests"

  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    NgramDigestUtil.digests(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, text =>
      s"${ev.value} = graft.functions.NgramDigestUtil.digests($text, $n);")

  override protected def withNewChildInternal(newChild: Expression): NgramDigests =
    copy(child = newChild)
}

/** Hot loop as a static method shared by interpreted eval and generated
  * code (the ShingleUtil/MinHashUtil idiom).
  */
object NgramDigestUtil {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val HEX = "0123456789abcdef".toCharArray
  private val SPACE = Array[Byte](' ')

  def digests(text: UTF8String, n: Int): ArrayData = {
    // identical tokenization to split(text, " ") limit -1; bytes taken
    // straight from the String tokens' UTF-8 form (what Spark's md5(col)
    // hashes after array_join)
    val tokens = text.toString.split(" ", -1)
    val len = tokens.length
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val tokenBytes = new Array[Array[Byte]](len)
    var i = 0
    while (i < len) {
      tokenBytes(i) = tokens(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      i += 1
    }
    val digest = md.get()
    val out = new Array[Any](len - n + 1)
    var j = 0
    while (j <= len - n) {
      digest.reset()
      var k = 0
      while (k < n) {
        if (k > 0) digest.update(SPACE)
        digest.update(tokenBytes(j + k))
        k += 1
      }
      val d = digest.digest()
      val hex = new Array[Byte](32)
      var b = 0
      while (b < 16) {
        hex(2 * b) = HEX((d(b) >> 4) & 0xf).toByte
        hex(2 * b + 1) = HEX(d(b) & 0xf).toByte
        b += 1
      }
      out(j) = UTF8String.fromBytes(hex)
      j += 1
    }
    new GenericArrayData(out)
  }
}
