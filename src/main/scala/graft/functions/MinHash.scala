package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass k-permutation MinHash over a shingle array.
  *
  * Semantics are EXACTLY the composable form that `ArrayDotSpec`'s
  * graft_minhash parity test keeps as its reference:
  * `array_min(transform(shingles, x => md5(concat(lit(i.toString), x))))`
  * for every seed i in 1..k — but computed in a single traversal of the
  * shingle array inside JIT-compiled code. The higher-order form evaluates
  * k interpreted lambda trees per shingle (HigherOrderFunction bodies are
  * not code-generated) and materializes k intermediate hash arrays; at
  * production MinHash widths (k = 64-128 permutations over billions of
  * documents) that interpretation overhead IS the signature stage. Hex-md5
  * strings compare identically to the raw digests (hex chars are
  * order-isomorphic to their nibbles), so the min is byte-for-byte the
  * same as the oracle's `list_min(list_transform(...))`.
  *
  * Returns null for a null or EMPTY array — matching `array_min` over an
  * empty transform result, so `element_at(sig, i)` is null exactly when
  * the per-seed HOF column is null.
  */
case class MinHashSigs(child: Expression, k: Int)
    extends UnaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) if k >= 1 => TypeCheckResult.TypeCheckSuccess
      case ArrayType(StringType, _) =>
        TypeCheckResult.TypeCheckFailure(s"$prettyName needs k >= 1, got $k")
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string>, got ${other.simpleString(8)}")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "graft_minhash"

  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    MinHashUtil.minhash(input.asInstanceOf[ArrayData], k)

  /** Stays inside whole-stage codegen: the generated code calls the static
    * JIT'd loop; only the (tiny) call site is generated.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      s"""
         |${ev.value} = graft.functions.MinHashUtil.minhash($arr, $k);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSigs =
    copy(child = newChild)
}

/** One-digest k-permutation MinHash (Broder's estimator, the form a 100 TB
  * dedup actually runs): md5 is computed ONCE per shingle, truncated to 32
  * bits, and permuted by k universal hash functions
  * `h_i(x) = (a_i * x + b_i) mod p` with p = 2^61-1 and deterministic
  * engine-reproducible coefficients
  * `a_i = (i * 2654435761) mod 1000000007 + 1`,
  * `b_i = (i * 40503) mod 1000000007`.
  * Compared to [[MinHashSigs]] (k full digests per shingle) this does k×
  * fewer digest computations — at k = 64-128 that is the entire signature
  * stage. Bounds: a < 2^30, x < 2^32 ⇒ a*x + b < 2^63, so the arithmetic
  * is exact in int64 on any engine (the DuckDB oracle computes identical
  * values). Returns array<long> of length k; null for null/empty input.
  */
case class MinHashUniversal(child: Expression, k: Int)
    extends UnaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) if k >= 1 => TypeCheckResult.TypeCheckSuccess
      case ArrayType(StringType, _) =>
        TypeCheckResult.TypeCheckFailure(s"$prettyName needs k >= 1, got $k")
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string>, got ${other.simpleString(8)}")
    }

  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType,
    containsNull = false)

  override def prettyName: String = "graft_minhash_u"

  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    MinHashUtil.minhashUniversal(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      s"""
         |${ev.value} = graft.functions.MinHashUtil.minhashUniversal($arr, $k);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashUniversal =
    copy(child = newChild)
}

/** The hot loops, as plain static methods so both interpreted eval and
  * generated code share one JIT-compiled implementation.
  */
object MinHashUtil {
  private val HEX = "0123456789abcdef".toCharArray

  // Java-callable static bridge for generated code
  def minhash(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    val md = java.security.MessageDigest.getInstance("MD5")
    val mins = new Array[UTF8String](k)
    val seeds = new Array[Array[Byte]](k)
    var i = 0
    while (i < k) { seeds(i) = String.valueOf(i + 1).getBytes("UTF-8"); i += 1 }
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        val shingle = arr.getUTF8String(j).getBytes
        i = 0
        while (i < k) {
          md.reset()
          md.update(seeds(i))
          md.update(shingle)
          val digest = md.digest()
          val hex = new Array[Char](32)
          var b = 0
          while (b < 16) {
            hex(b * 2) = HEX((digest(b) >> 4) & 0xf)
            hex(b * 2 + 1) = HEX(digest(b) & 0xf)
            b += 1
          }
          val h = UTF8String.fromString(new String(hex))
          if (mins(i) == null || h.compareTo(mins(i)) < 0) mins(i) = h
          i += 1
        }
      }
      j += 1
    }
    // all-null input elements → every min still unset → null, matching
    // array_min over an all-null array
    if (mins(0) == null) null else new GenericArrayData(mins.asInstanceOf[Array[Any]])
  }

  /** Mersenne modulus and coefficient formulas shared with the oracle SQL
    * (see graft.queries.Dedup.dd37): all arithmetic stays below 2^63.
    */
  val P: Long = 2305843009213693951L // 2^61 - 1
  def aCoef(i: Int): Long = (i.toLong * 2654435761L) % 1000000007L + 1L
  def bCoef(i: Int): Long = (i.toLong * 40503L) % 1000000007L

  def minhashUniversal(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    val md = java.security.MessageDigest.getInstance("MD5")
    val as = new Array[Long](k)
    val bs = new Array[Long](k)
    var i = 0
    while (i < k) { as(i) = aCoef(i + 1); bs(i) = bCoef(i + 1); i += 1 }
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var any = false
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        any = true
        md.reset()
        val digest = md.digest(arr.getUTF8String(j).getBytes)
        // first 8 hex chars = first 4 digest bytes, as an unsigned 32-bit
        val x = ((digest(0) & 0xffL) << 24) | ((digest(1) & 0xffL) << 16) |
          ((digest(2) & 0xffL) << 8) | (digest(3) & 0xffL)
        i = 0
        while (i < k) {
          val h = (as(i) * x + bs(i)) % P
          if (h < mins(i)) mins(i) = h
          i += 1
        }
      }
      j += 1
    }
    if (!any) null else new GenericArrayData(mins) // Array[Long] overload
  }
}
