package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Product-quantization kernels (r15). The PQ encode/ADC pipeline in
  * [[graft.operators.Ann]] used to expand every squared-difference term as
  * a Catalyst expression — subspaces × centroids × subDim (= 1024 at the
  * registry shape) multiply-add nodes per code column and again per query
  * LUT — and that EXPRESSION SIZE, not the arithmetic, was the measured
  * cost: ~2 s of driver planning + codegen compile per sim4x/sim5x run
  * against a 0.9 s execution stage (stage table, sf0.1, r15). These two
  * expressions compute the identical values in tight loops with the
  * codebook inlined as data, so the plan carries two small nodes instead
  * of thousands.
  *
  * Exactness contract (the graft_dot discipline): every distance is the
  * LEFT-ASSOCIATED double sum Σᵢ (x[i] − b[i])² in element order — the
  * same evaluation order the expanded form and the SQL oracle use — and
  * the ADC total sums subspace terms in subspace order, so every double is
  * bit-identical to the expanded form. The argmin keeps the FIRST index
  * attaining the minimum (strict `<`), matching
  * `array_position(ds, array_min(ds))` on NaN-free input. Null handling
  * reproduces the expanded form's: a null top-level array → null; a null
  * element inside a subspace slice (or a slice running past the array's
  * end) → THAT subspace's code is null; a null code (or null query
  * element) → the whole ADC is null.
  */
case class PqCodes(child: Expression, book: Array[Array[Array[Double]]])
    extends UnaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<double>, got ${other.simpleString(8)}")
    }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)

  override def prettyName: String = "graft_pq_codes"

  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    PqOpsUtil.codes(input.asInstanceOf[ArrayData], book)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("pqBook", book, "double[][][]")
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.functions.PqOpsUtil.codes($arr, $b);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqCodes =
    copy(child = newChild)
}

/** Asymmetric-distance (ADC) sum: query/residual embedding (left) scored
  * against a corpus row's PQ codes (right) — see [[PqCodes]] for the
  * exactness contract.
  */
case class PqAdc(left: Expression, right: Expression,
    book: Array[Array[Array[Double]]])
    extends BinaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, array<int>), got " +
          s"(${l.simpleString(8)}, ${r.simpleString(8)})")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_pq_adc"

  override def nullable: Boolean = true

  override protected def nullSafeEval(emb: Any, codes: Any): Any =
    PqOpsUtil.adc(emb.asInstanceOf[ArrayData],
      codes.asInstanceOf[ArrayData], book)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("pqBook", book, "double[][][]")
    val r = ctx.freshName("graftPqAdc")
    nullSafeCodeGen(ctx, ev, (emb, codes) =>
      s"""java.lang.Double $r = graft.functions.PqOpsUtil.adc($emb, $codes, $b);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.doubleValue(); }
         |""".stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PqAdc = copy(left = newLeft, right = newRight)
}

object PqOpsUtil {

  /** One code per subspace: first-index argmin of the left-associated
    * squared L2 to each centroid; null code where the slice has a null /
    * missing element (the expanded form's element_at semantics).
    */
  def codes(arr: ArrayData, book: Array[Array[Array[Double]]]): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](book.length)
    var s = 0
    while (s < book.length) {
      val centroids = book(s)
      val subDim = if (centroids.length > 0) centroids(0).length else 0
      val base = s * subDim
      var slice: Array[Double] = null
      if (base + subDim <= n) {
        var ok = true
        val tmp = new Array[Double](subDim)
        var i = 0
        while (ok && i < subDim) {
          if (arr.isNullAt(base + i)) ok = false
          else tmp(i) = arr.getDouble(base + i)
          i += 1
        }
        if (ok) slice = tmp
      }
      if (slice == null) out(s) = null
      else {
        var best = Double.PositiveInfinity
        var bestIdx = 0
        var c = 0
        while (c < centroids.length) {
          val b = centroids(c)
          var d = 0.0
          var i = 0
          while (i < subDim) {
            val x = slice(i) - b(i)
            d += x * x
            i += 1
          }
          if (d < best) { best = d; bestIdx = c }
          c += 1
        }
        out(s) = Integer.valueOf(bestIdx)
      }
      s += 1
    }
    new GenericArrayData(out)
  }

  /** ADC total: per subspace the left-associated squared L2 from the
    * query/residual slice to the CODED centroid, summed in subspace
    * order; null on any null code / null or missing query element.
    */
  def adc(emb: ArrayData, codes: ArrayData,
      book: Array[Array[Array[Double]]]): java.lang.Double = {
    if (codes.numElements() < book.length) return null
    val n = emb.numElements()
    var sum = 0.0
    var s = 0
    while (s < book.length) {
      if (codes.isNullAt(s)) return null
      val c = codes.getInt(s)
      val centroids = book(s)
      if (c < 0 || c >= centroids.length) return null
      val b = centroids(c)
      val subDim = b.length
      val base = s * subDim
      if (base + subDim > n) return null
      var d = 0.0
      var i = 0
      while (i < subDim) {
        if (emb.isNullAt(base + i)) return null
        val x = emb.getDouble(base + i) - b(i)
        d += x * x
        i += 1
      }
      sum += d
      s += 1
    }
    java.lang.Double.valueOf(sum)
  }
}
