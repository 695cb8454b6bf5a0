package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{lit, typedLit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native codegen'd product-quantization kernels (encode, query
  * distance table, ADC scan).
  *
  * The composable formulation (arrays of per-codeword L2 expressions +
  * array_position argmin) is correct and oracle-mirrorable, but its
  * expression tree for an 8×16 codebook is ~2,000 arithmetic nodes —
  * past Janino's 64 KB method limit, so the WHOLE encode stage fell
  * out of whole-stage codegen and ran interpreted (measured 6.6 s for
  * 5k vectors in BENCH at sf0.1). These expressions generate one call
  * into the kernels below — code size O(1) in codebook size, the
  * codebook itself a plan-constant double[] reference — and keep encode and the
  * corpus-wide ADC scan (the 100 TB hot path) inside whole-stage
  * codegen. Same preference rationale as [[CosineSimilarity]] /
  * [[MinHashSignature]] (SURVEY §7.3).
  *
  * Accumulation order parity: every distance adds its subDim terms in
  * ascending dimension order and ADC adds its nSub lookups in ascending
  * subspace order — bit-identical to the composable form and to the
  * DuckDB oracle's ordered list folds (q63).
  *
  * Codebook layout: flattened row-major, entry (s, c) at
  * [(s*nCodes + c) * subDim, +subDim). Null vector → null; a vector
  * shorter than nSub*subDim → null (malformed row, not an error).
  */
object Pq {
  /** Validate + materialize the foldable codebook child once. */
  private[plans] def cbArray(e: Expression): Array[Double] = {
    require(e.foldable, "PQ codebook must be a plan-time constant")
    e.eval().asInstanceOf[ArrayData].toDoubleArray()
  }

  /** Per-subspace argmin codeword indices of `x`, or null when `x` is
    * shorter than nSub*subDim. */
  def codes(x: ArrayData, cb: Array[Double], nSub: Int, nCodes: Int): ArrayData = {
    val sd = cb.length / (nSub * nCodes)
    if (x.numElements() < nSub * sd) return null
    val codes = new Array[Int](nSub)
    var s = 0
    while (s < nSub) {
      var best = Double.PositiveInfinity; var bestC = 0; var c = 0
      while (c < nCodes) {
        val dist = l2(x, cb, s, c, sd, nCodes)
        if (dist < best) { best = dist; bestC = c }
        c += 1
      }
      codes(s) = bestC; s += 1
    }
    new GenericArrayData(codes)
  }

  /** L2² of `x` to every codeword, entry s*nCodes + c, or null when `x`
    * is shorter than nSub*subDim. */
  def distTable(x: ArrayData, cb: Array[Double], nSub: Int, nCodes: Int): ArrayData = {
    val sd = cb.length / (nSub * nCodes)
    if (x.numElements() < nSub * sd) return null
    val dt = new Array[Double](nSub * nCodes)
    var s = 0
    while (s < nSub) {
      var c = 0
      while (c < nCodes) { dt(s * nCodes + c) = l2(x, cb, s, c, sd, nCodes); c += 1 }
      s += 1
    }
    new GenericArrayData(dt)
  }

  /** Σ_s dt[s*nCodes + codes[s]] in ascending s. */
  def adc(codes: ArrayData, dt: ArrayData, nCodes: Int): Double = {
    var sum = 0.0; var s = 0; val n = codes.numElements()
    while (s < n) { sum += dt.getDouble(s * nCodes + codes.getInt(s)); s += 1 }
    sum
  }

  /** L2² between subvector s of `x` and codeword (s, c). */
  private def l2(x: ArrayData, cb: Array[Double], s: Int, c: Int,
                 sd: Int, nCodes: Int): Double = {
    var dist = 0.0; var i = 0
    while (i < sd) {
      val d = x.getDouble(s * sd + i) - cb((s * nCodes + c) * sd + i)
      dist += d * d; i += 1
    }
    dist
  }
}

/** codes(v): array<int> of per-subspace argmin codeword indices (ties
  * to the lowest index — strict-less-than scan). */
case class PqCodes(left: Expression, right: Expression,
                   nSub: Int, nCodes: Int)
    extends BinaryExpression {

  @transient private lazy val cb: Array[Double] = Pq.cbArray(right)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_codes"

  override def nullSafeEval(v: Any, ignored: Any): Any =
    Pq.codes(v.asInstanceOf[ArrayData], cb, nSub, nCodes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", cb, "double[]")
    nullSafeCodeGen(ctx, ev, (a, _) =>
      s"${ev.value} = graft.plans.Pq.codes($a, $cbRef, $nSub, $nCodes); " +
        s"${ev.isNull} = ${ev.value} == null;")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** dist_table(q): array<double> of L2² to every codeword, entry
  * s*nCodes + c — the per-query lookup table the ADC scan reads. */
case class PqDistTable(left: Expression, right: Expression,
                       nSub: Int, nCodes: Int)
    extends BinaryExpression {

  @transient private lazy val cb: Array[Double] = Pq.cbArray(right)

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_dist_table"

  override def nullSafeEval(v: Any, ignored: Any): Any =
    Pq.distTable(v.asInstanceOf[ArrayData], cb, nSub, nCodes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", cb, "double[]")
    nullSafeCodeGen(ctx, ev, (a, _) =>
      s"${ev.value} = graft.plans.Pq.distTable($a, $cbRef, $nSub, $nCodes); " +
        s"${ev.isNull} = ${ev.value} == null;")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** adc(codes, dt): Σ_s dt[s*nCodes + codes[s]] in ascending s — the
  * per-candidate scan kernel (nSub lookups, no float math on the
  * corpus side). Codegen'd so the corpus-wide scan stage stays in
  * whole-stage codegen (the HOF `aggregate` form is CodegenFallback
  * and would break the join stage out of codegen). */
case class PqAdc(left: Expression, right: Expression, nCodes: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc"

  override def nullSafeEval(codes: Any, dt: Any): Any =
    Pq.adc(codes.asInstanceOf[ArrayData], dt.asInstanceOf[ArrayData], nCodes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.Pq.adc($a, $b, $nCodes)")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object PqNative {

  def pqCodes(spark: SparkSession, vec: Column, cbFlat: Seq[Double],
              nSub: Int, nCodes: Int): Column =
    NativeFunctions.Codes(spark, vec.cast("array<double>"), typedLit(cbFlat),
                          lit(nSub), lit(nCodes))

  def pqDistTable(spark: SparkSession, vec: Column, cbFlat: Seq[Double],
                  nSub: Int, nCodes: Int): Column =
    NativeFunctions.DistTable(spark, vec.cast("array<double>"), typedLit(cbFlat),
                              lit(nSub), lit(nCodes))

  def pqAdc(spark: SparkSession, codes: Column, dt: Column,
            nCodes: Int): Column =
    NativeFunctions.Adc(spark, codes, dt, lit(nCodes))
}
