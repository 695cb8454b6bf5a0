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
  * 5k vectors in BENCH at sf0.1). These expressions emit the loops
  * directly — code size O(1) in codebook size, the codebook itself a
  * plan-constant double[] reference — and keep encode and the
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
}

/** codes(v): array<int> of per-subspace argmin codeword indices (ties
  * to the lowest index — strict-less-than scan). */
case class PqCodes(left: Expression, right: Expression,
                   nSub: Int, nCodes: Int)
    extends BinaryExpression {

  @transient private lazy val cb: Array[Double] = Pq.cbArray(right)
  private def subDim: Int = cb.length / (nSub * nCodes)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_codes"

  override def nullSafeEval(v: Any, ignored: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val sd = subDim
    if (x.numElements() < nSub * sd) return null
    val codes = new Array[Int](nSub)
    var s = 0
    while (s < nSub) {
      var best = Double.PositiveInfinity; var bestC = 0; var c = 0
      while (c < nCodes) {
        var dist = 0.0; var i = 0
        while (i < sd) {
          val d = x.getDouble(s * sd + i) - cb((s * nCodes + c) * sd + i)
          dist += d * d; i += 1
        }
        if (dist < best) { best = dist; bestC = c }
        c += 1
      }
      codes(s) = bestC; s += 1
    }
    new GenericArrayData(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", cb, "double[]")
    val sd = subDim
    nullSafeCodeGen(ctx, ev, (a, _) => {
      val codes = ctx.freshName("codes"); val s = ctx.freshName("s")
      val c = ctx.freshName("c"); val i = ctx.freshName("i")
      val best = ctx.freshName("best"); val bestC = ctx.freshName("bestC")
      val dist = ctx.freshName("dist"); val d = ctx.freshName("d")
      s"""
         |if ($a.numElements() < ${nSub * sd}) {
         |  ${ev.isNull} = true;
         |} else {
         |  int[] $codes = new int[$nSub];
         |  for (int $s = 0; $s < $nSub; $s++) {
         |    double $best = Double.POSITIVE_INFINITY;
         |    int $bestC = 0;
         |    for (int $c = 0; $c < $nCodes; $c++) {
         |      double $dist = 0.0;
         |      for (int $i = 0; $i < $sd; $i++) {
         |        double $d = $a.getDouble($s * $sd + $i)
         |          - $cbRef[($s * $nCodes + $c) * $sd + $i];
         |        $dist += $d * $d;
         |      }
         |      if ($dist < $best) { $best = $dist; $bestC = $c; }
         |    }
         |    $codes[$s] = $bestC;
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($codes);
         |}
       """.stripMargin
    })
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
  private def subDim: Int = cb.length / (nSub * nCodes)

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_dist_table"

  override def nullSafeEval(v: Any, ignored: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val sd = subDim
    if (x.numElements() < nSub * sd) return null
    val dt = new Array[Double](nSub * nCodes)
    var s = 0
    while (s < nSub) {
      var c = 0
      while (c < nCodes) {
        var dist = 0.0; var i = 0
        while (i < sd) {
          val d = x.getDouble(s * sd + i) - cb((s * nCodes + c) * sd + i)
          dist += d * d; i += 1
        }
        dt(s * nCodes + c) = dist; c += 1
      }
      s += 1
    }
    new GenericArrayData(dt)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", cb, "double[]")
    val sd = subDim
    nullSafeCodeGen(ctx, ev, (a, _) => {
      val dt = ctx.freshName("dt"); val s = ctx.freshName("s")
      val c = ctx.freshName("c"); val i = ctx.freshName("i")
      val dist = ctx.freshName("dist"); val d = ctx.freshName("d")
      s"""
         |if ($a.numElements() < ${nSub * sd}) {
         |  ${ev.isNull} = true;
         |} else {
         |  double[] $dt = new double[${nSub * nCodes}];
         |  for (int $s = 0; $s < $nSub; $s++) {
         |    for (int $c = 0; $c < $nCodes; $c++) {
         |      double $dist = 0.0;
         |      for (int $i = 0; $i < $sd; $i++) {
         |        double $d = $a.getDouble($s * $sd + $i)
         |          - $cbRef[($s * $nCodes + $c) * $sd + $i];
         |        $dist += $d * $d;
         |      }
         |      $dt[$s * $nCodes + $c] = $dist;
         |    }
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($dt);
         |}
       """.stripMargin
    })
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

  override def nullSafeEval(codesAny: Any, dtAny: Any): Any = {
    val codes = codesAny.asInstanceOf[ArrayData]
    val dt = dtAny.asInstanceOf[ArrayData]
    var sum = 0.0; var s = 0; val n = codes.numElements()
    while (s < n) {
      sum += dt.getDouble(s * nCodes + codes.getInt(s)); s += 1
    }
    java.lang.Double.valueOf(sum)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val s = ctx.freshName("s")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = $a.numElements();
         |double $sum = 0.0;
         |for (int $s = 0; $s < $n; $s++) {
         |  $sum += $b.getDouble($s * $nCodes + $a.getInt($s));
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

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
