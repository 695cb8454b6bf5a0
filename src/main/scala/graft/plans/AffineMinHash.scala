package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native codegen'd PORTABLE-arithmetic MinHash signature: element j of
  * the result is min over the input hashes h of (h*(2j+1) + j) mod P,
  * P = 2^31-1 — exactly the modular permutation family of the
  * hash-verified portable pipeline (NearDup.portableNearDupPairs), so
  * the DuckDB oracle still recomputes every value; only the EVALUATION
  * is fused (one pass, long[] accumulator) instead of `numPerm`
  * interpreted transform+array_min HOF trees per row.
  *
  * The portability contract constrains WHAT is computed, not HOW: this
  * expression changes no output bit relative to the HOF form (same
  * bounded arithmetic, h < P so h*(2*numPerm-1)+j < 2^37 — no
  * overflow in either engine).
  *
  * Null/empty semantics: null input → null; empty input → null
  * (matches [[MinHashSignature]]).
  */
case class AffineMinHash(child: Expression, numPerm: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "affine_minhash"

  override def nullSafeEval(input: Any): Any =
    AffineMinHash.signature(input.asInstanceOf[ArrayData], numPerm)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.AffineMinHash.signature($a, $numPerm); " +
        s"${ev.isNull} = ${ev.value} == null;")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AffineMinHash {

  private val P = 2147483647L

  /** The signature of `hs`, or null when `hs` is empty. */
  def signature(hs: ArrayData, numPerm: Int): ArrayData = {
    val n = hs.numElements()
    if (n == 0) return null
    val mins = Array.fill(numPerm)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var j = 0
      while (j < numPerm) {
        val p = (h * (2L * j + 1L) + j) % P
        if (p < mins(j)) mins(j) = p
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

object AffineMinHashNative {

  /** Signature column: array<long> of `numPerm` affine-permutation
    * minima mod 2^31-1. */
  def affineMinhash(spark: SparkSession, hashed: Column, numPerm: Int): Column =
    NativeFunctions.AffineMin(spark, hashed.cast("array<bigint>"), lit(numPerm))
}
