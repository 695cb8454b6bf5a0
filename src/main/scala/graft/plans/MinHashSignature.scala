package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native codegen'd MinHash signature over an array<long> of hashed
  * shingles: element j of the result is min over the input of
  * XXH64(h, seed = j) — `numPerm` permutation minima in ONE fused pass
  * with a long[] accumulator, no per-permutation array allocation and
  * no interpreted lambda bodies (the composable formulation evaluates
  * numPerm separate transform+array_min HOF trees per row).
  *
  * Same preference rationale as [[CosineSimilarity]] (SURVEY §7.3):
  * custom Expression only where the built-ins leave real per-row cost
  * behind — here the whole LSH signature of a 100 TB corpus.
  *
  * Null/empty semantics: null input → null; empty input → null (a doc
  * with no shingles has no signature).
  */
case class MinHashSignature(child: Expression, numPerm: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_native"

  override def nullSafeEval(input: Any): Any =
    MinHashSignature.signature(input.asInstanceOf[ArrayData], numPerm)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.MinHashSignature.signature($a, $numPerm); " +
        s"${ev.isNull} = ${ev.value} == null;")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSignature {

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
        val p = XXH64.hashLong(h, j.toLong)
        if (p < mins(j)) mins(j) = p
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

object MinHashNative {

  /** Signature column: array<long> of `numPerm` permutation minima. */
  def minhashNative(spark: SparkSession, hashed: Column, numPerm: Int): Column =
    NativeFunctions.MinHash(spark, hashed.cast("array<bigint>"), lit(numPerm))
}
