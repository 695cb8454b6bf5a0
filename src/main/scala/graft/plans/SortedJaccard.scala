package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}

/** Native codegen'd set-Jaccard over two SORTED, DISTINCT arrays.
  *
  * The composable form — `size(array_intersect(a, b)) /
  * size(array_union(a, b))` — is correct and oracle-mirrorable, but
  * per PAIR it builds a hash set over one side, probes the other, and
  * materializes BOTH the intersection and the union arrays just to
  * take their sizes. On an LSH verify stage that is the hot loop: the
  * candidate count is orders above the document count, so the per-pair
  * constant dominates the whole near-dup pipeline (guide §4: make the
  * per-task inner loop allocation-free before touching anything else).
  *
  * This expression is a single merge pass over the two sorted arrays —
  * one intersection counter, zero allocation — and |∪| falls out as
  * |a| + |b| − |∩| (exact for distinct inputs). Sorting happens ONCE
  * per document (an `array_sort` in the projection that builds the
  * token/hash frame), not once per pair, which flips the economics:
  * O(T log T) per doc buys O(|a|+|b|) comparisons per pair with no
  * hashing and no garbage.
  *
  * Value contract: bit-identical to the composable form on its
  * declared inputs — sorted ascending, distinct, no null elements
  * (the NearDup pipelines guarantee all three: `array_distinct` +
  * `array_sort` over non-null tokens/hashes). Both-empty inputs yield
  * NULL: the composable `size/size` 0/0 never produces a value either
  * (it throws under ANSI — the session default — and nulls under
  * non-ANSI/try_divide), and an IEEE NaN here would PASS `>= threshold`
  * filters that the composable form drops; a null
  * ARRAY likewise yields null (nullSafeEval). Element types:
  * array<bigint> (hashed shingles) and array<string> (token sets),
  * verified at analysis time (both sides must agree).
  */
case class SortedJaccard(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "sorted_jaccard"

  // mismatched or unsupported element types fail at ANALYSIS, not
  // executor-side at eval/codegen (the kernel choice below only ever
  // sees inputs this check admitted)
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sorted_jaccard needs two array<bigint> or two array<string> " +
          s"arguments, got $l and $r")
    }

  // the element type picks the kernel once per expression; generated
  // code names it directly
  private lazy val longElems: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val r = if (longElems) SortedJaccard.longs(x, y) else SortedJaccard.strings(x, y)
    if (r.isNaN) null else java.lang.Double.valueOf(r)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = if (longElems) "longs" else "strings"
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.SortedJaccard.$kernel($a, $b); " +
        s"${ev.isNull} = java.lang.Double.isNaN(${ev.value});")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedJaccard {

  /** |x ∩ y| / |x ∪ y| by one merge pass over two sorted distinct
    * array<bigint>s; NaN (0/0) exactly when both are empty. */
  def longs(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements(); val m = y.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < n && j < m) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { inter += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    inter.toDouble / (n + m - inter).toDouble
  }

  /** [[longs]] over two sorted distinct array<string>s. */
  def strings(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements(); val m = y.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < n && j < m) {
      val c = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    inter.toDouble / (n + m - inter).toDouble
  }
}

object SortedJaccardNative {

  /** Jaccard over two sorted distinct arrays (array<bigint> or
    * array<string>, both sides the same type). */
  def sortedJaccard(spark: SparkSession, a: Column, b: Column): Column =
    NativeFunctions.Jaccard(spark, a, b)
}
