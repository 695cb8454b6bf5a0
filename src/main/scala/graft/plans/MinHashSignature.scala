package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
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

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    if (n == 0) return null
    val mins = Array.fill(numPerm)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var j = 0
      while (j < numPerm) {
        val p = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(h, j.toLong)
        if (p < mins(j)) mins(j) = p
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  // Locals are ctx.freshName'd: with a non-nullable input the fragment
  // is inlined with no enclosing block, so two instances in one
  // projection would collide on fixed names (see CosineSimilarity).
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val mins = ctx.freshName("mins")
      val i = ctx.freshName("i"); val h = ctx.freshName("h")
      val j = ctx.freshName("j"); val p = ctx.freshName("p")
      s"""
         |int $n = $a.numElements();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $mins = new long[$numPerm];
         |  java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $h = $a.getLong($i);
         |    for (int $j = 0; $j < $numPerm; $j++) {
         |      long $p = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong($h, (long) $j);
         |      if ($p < $mins[$j]) $mins[$j] = $p;
         |    }
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashNative {

  /** Signature column: array<long> of `numPerm` permutation minima. */
  def minhashNative(spark: SparkSession, hashed: Column, numPerm: Int): Column =
    NativeFunctions.MinHash(spark, hashed.cast("array<bigint>"), lit(numPerm))
}
