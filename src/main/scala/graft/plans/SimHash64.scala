package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Native codegen'd 64-bit SimHash over an array<long> of hashed
  * tokens: bit b of the result is 1 iff the count of inputs with bit b
  * set exceeds the count with it clear — the classic ±1 vote per bit,
  * folded in ONE pass with an int[64] accumulator.
  *
  * The composable formulation (NearDup.simhash64's 64 `aggregate` HOF
  * folds) re-walks the token array 64 times through interpreted lambda
  * bodies; this expression walks it once in generated code — the
  * signature pass over a 100 TB corpus is exactly the hot loop SURVEY
  * §7.3 reserves custom Expressions for. Bit-identical to the HOF
  * fold (the ±1 vote sum is >0 iff set-count*2 > n).
  *
  * Null/empty semantics: null input → null; empty input → null (a doc
  * with no tokens has no signature) — matching the HOF pipeline's
  * size(...) > 0 filter contract.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash64_native"

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    if (n == 0) return null
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    java.lang.Long.valueOf(sig)
  }

  // All locals ctx.freshName'd — non-nullable inputs inline the
  // fragment without an enclosing block (see CosineSimilarity).
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val votes = ctx.freshName("votes")
      val i = ctx.freshName("i"); val h = ctx.freshName("h")
      val b = ctx.freshName("b"); val sig = ctx.freshName("sig")
      s"""
         |int $n = $a.numElements();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  int[] $votes = new int[64];
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $h = $a.getLong($i);
         |    for (int $b = 0; $b < 64; $b++) {
         |      $votes[$b] += (int) (($h >>> $b) & 1L) * 2 - 1;
         |    }
         |  }
         |  long $sig = 0L;
         |  for (int $b = 0; $b < 64; $b++) {
         |    if ($votes[$b] > 0) $sig |= (1L << $b);
         |  }
         |  ${ev.value} = $sig;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashNative {

  /** 64-bit signature column over an array<long> of hashed tokens. */
  def simhashNative(spark: SparkSession, hashed: Column): Column =
    NativeFunctions.SimHash(spark, hashed.cast("array<bigint>"))
}
