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

  override def nullSafeEval(input: Any): Any =
    SimHash64.signature(input.asInstanceOf[ArrayData])

  // the boxed result (null: empty input) passes through a field, not a local
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sig = ctx.addMutableState("java.lang.Long", "simhash")
    nullSafeCodeGen(ctx, ev, a =>
      s"$sig = graft.plans.SimHash64.signature($a); " +
        s"${ev.isNull} = $sig == null; if (!${ev.isNull}) ${ev.value} = $sig;")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {

  /** The signature of `hs`, or null when `hs` is empty. */
  def signature(hs: ArrayData): java.lang.Long = {
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
}

object SimHashNative {

  /** 64-bit signature column over an array<long> of hashed tokens. */
  def simhashNative(spark: SparkSession, hashed: Column): Column =
    NativeFunctions.SimHash(spark, hashed.cast("array<bigint>"))
}
