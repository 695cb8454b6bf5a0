package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native codegen'd cosine similarity over two array<float> columns.
  *
  * The composable formulation (`zip_with` + `aggregate`, Similarity.dot)
  * is correct and oracle-mirrorable but allocates an intermediate
  * products array per row and interprets two lambda bodies. This
  * expression runs a single fused loop inside whole-stage codegen: one
  * pass, three accumulators, no intermediate array — the preferred
  * shape for a 100 TB embedding scan (SURVEY §7.3: custom Expression
  * only where built-ins leave real performance behind).
  *
  * Null/empty semantics: null input → null (NullIntolerant via
  * nullSafeEval); zero-norm vector → null (undefined cosine).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // Inputs must be array<float>; the Column wrapper (NativeFunctions.
  // cosineNative) casts callers' columns, since ExpectsInputTypes'
  // AbstractDataType is private[sql].
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_native"

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.similarity(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  // the boxed result (null: undefined) passes through a field, not a local
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cos = ctx.addMutableState("java.lang.Double", "cosine")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"$cos = graft.plans.CosineSimilarity.similarity($a, $b); " +
        s"${ev.isNull} = $cos == null; if (!${ev.isNull}) ${ev.value} = $cos;")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {

  /** Cosine of `x` and `y` over their common prefix, or null when
    * either side has zero norm there. */
  def similarity(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
    }
    // sqrt(nx)*sqrt(ny), NOT sqrt(nx*ny): keeps the float path
    // bit-identical to the composable zip_with+aggregate formulation
    // (and the DuckDB oracle), so both code paths share one oracle.
    if (nx == 0.0 || ny == 0.0) null
    else java.lang.Double.valueOf(dot / (math.sqrt(nx) * math.sqrt(ny)))
  }
}
