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
  * expression emits a single fused loop into whole-stage codegen: one
  * pass, three accumulators, no allocation — the preferred shape for a
  * 100 TB embedding scan (SURVEY §7.3: custom Expression only where
  * built-ins leave real performance behind).
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

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
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

  // Every local is ctx.freshName'd: with non-nullable inputs (e.g. a
  // literal hyperplane/centroid vector) nullSafeCodeGen inlines the
  // fragment with no guarding block, so N instances of this expression
  // in one projection (IVF scores 16 centroids at once) share a scope —
  // fixed names made Janino fail with "Redefinition of local variable"
  // and the whole projection fell back to interpreted evaluation.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny"); val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $a.getFloat($i);
         |  double $yi = $b.getFloat($i);
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |if ($nx == 0.0 || $ny == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
