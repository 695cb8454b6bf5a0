package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Jaro-Winkler similarity — the graded string-match score
  * record linkage ranks candidates by where Levenshtein's integer
  * distance is too coarse (JW rewards shared prefixes, the
  * highest-signal region of names/codes). Spark ships levenshtein but
  * no Jaro-Winkler; this expression adds it with DuckDB-matching
  * semantics so the oracle can replay it directly:
  *  - either side empty → 0.0 (DuckDB's convention, NOT 1.0 for two
  *    empties);
  *  - match window = max(|a|,|b|)/2 − 1 (floored at 0);
  *  - Winkler prefix boost (ℓ ≤ 4, p = 0.1) applied only when
  *    jaro > 0.7 (the boost threshold, verified empirically against
  *    DuckDB's jaro_winkler_similarity).
  *
  * Codegen is one static call (the Levenshtein pattern): the loop
  * lives in [[JaroWinklerImpl]], the generated code stays a single
  * expression, and the projection remains inside whole-stage codegen.
  * Per-row cost is O(|a|·window) with two small scratch arrays —
  * scan-local, no shuffle, linear in the corpus. */
case class JaroWinklerSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler_native"

  override def nullSafeEval(l: Any, r: Any): Any =
    JaroWinklerImpl.similarity(l.asInstanceOf[UTF8String],
                               r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.plans.JaroWinklerImpl.similarity($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object JaroWinklerImpl {
  /** DuckDB-compatible Jaro-Winkler over the strings' UTF-16 chars
    * (test data is ASCII; for astral-plane text both engines would
    * need a shared codepoint convention). */
  def similarity(l: UTF8String, r: UTF8String): Double = {
    val a = l.toString
    val b = r.toString
    val n = a.length
    val m = b.length
    if (n == 0 || m == 0) return 0.0
    val window = math.max(math.max(n, m) / 2 - 1, 0)
    val aMatch = new Array[Boolean](n)
    val bMatch = new Array[Boolean](m)
    var matches = 0
    var i = 0
    while (i < n) {
      val lo = math.max(0, i - window)
      val hi = math.min(m - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!bMatch(j) && a.charAt(i) == b.charAt(j)) {
          aMatch(i) = true; bMatch(j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    // transpositions: matched chars out of relative order, halved
    var transpositions = 0
    var j = 0
    i = 0
    while (i < n) {
      if (aMatch(i)) {
        while (!bMatch(j)) j += 1
        if (a.charAt(i) != b.charAt(j)) transpositions += 1
        j += 1
      }
      i += 1
    }
    val md = matches.toDouble
    val jaro = (md / n + md / m + (md - transpositions / 2) / md) / 3.0
    var prefix = 0
    while (prefix < math.min(math.min(n, m), 4) &&
           a.charAt(prefix) == b.charAt(prefix)) prefix += 1
    if (jaro > 0.7) jaro + prefix * 0.1 * (1.0 - jaro) else jaro
  }
}

object JaroWinklerNative {

  def jaroWinkler(spark: SparkSession, a: Column, b: Column): Column =
    NativeFunctions.JaroWinkler(spark, a, b)
}
