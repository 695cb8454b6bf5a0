package graft

import org.apache.spark.sql.SparkSession

/** One-call engine setup for an EXISTING session: registers every
  * native expression of [[plans.NativeFunctions]] as a temp SQL
  * function, so notebooks and spark-shell users get the full surface
  * without rebuilding the session. The production path is
  * `spark.sql.extensions=graft.plans.GraftExtensions` at session build
  * (which also installs the FuseCosineRule optimizer rule — optimizer
  * rules cannot be injected post-hoc, so `init` adds the rule via
  * `experimental.extraOptimizations` instead).
  */
object Graft {
  def init(spark: SparkSession): SparkSession = {
    plans.NativeFunctions.all.foreach(plans.NativeFunctions.register(spark, _))
    if (!spark.experimental.extraOptimizations.contains(plans.FuseCosineRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ plans.FuseCosineRule
    spark
  }
}
