package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Pin._

/** Robust per-group outlier scoring via MAD (median absolute
  * deviation) — the heavy-tail-safe alternative to mean/stddev
  * z-scores (one extreme value drags a mean and inflates a stddev;
  * medians ignore it). robust_z = (x − med) / (1.4826·mad), where
  * 1.4826 rescales MAD to estimate σ under normality.
  *
  * Portability contract (the Winsorize pattern): both medians are
  * exact percentiles ROUNDED to 4 decimals before any downstream
  * arithmetic, so the score never hangs on the last ulp of two
  * engines' interpolation; the z itself rounds to 4. mad == 0
  * (constant group) yields NULL rather than ±Inf.
  *
  * Scale shape: ONE corpus exchange — the group repartition feeds the
  * median aggregation, the deviation-median aggregation, AND the
  * final projection (subset clustering); both aggregation outputs are
  * groups-sized frames broadcast back. Exact in-buffer percentile is
  * the verification-scale mode; at 100 TB swap `approx_percentile`
  * (the q81 sketch contract) and the buffer becomes bounded. */
object Robust {

  /** All input columns + `med`, `mad`, `robust_z`. */
  def madScore(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame = {
    val x = col(valueCol).cast("double")
    val k = keys.map(col)
    val prepared = df.filter(x.isNotNull).repartition(k: _*)
    val med = prepared.groupBy(k: _*)
      .agg(round(expr(s"percentile(CAST($valueCol AS DOUBLE), 0.5)"), 4).as("med"))
    val withMed = prepared.join(broadcast(med), keys)
    val mad = withMed.groupBy(k: _*)
      .agg(round(expr(s"percentile(abs(CAST($valueCol AS DOUBLE) - med), 0.5)"), 4)
        .as("mad"))
    withMed.join(broadcast(mad), keys)
      .withColumn("robust_z",
        round((x - col("med")) /
              (lit(1.4826) * when(col("mad") =!= 0.0, col("mad"))), 4))
  }

  /** Rows whose |robust_z| exceeds `zCut` (constant-value groups never
    * flag: their robust_z is NULL). */
  /** Theil–Sen robust trend per group: the MEDIAN of all pairwise
    * slopes between a group's first `maxPoints` observations in
    * sequence order — a 29%-breakdown estimator a single spike cannot
    * drag the way least squares lets it. Returns per group the pair
    * count and the median slope.
    *
    * Scale shape: one group-keyed exchange feeds the sequence-index
    * window, the per-group pair self-join, and the median rank window
    * — per-task cost bounds at maxPoints² PER GROUP (the documented
    * practical Theil–Sen bound; beyond it you sample pairs, same
    * estimator). Slopes quantize to 9 decimals before ranking so the
    * median two values — and their mean — are engine-portable. */
  def theilSen(df: DataFrame, keys: Seq[String], orderCols: Seq[String],
               valueCol: String, maxPoints: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kc = keys.map(col)
    val w = Window.partitionBy(kc: _*)
      .orderBy(orderCols.map(col(_).asc): _*)
    val seq0 = df
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxPoints)
      .select(kc :+ col("__rn") :+ col(valueCol).cast("double").as("__v"): _*)
      // maxPoints-bounded per key; BOTH self-join sides consume it, and
      // while the key exchange is reused, the window sort + rank above
      // it would re-run per side (the narrow-pipeline lesson)
      .pin
    val a = seq0.toDF(seq0.columns.map(c => if (c.startsWith("__")) c + "a" else c): _*)
    val b = seq0.toDF(seq0.columns.map(c => if (c.startsWith("__")) c + "b" else c): _*)
    val slopes = a.join(b, keys)
      .filter(col("__rna") < col("__rnb"))
      .select(kc :+
        round((col("__vb") - col("__va")) /
              (col("__rnb") - col("__rna")).cast("double"), 9).as("__s"): _*)
    val ranked = slopes
      .withColumn("__cnt", count(lit(1)).over(Window.partitionBy(kc: _*)))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(kc: _*).orderBy(col("__s").asc)))
    ranked
      .filter(col("__rk") === expr("(__cnt + 1) DIV 2") ||
              col("__rk") === expr("(__cnt + 2) DIV 2"))
      .groupBy(kc: _*)
      .agg(max(col("__cnt")).as("n_pairs"),
           round(sum(col("__s")) / count(lit(1)).cast("double"), 6)
             .as("slope_median"))
  }

  def madOutliers(df: DataFrame, keys: Seq[String], valueCol: String,
                  zCut: Double): DataFrame =
    madScore(df, keys, valueCol).filter(abs(col("robust_z")) > zCut)
}
