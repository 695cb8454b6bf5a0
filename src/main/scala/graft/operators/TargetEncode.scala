package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Exact.exactSum9
import graft.util.Pin._

/** Leave-one-out target encoding with additive smoothing — the
  * standard high-cardinality categorical feature for tabular models.
  * Each row's encoding is the mean of the TARGET over the OTHER rows
  * of its category, shrunk toward the global mean by a pseudo-count
  * `m`:
  *
  *   enc_i = (sum_cat − t_i + m·μ) / (n_cat − 1 + m)
  *
  * Leaving the row itself out is what makes the feature safe to train
  * on (plain category-mean encoding leaks the row's own label);
  * smoothing keeps rare categories from collapsing onto their one or
  * two observed targets.
  *
  * Scale shape: per-category sums/counts come from ONE partial
  * (map-side) aggregation whose output is category-cardinality, then
  * broadcast back — the fact table itself never shuffles; the global
  * mean is a 1-row crossJoin; the encoding is a narrow projection.
  * Portability: sums ride DECIMAL(30,6) (order-independent), the
  * final arithmetic is double with a fixed operation order, rounded
  * to 4 decimals. */
object TargetEncode {

  def looEncode(df: DataFrame, catCol: String, targetCol: String,
                m: Double, outCol: String = "target_enc"): DataFrame = {
    val t = col(targetCol).cast("double")
    val perCat = df.groupBy(col(catCol))
      .agg(sum(t.cast("decimal(30,6)")).cast("double").as("__sum_cat"),
           count(t).as("__n_cat"))
    val global = df.agg(
        (sum(t.cast("decimal(30,6)")).cast("double") /
         count(t).cast("double")).as("__mu"))
    df.join(broadcast(perCat), catCol)
      .crossJoin(broadcast(global))
      .withColumn(outCol,
        round((col("__sum_cat") - t + lit(m) * col("__mu")) /
              (col("__n_cat").cast("double") - 1.0 + lit(m)), 4))
      .drop("__sum_cat", "__n_cat", "__mu")
  }

  /** Weight-of-evidence encoding + information value — the
    * credit-scoring-style categorical diagnostic: per category i,
    *
    *   woe_i = ln( ((pos_i + ½)/P) / ((neg_i + ½)/N) )
    *   iv_i  = ((pos_i + ½)/P − (neg_i + ½)/N) · woe_i
    *
    * (½ in each cell keeps pure categories finite; P/N are the raw
    * label totals). Σ iv_i is the feature's predictive-power score —
    * the per-category rows are returned so both the encoding table
    * and the IV readout come from one pass.
    *
    * Scale shape: identical to [[looEncode]] — one map-side-combined
    * aggregation to category cardinality, label totals via a 1-row
    * broadcast crossJoin, arithmetic in fixed-order doubles over
    * exact integer counts. */
  def woeIv(df: DataFrame, catCol: String,
            label: org.apache.spark.sql.Column): DataFrame = {
    val y = when(label, 1L).otherwise(0L)
    val perCat = df.select(col(catCol), y.as("__y"))
      .groupBy(col(catCol))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"),
           (count(lit(1)) - sum(col("__y"))).as("n_neg"))
    val totals = df.select(y.as("__y"))
      .agg(sum(col("__y")).as("__p"),
           (count(lit(1)) - sum(col("__y"))).as("__n"))
    val ps = (col("n_pos").cast("double") + 0.5) / col("__p").cast("double")
    val ns = (col("n_neg").cast("double") + 0.5) / col("__n").cast("double")
    perCat.crossJoin(broadcast(totals))
      .select(col(catCol), col("n"), col("n_pos"), col("n_neg"),
              round(log(ps / ns), 6).as("woe"),
              round((ps - ns) * log(ps / ns), 6).as("iv_term"))
  }
  /** Mutual information between two categorical columns — the
    * model-free dependence score feature selection ranks on (WOE/IV's
    * sibling for categorical×categorical): MI = Σᵢⱼ pᵢⱼ ln(pᵢⱼ /
    * (pᵢ·pⱼ)), plus both marginal entropies and the normalized
    * NMI = MI/√(H_a·H_b).
    *
    * Scale shape: one fold of the corpus to the |A|×|B| contingency
    * frame (map-side combined), marginals re-aggregated from it
    * (never a second corpus pass), broadcast-joined back; each ln
    * term quantizes to 9 decimals and sums in exact decimal — the
    * charEntropy portability contract. Returns 1 row:
    * (n, h_a, h_b, mi, nmi). */
  def mutualInfo(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df
      .select(col(aCol).cast("string").as("a"),
              col(bCol).cast("string").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("nij"))
      .pin // contingency frame: built once, read 4×
    val ma = cells.groupBy(col("a")).agg(sum(col("nij")).as("ni"))
    val mb = cells.groupBy(col("b")).agg(sum(col("nij")).as("nj"))
    val tot = cells.agg(sum(col("nij")).as("nn"))
    val nd = col("nn").cast("double")
    def entropy(m: DataFrame, cnt: String, out: String): DataFrame =
      m.crossJoin(broadcast(tot))
        .agg(round(exactSum9((col(cnt).cast("double") / nd) *
            log(nd / col(cnt).cast("double"))), 6).as(out))
    val ha = entropy(ma, "ni", "h_a")
    val hb = entropy(mb, "nj", "h_b")
    val mi = cells
      .join(broadcast(ma), Seq("a")).join(broadcast(mb), Seq("b"))
      .crossJoin(broadcast(tot))
      .agg(first(col("nn")).as("n"),
        round(exactSum9((col("nij").cast("double") / nd) *
            log((col("nij").cast("double") * nd) /
                (col("ni").cast("double") * col("nj").cast("double")))), 6)
          .as("mi"))
    // NMI from the ROUNDED h_a/h_b/mi (the oracle mirrors this order);
    // a degenerate marginal (H = 0) yields NULL, not a fabricated 0
    mi.crossJoin(broadcast(ha)).crossJoin(broadcast(hb))
      .select(col("n"), col("h_a"), col("h_b"), col("mi"),
        round(col("mi") /
          sqrt(when(col("h_a") * col("h_b") > 0,
                    col("h_a") * col("h_b"))), 6).as("nmi"))
  }

}
