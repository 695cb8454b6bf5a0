package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Exact.exactSum9
import graft.util.Pin._

/** Experiment analysis: two-sample comparison with CUPED variance
  * reduction (Deng et al. 2013) — the controlled-experiment readout a
  * data platform serves after every launch. CUPED subtracts the part
  * of the outcome predicted by a PRE-experiment covariate
  * (y' = y − θ·(x − x̄), θ = cov(x,y)/var(x)), shrinking variance by
  * the squared correlation without biasing the arm difference (θ and
  * x̄ are computed over ALL units, so E[y'|arm] − E[y|arm] is the same
  * constant in both arms).
  *
  * Scale shape: two map-side-combined aggregation passes over the
  * per-unit frame — pass 1 reduces to ONE row of exact decimal moments
  * (n, Σx, Σy, Σx², Σxy — the corrStats arithmetic) from which θ and
  * x̄ derive; pass 2 aggregates the θ-adjusted outcome per arm. No
  * joins except the 1-row broadcast of θ. Every cross-engine number
  * derives from exact integer sums; doubles appear only in the final
  * closed-form divisions.
  */
object AbTest {

  private def q6(c: Column): Column =
    round(c.cast("double") * lit(1e6), 0).cast("decimal(19,0)")

  /** Per-arm CUPED summary from a per-unit frame:
    * (arm, n, mean_post, mean_cuped, var_post, var_cuped) — variance
    * reduction reads off the last two columns. Rounded to 6. */
  def cupedByArm(units: DataFrame, armCol: String, preCol: String,
                 postCol: String): DataFrame = {
    val x = q6(col(preCol))
    val y = q6(col(postCol))
    val moments = units.agg(
      count(lit(1)).as("__n"),
      sum(x).cast("decimal(38,0)").as("__sx"),
      sum(y).cast("decimal(38,0)").as("__sy"),
      sum(x * x).cast("decimal(38,0)").as("__sxx"),
      sum(x * y).cast("decimal(38,0)").as("__sxy"))
    val nD = col("__n").cast("double")
    val theta =
      ((nD * col("__sxy").cast("double")) -
        col("__sx").cast("double") * col("__sy").cast("double")) /
      ((nD * col("__sxx").cast("double")) -
        col("__sx").cast("double") * col("__sx").cast("double"))
    val meanPre = col("__sx").cast("double") / nD / lit(1e6)
    val withTheta = units.crossJoin(
      broadcast(moments.select(round(theta, 9).as("__theta"),
                               round(meanPre, 9).as("__mean_pre"))))
    val adj = col(postCol).cast("double") -
      col("__theta") * (col(preCol).cast("double") - col("__mean_pre"))
    withTheta
      .select(col(armCol).as("arm"),
              col(postCol).cast("double").as("__y"), adj.as("__ya"))
      .groupBy(col("arm"))
      .agg(count(lit(1)).as("n"),
           round(sum(q6(col("__y"))).cast("double") /
                 count(lit(1)).cast("double") / 1e6, 6).as("mean_post"),
           round(sum(q6(col("__ya"))).cast("double") /
                 count(lit(1)).cast("double") / 1e6, 6).as("mean_cuped"),
           round((sum(q6(col("__y")) * q6(col("__y"))).cast("double") -
                  sum(q6(col("__y"))).cast("double") *
                  sum(q6(col("__y"))).cast("double") /
                  count(lit(1)).cast("double")) /
                 count(lit(1)).cast("double") / 1e12, 6).as("var_post"),
           round((sum(q6(col("__ya")) * q6(col("__ya"))).cast("double") -
                  sum(q6(col("__ya"))).cast("double") *
                  sum(q6(col("__ya"))).cast("double") /
                  count(lit(1)).cast("double")) /
                 count(lit(1)).cast("double") / 1e12, 6).as("var_cuped"))
  }

  /** Stratified-propensity IPW (Hájek) treatment-effect estimate for
    * OBSERVATIONAL data — when arms weren't randomized, weight each
    * unit by the inverse of its stratum's empirical treatment rate so
    * over-represented strata stop biasing the contrast:
    *
    *   ê_s = n_treat(s)/n(s),  μ̂₁ = Σ T·Y/ê / Σ T/ê,
    *   μ̂₀ = Σ (1−T)·Y/(1−ê) / Σ (1−T)/(1−ê),  ATE = μ̂₁ − μ̂₀.
    *
    * Strata violating overlap (ê = 0 or 1 — no treated or no control
    * units) cannot identify an effect and are EXCLUDED, with their
    * unit count reported (`n_dropped`) rather than silently absorbed.
    *
    * Scale shape: one map-side-combined aggregation to stratum
    * cardinality (the propensity table, broadcast back), then one
    * 1-row aggregation of quantized-decimal weighted sums — the q152
    * arithmetic, so every division is a fixed-order double op over
    * exact integers. Returns 1 row. */
  def ipwEffect(units: DataFrame, treatCol: String, outcomeCol: String,
                strataCol: String): DataFrame = {
    val t = when(col(treatCol), 1L).otherwise(0L)
    val perStratum = units
      .select(col(strataCol).as("__s"), t.as("__t"))
      .groupBy(col("__s"))
      .agg(count(lit(1)).as("__ns"), sum(col("__t")).as("__nt"))
      .withColumn("__e", round(col("__nt").cast("double") /
                               col("__ns").cast("double"), 9))
    val joined = units
      .select(col(strataCol).as("__s"), t.as("__t"),
              col(outcomeCol).cast("double").as("__y"))
      .join(broadcast(perStratum), Seq("__s"))
    val ok = col("__e") > 0.0 && col("__e") < 1.0
    val w1 = col("__t").cast("double") / col("__e")
    val w0 = (lit(1L) - col("__t")).cast("double") / (lit(1.0) - col("__e"))
    joined.agg(
        count(lit(1)).as("n"),
        sum(when(ok, col("__t")).otherwise(0L)).as("n_treat"),
        sum(when(!ok, 1L).otherwise(0L)).as("n_dropped"),
        sum(when(ok, q6(w1 * col("__y"))).otherwise(lit(0L).cast("decimal(19,0)")))
          .cast("decimal(38,0)").as("__sy1"),
        sum(when(ok, q6(w1)).otherwise(lit(0L).cast("decimal(19,0)")))
          .cast("decimal(38,0)").as("__sw1"),
        sum(when(ok, q6(w0 * col("__y"))).otherwise(lit(0L).cast("decimal(19,0)")))
          .cast("decimal(38,0)").as("__sy0"),
        sum(when(ok, q6(w0)).otherwise(lit(0L).cast("decimal(19,0)")))
          .cast("decimal(38,0)").as("__sw0"))
      .select(col("n"), col("n_treat"), col("n_dropped"),
        round(col("__sy1").cast("double") / col("__sw1").cast("double"), 6)
          .as("mu_treated"),
        round(col("__sy0").cast("double") / col("__sw0").cast("double"), 6)
          .as("mu_control"),
        round(col("__sy1").cast("double") / col("__sw1").cast("double") -
              col("__sy0").cast("double") / col("__sw0").cast("double"), 6)
          .as("ate"))
  }
  /** Randomization (approximate permutation) test for a difference in
    * means: the distribution-free p-value companion to [[cupedByArm]]
    * — under the null, the observed arm labels are exchangeable, so
    * the observed mean difference is compared against `b` deterministic
    * LCG re-labelings of the SAME rows (Bernoulli-half splits, the
    * standard approximate-permutation variant; group sizes vary
    * binomially). p = (1 + #{|diff_rep| ≥ |diff_obs|}) / (b + 1), the
    * add-one form that can never report p = 0.
    *
    * Scale shape: the q176 bootstrap economics — ONE pass over the
    * b-fold exploded rows (map-side combined to b partial sums of
    * micro-unit integers), plus one 1-row observed aggregate; no
    * shuffle of raw data, replicate frame is b rows. A replicate that
    * draws an empty arm yields NULL and is not counted (loudly
    * visible as n_valid < b). Returns 1 row:
    * (n, n1, diff_obs, b, n_valid, n_ge, p_value). */
  def permutationTest(df: DataFrame, idCol: String, valueCol: String,
                      group: Column, b: Int = 64): DataFrame = {
    require(b >= 8 && b <= 4096, s"AbTest.permutationTest: b in [8, 4096]")
    import org.apache.spark.sql.types.DecimalType
    import graft.util.Exact
    // spread: the x64 replicate explode + LCG + per-rep sums are the
    // hot loop; a sub-split input runs it on one core otherwise
    // (Tables.spreadSmall, self-disabling at scale; q203 3.6 -> 1.0)
    val rows = graft.Tables.spreadSmall(df).filter(col(valueCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
              round(col(valueCol).cast("double") * 1e6, 0).cast("long")
                .as("xq"),
              when(group, 1L).otherwise(0L).as("g"))
    def d38(c: Column) = c.cast(DecimalType(38, 0))
    def meanDiff(s1: Column, n1: Column, s: Column, n: Column): Column =
      round(s1.cast("double") / 1e6 / n1.cast("double"), 9) -
        round((s - s1).cast("double") / 1e6 / (n - n1).cast("double"), 9)
    val obs = rows.agg(count(lit(1)).as("n"), sum(col("g")).as("n1"),
        sum(d38(col("xq"))).as("s"),
        sum(d38(col("g") * col("xq"))).as("s1"))
      .select(col("n"), col("n1"),
        round(meanDiff(col("s1"), col("n1"), col("s"), col("n")), 6)
          .as("diff_obs"))
    val reps = rows
      .select(col("id"), col("xq"),
              explode(sequence(lit(0), lit(b - 1))).as("rep"))
      .withColumn("bit", pmod(shiftright(
        graft.llm.Similarity.lcg(col("id") * b + col("rep")), 16), lit(2)))
      .groupBy(col("rep"))
      .agg(count(lit(1)).as("rn"), sum(col("bit")).as("rn1"),
        sum(d38(col("xq"))).as("rs"),
        sum(d38(col("bit") * col("xq"))).as("rs1"))
      .select(col("rep"),
        round(meanDiff(col("rs1"), col("rn1"), col("rs"), col("rn")), 6)
          .as("diff_rep"))
    reps.crossJoin(broadcast(obs))
      .agg(first(col("n")).as("n"), first(col("n1")).as("n1"),
        first(col("diff_obs")).as("diff_obs"),
        lit(b.toLong).as("b"),
        count(col("diff_rep")).as("n_valid"),
        sum(when(abs(col("diff_rep")) >= abs(col("diff_obs")), 1L)
          .otherwise(0L)).as("n_ge"))
      .withColumn("p_value",
        round((lit(1.0) + col("n_ge").cast("double")) / (lit(b) + 1.0), 6))
  }

  /** Levene's test (mean-centered) for variance homogeneity across
    * groups — the "is the spread itself drifting" check behind every
    * equal-variance assumption (CUPED, pooled t, stratified
    * sampling): W = ((N−k)/(k−1)) · Σ n_j(z̄_j − z̄)² / Σ(z_ij − z̄_j)²
    * over the absolute mean-deviations z_ij = |x_ij − x̄_j|.
    *
    * Scale shape: two corpus passes — group means from exact
    * micro-unit sums, then per-group sums of 9-dp-quantized z and z²
    * (the within term folds algebraically: Σz² − n_j·z̄_j², no third
    * pass); the closing arithmetic rides the k-row group frame in a
    * fixed order. Returns 1 row: (n, k, w), rounded to 6. */
  def leveneMeanCentered(df: DataFrame, valueCol: String,
                         groupCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    import graft.util.Exact
    // spread: two quantized-decimal corpus passes (q209 3.2 -> 1.2)
    val rows = graft.Tables.spreadSmall(df)
      .filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("g"),
        round(col(valueCol).cast("double") * 1e6, 0)
          .cast(DecimalType(19, 0)).as("xq"))
    val means = rows.groupBy(col("g"))
      .agg(count(lit(1)).as("nj"),
        round(sum(col("xq")).cast("double") / 1e6 /
          count(lit(1)).cast("double"), 9).as("mj"))
    val z = col("xq").cast("double") / 1e6 - col("mj")
    // Pin the k-row per-group frame: it feeds the totals broadcast AND
    // the closing aggregation — unpinned, each consumer replayed the
    // second corpus pass (join + |z| sums), so "two passes" ran as
    // three. k rows — free to materialize.
    val grp = rows.join(broadcast(means), Seq("g"))
      .groupBy(col("g"), col("nj"))
      .agg(exactSum9(abs(z)).as("szj"), exactSum9(abs(z) * abs(z)).as("szzj"))
      .withColumn("zbarj",
        round(col("szj") / col("nj").cast("double"), 9))
      .pin
    val tot = grp.agg(sum(col("nj")).as("nn"), count(lit(1)).as("k"),
      exactSum9(col("szj")).as("sz"))
    grp.crossJoin(broadcast(tot))
      .withColumn("zbar", round(col("sz") / col("nn").cast("double"), 9))
      .agg(first(col("nn")).as("n"), first(col("k")).as("k"),
        exactSum9(col("nj").cast("double") *
          ((col("zbarj") - col("zbar")) * (col("zbarj") - col("zbar"))))
          .as("__between"),
        exactSum9(col("szzj") - col("nj").cast("double") *
          (col("zbarj") * col("zbarj"))).as("__within"),
        first((col("nn") - col("k")).cast("double")).as("__dfw"),
        first((col("k") - lit(1L)).cast("double")).as("__dfb"))
      .select(col("n"), col("k"),
        // degenerate inputs — one group (df_b = 0) or zero within-group
        // spread (every |deviation| identical; the 0/0 case) — yield
        // NULL, not a fabricated number or an ANSI divide error
        when(col("__dfb") > 0 && col("__within") =!= 0.0,
          round((col("__dfw") / col("__dfb")) *
            (col("__between") / col("__within")), 6)).as("w"))
  }

  /** Pearson chi-square test of independence between two categorical
    * columns, with Cramér's V effect size — the categorical sibling
    * of [[TargetEncode.mutualInfo]] (same contingency frame, the
    * classical significance statistic instead of the information one):
    *
    *   X² = Σ_ij (n_ij − e_ij)²/e_ij,  e_ij = r_i·c_j/N,
    *   V  = sqrt(X² / (N · min(r−1, c−1))).
    *
    * Scale shape: ONE map-side-combined aggregation folds the corpus
    * to the r×c contingency frame; marginals are two aggregations OF
    * THAT FRAME (broadcast back — never a second corpus pass); each
    * cell's X² term quantizes to 9 decimals and sums in exact
    * decimal, so the statistic is engine-portable. A 1×c or r×1 table
    * (min(r−1,c−1) = 0 — independence is vacuous) yields NULL V and
    * NULL X², not a divide error. Returns 1 row:
    * (n, r, c, dof, chi2, cramers_v), rounded to 6. */
  def chiSquareIndependence(df: DataFrame, aCol: String,
                            bCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).cast("string").as("__a"),
              col(bCol).cast("string").as("__b"))
      .groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("__nij"))
      // Pin the r×c contingency frame: four consumers (both marginal
      // broadcasts, the totals broadcast, and the closing aggregation)
      // would otherwise each replay the corpus fold. Bounded by
      // |cat_a|×|cat_b| — free to materialize.
      .pin
    val rowm = cells.groupBy(col("__a")).agg(sum(col("__nij")).as("__ri"))
    val colm = cells.groupBy(col("__b")).agg(sum(col("__nij")).as("__cj"))
    val tot = cells.agg(sum(col("__nij")).as("__n"),
      countDistinct(col("__a")).as("__r"),
      countDistinct(col("__b")).as("__c"))
    val e = col("__ri").cast("double") * col("__cj").cast("double") /
      col("__n").cast("double")
    val term = round((col("__nij").cast("double") - e) *
      (col("__nij").cast("double") - e) / e, 9)
    cells
      .join(broadcast(rowm), Seq("__a"))
      .join(broadcast(colm), Seq("__b"))
      .crossJoin(broadcast(tot))
      .agg(first(col("__n")).as("n"), first(col("__r")).as("r"),
        first(col("__c")).as("c"),
        first((col("__r") - 1) * (col("__c") - 1)).as("dof"),
        sum(term.cast(DecimalType(38, 9))).cast("double").as("__chi2"),
        first(least(col("__r") - 1, col("__c") - 1).cast("double"))
          .as("__mind"),
        first(col("__n").cast("double")).as("__nd"))
      .select(col("n"), col("r"), col("c"), col("dof"),
        when(col("__mind") > 0, round(col("__chi2"), 6)).as("chi2"),
        when(col("__mind") > 0,
          round(sqrt(col("__chi2") / (col("__nd") * col("__mind"))), 6))
          .as("cramers_v"))
  }

  /** One-way ANOVA F — does the group mean differ across k groups
    * beyond within-group noise? The parametric companion to
    * [[leveneMeanCentered]] (which checks the VARIANCES this test
    * assumes homogeneous):
    *
    *   F = [Σ n_j(m_j − m)²/(k−1)] / [Σ_j (Σx² − n_j·m_j²)/(N−k)].
    *
    * Scale shape: ONE corpus pass folds to per-group (n, Σx, Σx²) in
    * exact micro-unit decimals; the grand mean, both sums of squares
    * and the ratio ride the k-row group frame in a fixed 9-dp
    * quantized order. Degenerate inputs — one group, or zero
    * within-group spread — yield NULL F. Returns 1 row:
    * (n, k, ss_between, ss_within, f), rounded to 6. */
  def anovaOneWay(df: DataFrame, valueCol: String,
                  groupCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val rows = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("g"),
        round(col(valueCol).cast("double") * 1e6, 0)
          .cast(DecimalType(19, 0)).as("xq"))
    val grp = rows.groupBy(col("g"))
      .agg(count(lit(1)).as("nj"),
        sum(col("xq")).cast(DecimalType(38, 0)).as("sj"),
        sum(col("xq") * col("xq")).cast(DecimalType(38, 0)).as("sjj"))
      .withColumn("mj", round(col("sj").cast("double") / 1e6 /
        col("nj").cast("double"), 9))
    val tot = grp.agg(sum(col("nj")).as("nn"), count(lit(1)).as("k"),
      sum(col("sj")).cast(DecimalType(38, 0)).as("s"))
    grp.crossJoin(broadcast(tot))
      .withColumn("m", round(col("s").cast("double") / 1e6 /
        col("nn").cast("double"), 9))
      .agg(first(col("nn")).as("n"), first(col("k")).as("k"),
        exactSum9(col("nj").cast("double") *
          ((col("mj") - col("m")) * (col("mj") - col("m"))))
          .as("__ssb"),
        exactSum9(col("sjj").cast("double") / 1e12 -
          col("nj").cast("double") * (col("mj") * col("mj")))
          .as("__ssw"),
        first((col("nn") - col("k")).cast("double")).as("__dfw"),
        first((col("k") - lit(1L)).cast("double")).as("__dfb"))
      .select(col("n"), col("k"),
        round(col("__ssb"), 6).as("ss_between"),
        round(col("__ssw"), 6).as("ss_within"),
        when(col("__dfb") > 0 && col("__ssw") =!= 0.0,
          round((col("__ssb") / col("__dfb")) /
                (col("__ssw") / col("__dfw")), 6)).as("f"))
  }

  /** Welch's unequal-variance two-sample t — the default two-group
    * mean comparison when [[leveneMeanCentered]] says the spreads
    * differ (no pooled-variance assumption):
    *
    *   t  = (m₁ − m₂) / sqrt(s₁²/n₁ + s₂²/n₂),
    *   df = (s₁²/n₁ + s₂²/n₂)² /
    *        [(s₁²/n₁)²/(n₁−1) + (s₂²/n₂)²/(n₂−1)]   (Welch–Satterthwaite).
    *
    * Scale shape: ONE map-side-combined pass folds the corpus to two
    * rows of exact micro-unit moments (n, Σx, Σx²); means 9-dp
    * quantized, sample variances from the algebraic fold
    * (Σx² − n·m²)/(n−1), and the closing t/df arithmetic is a fixed
    * order of double ops on the 1-row frame. A group with n ≤ 1 or
    * zero combined variance yields NULL t/df. Returns 1 row:
    * (n1, n2, mean1, mean2, var1, var2, t, df_welch), rounded to 6. */
  def welchTTest(df: DataFrame, valueCol: String, group: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val rows = df.filter(col(valueCol).isNotNull)
      .select(when(group, 1L).otherwise(0L).as("g"),
        round(col(valueCol).cast("double") * 1e6, 0)
          .cast(DecimalType(19, 0)).as("xq"))
    val grp = rows.groupBy(col("g"))
      .agg(count(lit(1)).as("nj"),
        sum(col("xq")).cast(DecimalType(38, 0)).as("sj"),
        sum(col("xq") * col("xq")).cast(DecimalType(38, 0)).as("sjj"))
      .withColumn("mj", round(col("sj").cast("double") / 1e6 /
        col("nj").cast("double"), 9))
      .withColumn("vj", when(col("nj") > 1,
        round((col("sjj").cast("double") / 1e12 -
          col("nj").cast("double") * (col("mj") * col("mj"))) /
          (col("nj") - 1).cast("double"), 9)))
    val one = grp.filter(col("g") === 1L)
      .select(col("nj").as("n1"), col("mj").as("mean1"), col("vj").as("var1"))
    val zero = grp.filter(col("g") === 0L)
      .select(col("nj").as("n2"), col("mj").as("mean2"), col("vj").as("var2"))
    val se1 = col("var1") / col("n1").cast("double")
    val se2 = col("var2") / col("n2").cast("double")
    one.crossJoin(broadcast(zero))
      .select(col("n1"), col("n2"),
        round(col("mean1"), 6).as("mean1"),
        round(col("mean2"), 6).as("mean2"),
        round(col("var1"), 6).as("var1"),
        round(col("var2"), 6).as("var2"),
        when(se1 + se2 > 0.0,
          round((col("mean1") - col("mean2")) / sqrt(se1 + se2), 6)).as("t"),
        when(col("n1") > 1 && col("n2") > 1 && se1 + se2 > 0.0,
          round((se1 + se2) * (se1 + se2) /
            (se1 * se1 / (col("n1") - 1).cast("double") +
             se2 * se2 / (col("n2") - 1).cast("double")), 6))
          .as("df_welch"))
  }

}
