package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Exact.exactSum9
import graft.util.Pin._

/** Model-evaluation operators — the scoring layer a training pipeline
  * runs on holdout predictions. Both are formulated over DISTINCT
  * SCORE VALUES rather than rows, so the expensive ordered pass is
  * value-cardinality, not corpus-cardinality.
  */
object Eval {

  /** Exact ROC-AUC via the Mann-Whitney rank-sum identity, computed
    * from per-distinct-score (positive, negative) counts:
    *
    *   AUC = [Σ_s negBelow(s)·pos(s) + ½·Σ_s pos(s)·neg(s)] / (P·N)
    *
    * (each positive beats every negative with a strictly lower score;
    * ties count half — the standard tie-averaged AUC.) All terms are
    * exact integer sums — each factor is cast to DECIMAL *before* the
    * product so neither the per-row multiply nor the sum can wrap —
    * and doubles enter only in the final division.
    *
    * The ordered cumsum over distinct scores is the scale hazard
    * (real model scores are continuous ⇒ distinct ≈ rows); it runs
    * through [[OrderedStats.cumsumExclusive]] — coarse monotone score
    * buckets, per-bucket offsets via a tiny triangular join,
    * partitioned within-bucket windows — so the plan contains NO
    * single-partition window and parallelizes across the score space
    * while staying bit-equal to the global-window form.
    * Returns 1 row: (n_pos, n_neg, auc). */
  def auc(df: DataFrame, scoreCol: String, labelCol: Column): DataFrame = {
    val g = df
      .select(col(scoreCol).as("__s"),
              when(labelCol, 1L).otherwise(0L).as("__y"))
      .groupBy(col("__s"))
      .agg(sum(col("__y")).as("pos_s"),
           (count(lit(1)) - sum(col("__y"))).as("neg_s"))
    val withBelow = OrderedStats.cumsumExclusive(
      g, sortCol = "__s", tieCols = Nil,
      valueCol = "neg_s", outCol = "neg_below")
    withBelow.agg(
        sum(col("pos_s")).as("__p"),
        sum(col("neg_s")).as("__n"),
        sum(col("neg_below").cast("decimal(19,0)") *
            col("pos_s").cast("decimal(19,0)"))
          .cast("double").as("__ub"),
        sum(col("pos_s").cast("decimal(19,0)") *
            col("neg_s").cast("decimal(19,0)"))
          .cast("double").as("__ut"))
      .select(col("__p").cast("long").as("n_pos"),
              col("__n").cast("long").as("n_neg"),
              round((col("__ub") + lit(0.5) * col("__ut")) /
                    (col("__p").cast("double") * col("__n").cast("double")), 6)
                .as("auc"))
  }

  /** Precision/recall/F1 at a FIXED grid of thresholds — the
    * operating-point sweep a deployment reads to pick its cutoff.
    * Each row explodes to |thresholds| (a constant), counts
    * partial-aggregate map-side to one row per threshold, and the
    * rates are exact-count divisions. Degenerate edges stay NULL
    * (no predicted positives → precision NULL; no actual positives →
    * recall NULL), never 0-by-convention. */
  def prCurve(df: DataFrame, scoreCol: String, labelCol: Column,
              thresholds: Seq[Double]): DataFrame = {
    val x = col(scoreCol).cast("double")
    val exploded = df
      .select(x.as("__x"), when(labelCol, 1L).otherwise(0L).as("__y"),
              explode(array(thresholds.map(lit): _*)).as("threshold"))
    exploded.groupBy(col("threshold"))
      .agg(sum(when(col("__x") >= col("threshold"), col("__y"))
                 .otherwise(0L)).as("tp"),
           sum(when(col("__x") >= col("threshold"), lit(1L) - col("__y"))
                 .otherwise(0L)).as("fp"),
           sum(when(col("__x") < col("threshold"), col("__y"))
                 .otherwise(0L)).as("fn"))
      .select(col("threshold"), col("tp"), col("fp"), col("fn"),
        round(col("tp").cast("double") /
              when(col("tp") + col("fp") > 0,
                   (col("tp") + col("fp")).cast("double")), 6).as("precision"),
        round(col("tp").cast("double") /
              when(col("tp") + col("fn") > 0,
                   (col("tp") + col("fn")).cast("double")), 6).as("recall"),
        round(lit(2.0) * col("tp").cast("double") /
              when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
                   (lit(2L) * col("tp") + col("fp") + col("fn"))
                     .cast("double")), 6).as("f1"))
  }

  /** Per-group classification-rate audit at one threshold — the
    * fairness/bias layer an ML-governance pipeline gates on: each
    * group's base rate, selection rate, TPR and FPR, side by side so
    * gaps (demographic parity, equalized odds) read off directly.
    * Degenerate denominators (a group with no positives) yield NULL.
    * One map-side-combined aggregation to #groups rows. */
  def groupRates(df: DataFrame, groupCol: String, scoreCol: String,
                 labelCol: Column, threshold: Double): DataFrame = {
    val x = col(scoreCol).cast("double")
    val y = when(labelCol, 1L).otherwise(0L)
    val pred = when(x >= threshold, 1L).otherwise(0L)
    df.select(col(groupCol).as("grp"), x.as("__x"), y.as("__y"),
              pred.as("__p"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
           sum(col("__y")).as("n_pos"),
           sum(col("__p")).as("n_selected"),
           sum(col("__y") * col("__p")).as("tp"),
           sum((lit(1L) - col("__y")) * col("__p")).as("fp"))
      .select(col("grp"), col("n"),
        round(col("n_pos").cast("double") / col("n").cast("double"), 6)
          .as("base_rate"),
        round(col("n_selected").cast("double") / col("n").cast("double"), 6)
          .as("selection_rate"),
        round(col("tp").cast("double") /
              when(col("n_pos") > 0, col("n_pos").cast("double")), 6)
          .as("tpr"),
        round(col("fp").cast("double") /
              when(col("n") - col("n_pos") > 0,
                   (col("n") - col("n_pos")).cast("double")), 6).as("fpr"))
  }

  /** Reliability diagram: equal-width score bins over [lo, hi) (the
    * q107 bucket contract, sentinels −1/nBins for out-of-domain), per
    * bin the count, exact mean score, and empirical positive rate —
    * what calibration plots and expected-calibration-error integrate.
    * One map-side-combined aggregation to ≤ nBins+2 rows. */
  def calibration(df: DataFrame, scoreCol: String, labelCol: Column,
                  lo: Double, hi: Double, nBins: Int): DataFrame = {
    val x = col(scoreCol).cast("double")
    val width = (hi - lo) / nBins
    val bucket = when(x < lo, lit(-1))
      .when(x > hi, lit(nBins))
      .otherwise(least(floor((x - lo) / width).cast("int"), lit(nBins - 1)))
    df.filter(x.isNotNull)
      .select(bucket.as("bin"), x.as("__x"),
              when(labelCol, 1L).otherwise(0L).as("__y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
           round(sum(col("__x").cast("decimal(30,6)")).cast("double") /
                 count(lit(1)).cast("double"), 4).as("mean_score"),
           sum(col("__y")).as("n_pos"),
           round(sum(col("__y")).cast("double") /
                 count(lit(1)).cast("double"), 6).as("pos_rate"))
  }

  /** Isotonic (PAV) calibration over the [[calibration]] bins: the
    * least-squares MONOTONE fit of the per-bin positive rate, via the
    * closed form iso_i = max_{j≤i} min_{k≥i} mean(y over bins j..k)
    * (weighted by bin counts) — equivalent to pool-adjacent-violators
    * and what sklearn's IsotonicRegression produces at the bin level.
    * Calibrated probabilities must not DECREASE with score; raw bin
    * rates wiggle, the isotonic fit pools the violations.
    *
    * Scale shape: the bins frame is nBins-bounded, so the closed form
    * runs as two aggregations over ≤ nBins³ tiny-frame join rows —
    * window-free, no driver loop, and trivially replayable in SQL.
    * Interval means derive from exclusive prefix sums built by a
    * triangular join; each mean is one exact-integer division, so the
    * max/min lattice is engine-portable. Out-of-domain sentinel bins
    * (−1, nBins) are excluded from the fit (they are not ordered
    * score regions). Returns (bin, n, pos_rate, iso_rate). */
  def isotonicCalibration(df: DataFrame, scoreCol: String, labelCol: Column,
                          lo: Double, hi: Double, nBins: Int): DataFrame = {
    val bins = calibration(df, scoreCol, labelCol, lo, hi, nBins)
      .filter(col("bin") >= 0 && col("bin") < nBins)
      .select(col("bin"), col("n"), col("n_pos"), col("pos_rate"))
    // exclusive prefix sums via triangular join on the bounded frame
    val pre = bins.select(col("bin").as("__b2"), col("n").as("__n2"),
                          col("n_pos").as("__p2"))
    val prefix = bins.join(broadcast(pre), col("__b2") < col("bin"), "left")
      .groupBy(col("bin"))
      .agg(coalesce(sum(col("__n2")), lit(0L)).as("pn"),
           coalesce(sum(col("__p2")), lit(0L)).as("pp"))
    val cum = bins.join(prefix, "bin")
      .select(col("bin"), col("n"), col("n_pos"), col("pos_rate"),
              (col("pn") + col("n")).as("cn"),      // inclusive prefix
              (col("pp") + col("n_pos")).as("cp"))
    // interval mean(j..k) = (cp_k − cp_j + p_j) / (cn_k − cn_j + n_j)
    val jS = cum.select(col("bin").as("j"), col("cn").as("cnj"),
                        col("cp").as("cpj"), col("n").as("nj"),
                        col("n_pos").as("pj"))
    val kS = cum.select(col("bin").as("k"), col("cn").as("cnk"),
                        col("cp").as("cpk"))
    val means = jS.join(broadcast(kS), col("j") <= col("k"))
      .select(col("j"), col("k"),
              ((col("cpk") - col("cpj") + col("pj")).cast("double") /
               (col("cnk") - col("cnj") + col("nj")).cast("double"))
                .as("m"))
    val iso = means
      .join(broadcast(bins.select(col("bin").as("i"))),
            col("j") <= col("i") && col("k") >= col("i"))
      .groupBy(col("i"), col("j")).agg(min(col("m")).as("__mn"))
      .groupBy(col("i")).agg(max(col("__mn")).as("__iso"))
    bins.join(iso, col("bin") === col("i"))
      .select(col("bin"), col("n"), col("pos_rate"),
              round(col("__iso"), 6).as("iso_rate"))
  }

  /** Ranking-quality metrics for a retrieval run — MRR, precision@k
    * and binary-gain nDCG@k per query, given the retrieved lists and
    * the ground-truth relevant set: the eval layer of the engine's
    * own ANN/BM25 retrieval stack (q30/q32/q146). IDCG uses the ideal
    * prefix min(R, k), so a query with fewer relevant docs than k is
    * not penalized for physics. Queries with NO relevant docs keep
    * NULL mrr/ndcg (undefined, not 0-by-convention — the prCurve
    * contract).
    *
    * Scale shape: one hash join of retrieved×relevant on (query, doc)
    * + two query-keyed aggregations; the ideal-DCG side explodes
    * min(R,k) ≤ k positions per query. DCG terms 1/log2(rank+1)
    * quantize to 9 decimals and sum in decimal, so per-query scores
    * are engine-portable (ln-based log2 on both sides). */
  def rankingMetrics(retrieved: DataFrame, qCol: String, dCol: String,
                     rankCol: String, relevant: DataFrame, rqCol: String,
                     rdCol: String, k: Int): DataFrame = {
    val dcgTerm = (r: Column) =>
      round(lit(1.0) / (log(r.cast("double") + 1.0) / log(lit(2.0))), 9)
    val rel = relevant.select(col(rqCol).as("qid"), col(rdCol).as("__rd"))
    val nRel = rel.groupBy(col("qid")).agg(count(lit(1)).as("n_rel"))
    // @k means @k: truncate the retrieved lists to rank <= k HERE, so
    // a caller passing deeper lists than k still gets true
    // precision@k / nDCG@k / MRR@k instead of metrics quietly
    // computed over the whole list (all metrics are cutoff-scoped,
    // MRR included — a first hit below rank k scores 0, i.e. NULL
    // mrr with n_hits 0, the standard MRR@k convention).
    val hits = retrieved
      .select(col(qCol).as("qid"), col(dCol).as("__rd"),
              col(rankCol).as("__rank"))
      .filter(col("__rank") <= k)
      .join(rel, Seq("qid", "__rd"))
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_hits"),
           min(col("__rank")).as("__minr"),
           sum(dcgTerm(col("__rank")).cast("decimal(19,9)"))
             .cast("double").as("__dcg"))
    val idcg = nRel
      .select(col("qid"),
              explode(sequence(lit(1), least(col("n_rel"), lit(k))))
                .as("__i"))
      .groupBy(col("qid"))
      .agg(sum(dcgTerm(col("__i")).cast("decimal(19,9)"))
             .cast("double").as("__idcg"))
    nRel
      .join(hits, Seq("qid"), "left")
      .join(idcg, Seq("qid"), "left")
      .select(col("qid"), col("n_rel"),
              coalesce(col("n_hits"), lit(0L)).as("n_hits"),
              round(lit(1.0) / col("__minr").cast("double"), 6).as("mrr"),
              round(coalesce(col("n_hits"), lit(0L)).cast("double") / k, 6)
                .as(s"precision_at_$k"),
              round(coalesce(col("__dcg"), lit(0.0)) / col("__idcg"), 6)
                .as(s"ndcg_at_$k"))
  }

  /** Cohen's kappa between two binary raters — the label-quality
    * check an annotation pipeline gates on before labels become
    * training data: observed agreement corrected for the agreement
    * two independent raters with these marginals would hit by chance,
    *
    *   κ = (p_o − p_e) / (1 − p_e),  p_e = p_a1·p_b1 + p_a0·p_b0.
    *
    * One map-side-combined aggregation folds the whole table to the
    * 2×2 confusion counts; every rate is a fixed-order division of
    * exact integers. Perfectly-correlated marginals (p_e = 1) yield
    * NULL, not a fabricated 0. Returns 1 row. */
  def cohenKappa(df: DataFrame, raterA: Column, raterB: Column): DataFrame = {
    val a = when(raterA, 1L).otherwise(0L)
    val b = when(raterB, 1L).otherwise(0L)
    df.select(a.as("__a"), b.as("__b"))
      .agg(count(lit(1)).as("n"),
           sum(col("__a") * col("__b")).as("n11"),
           sum(col("__a") * (lit(1L) - col("__b"))).as("n10"),
           sum((lit(1L) - col("__a")) * col("__b")).as("n01"),
           sum((lit(1L) - col("__a")) * (lit(1L) - col("__b"))).as("n00"))
      .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
              round((col("n11") + col("n00")).cast("double") /
                    col("n").cast("double"), 6).as("po"),
              round(((col("n11") + col("n10")).cast("double") *
                     (col("n11") + col("n01")).cast("double") +
                     (col("n01") + col("n00")).cast("double") *
                     (col("n10") + col("n00")).cast("double")) /
                    (col("n").cast("double") * col("n").cast("double")), 6)
                .as("pe"))
      .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
              col("po"), col("pe"),
              round((col("po") - col("pe")) /
                    when(col("pe") < 1.0, lit(1.0) - col("pe")), 6).as("kappa"))
  }

  /** Murphy decomposition of the Brier score — the proper-scoring-rule
    * readout that splits a probability forecaster's squared error into
    * its three stories over K probability bins:
    *
    *   BS = REL − RES + UNC (exactly, when bin means are used):
    *   REL = Σ n_k(p̄_k − ȳ_k)²/N   (calibration error — lower better),
    *   RES = Σ n_k(ȳ_k − ȳ)²/N     (discrimination — higher better),
    *   UNC = ȳ(1 − ȳ)              (irreducible base-rate variance).
    *
    * The reported `brier` is the EXACT per-row mean square (not the
    * binned reconstruction), so `brier − (rel − res + unc)` is the
    * within-bin variance the binning absorbs.
    *
    * Scale shape: ONE corpus pass folds to the K-row bin frame
    * (per-row terms 9-dp-quantized into decimal sums); the
    * decomposition rides the bin frame against a broadcast 1-row
    * global. Returns 1 row:
    * (n, brier, reliability, resolution, uncertainty), rounded 6. */
  def brierDecomposition(df: DataFrame, probCol: Column, labelCol: Column,
                         nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && nBins <= 1000,
      s"Eval.brierDecomposition: nBins in [2, 1000], got $nBins")
    val p = round(probCol.cast("double"), 9)
    val y = when(labelCol, 1L).otherwise(0L)
    val rows = df.filter(probCol.isNotNull)
      .select(p.as("__p"), y.as("__y"),
        least(floor(p * nBins).cast("int"), lit(nBins - 1)).as("__b"))
    val bins = rows.groupBy(col("__b"))
      .agg(count(lit(1)).as("__nk"), sum(col("__y")).as("__syk"),
        exactSum9(col("__p")).as("__spk"),
        exactSum9((col("__p") - col("__y").cast("double")) *
             (col("__p") - col("__y").cast("double"))).as("__sbk"))
    val glob = bins.agg(sum(col("__nk")).as("__n"),
      sum(col("__syk")).as("__sy"), exactSum9(col("__sbk")).as("__bs"))
    bins.crossJoin(broadcast(glob))
      .withColumn("__pbar", round(col("__spk") /
        col("__nk").cast("double"), 9))
      .withColumn("__ybark", round(col("__syk").cast("double") /
        col("__nk").cast("double"), 9))
      .withColumn("__ybar", round(col("__sy").cast("double") /
        col("__n").cast("double"), 9))
      .agg(first(col("__n")).as("n"),
        first(round(col("__bs") / col("__n").cast("double"), 6)).as("brier"),
        round(exactSum9(col("__nk").cast("double") *
          ((col("__pbar") - col("__ybark")) *
           (col("__pbar") - col("__ybark")))) /
          first(col("__n")).cast("double"), 6).as("reliability"),
        round(exactSum9(col("__nk").cast("double") *
          ((col("__ybark") - col("__ybar")) *
           (col("__ybark") - col("__ybar")))) /
          first(col("__n")).cast("double"), 6).as("resolution"),
        first(round(col("__ybar") * (lit(1.0) - col("__ybar")), 6))
          .as("uncertainty"))
  }

  /** DeLong variance and 95% CI for the exact [[auc]] — the error bar
    * that turns a point AUC into a defensible model comparison. The
    * structural components are per-row placement values; on the
    * distinct-score frame they collapse to per-score constants:
    *
    *   V10(s) = (negBelow(s) + ½·neg(s)) / N   (each positive at s),
    *   V01(s) = (posAbove(s) + ½·pos(s)) / P   (each negative at s),
    *   Var(AUC) = S10/P + S01/N,  S·· the sample variances of V over
    *   the positives / negatives (AUC is the mean of each V family).
    *
    * Scale shape: identical to [[auc]] — the corpus folds once to the
    * distinct-score frame, BOTH exclusive cumsums (negatives below,
    * positives below) ride [[OrderedStats.cumsumExclusive]] (no
    * single-partition window), and the variance terms are
    * 9-dp-quantized per-score products summed in exact decimal, so
    * every number is engine-portable. Degenerate inputs (P ≤ 1 or
    * N ≤ 1 — a variance over one placement value) yield NULL
    * se/ci, not a divide error. Returns 1 row:
    * (n_pos, n_neg, auc, se, ci_lo, ci_hi), rounded to 6. */
  def aucDeLong(df: DataFrame, scoreCol: String, labelCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val g = df
      .select(col(scoreCol).as("__s"),
              when(labelCol, 1L).otherwise(0L).as("__y"))
      .groupBy(col("__s"))
      .agg(sum(col("__y")).as("pos_s"),
           (count(lit(1)) - sum(col("__y"))).as("neg_s"))
    // Checkpoint the ranked frame: it feeds BOTH the AUC total and the
    // variance fold, and the cumsum pipeline references the score
    // frame several times internally — unstaged, the final plan
    // re-evaluates the whole cumsum tree per consumer (measured r14:
    // 112 Exchanges / 31 BNLJs at sf0.001; 3 / 1 staged). The frame
    // is distinct-score-bounded, so the checkpoint is small. Both
    // exclusive cumsums ride ONE bucketed-prefix pipeline
    // (cumsumExclusiveAll — the r15 chained form nested it twice).
    val c2 = OrderedStats.cumsumExclusiveAll(g, sortCol = "__s",
        tieCols = Nil,
        valueCols = Seq("neg_s" -> "neg_below", "pos_s" -> "pos_below"))
      .pin
    val tot = c2.agg(
        sum(col("pos_s")).as("__p"), sum(col("neg_s")).as("__n"),
        sum(col("neg_below").cast(DecimalType(19, 0)) *
            col("pos_s").cast(DecimalType(19, 0)))
          .cast("double").as("__ub"),
        sum(col("pos_s").cast(DecimalType(19, 0)) *
            col("neg_s").cast(DecimalType(19, 0)))
          .cast("double").as("__ut"))
      .select(col("__p"), col("__n"),
        round((col("__ub") + lit(0.5) * col("__ut")) /
              (col("__p").cast("double") * col("__n").cast("double")), 9)
          .as("__auc"))
    val v10 = round((col("neg_below").cast("double") +
      lit(0.5) * col("neg_s").cast("double")) /
      col("__n").cast("double"), 9)
    val v01 = round((col("__p").cast("double") -
      col("pos_below").cast("double") - col("pos_s").cast("double") +
      lit(0.5) * col("pos_s").cast("double")) /
      col("__p").cast("double"), 9)
    val z975 = lit(1.959963985)
    c2.crossJoin(broadcast(tot))
      .agg(first(col("__p")).as("n_pos"), first(col("__n")).as("n_neg"),
        first(col("__auc")).as("__auc"),
        exactSum9(col("pos_s").cast("double") *
          ((v10 - col("__auc")) * (v10 - col("__auc")))).as("__s10n"),
        exactSum9(col("neg_s").cast("double") *
          ((v01 - col("__auc")) * (v01 - col("__auc")))).as("__s01n"))
      .select(col("n_pos"), col("n_neg"), col("__auc"),
        when(col("n_pos") > 1 && col("n_neg") > 1,
          round(sqrt(
            round(col("__s10n") / (col("n_pos") - 1).cast("double"), 9) /
              col("n_pos").cast("double") +
            round(col("__s01n") / (col("n_neg") - 1).cast("double"), 9) /
              col("n_neg").cast("double")), 9)).as("__se"))
      .select(col("n_pos"), col("n_neg"),
        round(col("__auc"), 6).as("auc"),
        round(col("__se"), 6).as("se"),
        round(col("__auc") - z975 * col("__se"), 6).as("ci_lo"),
        round(col("__auc") + z975 * col("__se"), 6).as("ci_hi"))
  }
}
