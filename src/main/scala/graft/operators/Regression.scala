package graft.operators

import java.math.{BigDecimal => JBigDecimal}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType,
  StructField, StructType}

import graft.util.Exact.{round6, round9}
import graft.util.Pin._

/** Regression fits as AGGREGATION, not iteration over rows: the model
  * the feature-engineering layer (q50/q124/q161) feeds exists to be
  * fit — these operators close the loop without ever moving the
  * corpus.
  *
  * [[olsTwoFeature]] is the canonical sufficient-statistic fit: the
  * 9 moments of (y, x1, x2) fold in ONE map-side-combined pass
  * (6-dp-quantized inputs, exact decimal sums — order-independent and
  * engine-portable), and the 3×3 normal equations solve in closed
  * form (Cramer) INSIDE the plan on the 1-row moment frame. No
  * driver round-trip, no second corpus pass, nothing grows with rows.
  *
  * [[logitBinned]] is the iterative sibling done the histogram way
  * (the [[Gmm]] precedent): logistic loss has no closed form, so the
  * corpus folds ONCE into an nBins-bin histogram of
  * (n, n_pos) — gradient-descent rounds then iterate on the bounded
  * bin frame on the driver ([[graft.util.Bounded]]-collected), each
  * step quantized to 9 decimals so a SQL recursive replay lands on
  * identical weights. Bin midpoints are normalized to (b+0.5)/nBins
  * (exact in binary for power-of-two nBins), which also keeps the
  * sigmoid well-conditioned for any input range.
  */
object Regression {

  /** OLS of y on (1, x1, x2). Returns 1 row:
    * (n, b0, b1, b2, r2) — coefficients and R², rounded to 6.
    * Composition of [[olsStats]] (mergeable exact-decimal moments)
    * and [[olsFromStats]] (closed form) — the split that lets
    * [[graft.streaming.StreamingStats.olsMaintain]] keep the same
    * fit incrementally, bit-identical to this monolithic one. */
  def olsTwoFeature(df: DataFrame, yCol: String, x1Col: String,
                    x2Col: String): DataFrame =
    olsFromStats(olsStats(df, yCol, x1Col, x2Col))

  /** The MERGEABLE sufficient-statistic state behind
    * [[olsTwoFeature]]: one row of exact DECIMAL(38,0) micro-unit
    * moment sums (n and the Σ of round(x·10⁶) integers and their
    * pairwise products — the q176 bootstrap pattern, kept as decimal
    * so every moment is an EXACT integer sum on both engines; a
    * DECIMAL(18,6)×DECIMAL(18,6) product overflows DuckDB's physical
    * int64 lanes). Sums stay decimal — never double — so states from
    * disjoint batches merge EXACTLY by addition ([[olsMergeStats]]):
    * the [[graft.operators.Profiler.corrStats]] contract for the
    * regression family. */
  def olsStats(df: DataFrame, yCol: String, x1Col: String,
               x2Col: String): DataFrame = {
    def q(c: String) = round(col(c).cast("double") * 1000000.0, 0)
      .cast(DecimalType(19, 0))
    // spread: the 9 decimal moment products are the hot loop
    // (Tables.spreadSmall, self-disabling at scale; q191 1.5 -> 0.9)
    val d = graft.Tables.spreadSmall(df)
      .filter(col(yCol).isNotNull && col(x1Col).isNotNull &&
        col(x2Col).isNotNull)
      .select(q(yCol).as("y"), q(x1Col).as("x1"), q(x2Col).as("x2"))
    d.agg(
      count(lit(1)).as("__n"),
      sum(col("x1")).cast(DecimalType(38, 0)).as("__s1"),
      sum(col("x2")).cast(DecimalType(38, 0)).as("__s2"),
      sum(col("y")).cast(DecimalType(38, 0)).as("__sy"),
      sum(col("x1") * col("x1")).cast(DecimalType(38, 0)).as("__s11"),
      sum(col("x1") * col("x2")).cast(DecimalType(38, 0)).as("__s12"),
      sum(col("x2") * col("x2")).cast(DecimalType(38, 0)).as("__s22"),
      sum(col("x1") * col("y")).cast(DecimalType(38, 0)).as("__s1y"),
      sum(col("x2") * col("y")).cast(DecimalType(38, 0)).as("__s2y"),
      sum(col("y") * col("y")).cast(DecimalType(38, 0)).as("__syy"))
  }

  /** Exact merge of two disjoint batches' [[olsStats]] rows: every
    * statistic is a plain decimal sum, so union + re-sum IS the
    * state of the concatenated data — no rescan of history. */
  def olsMergeStats(a: DataFrame, b: DataFrame): DataFrame = {
    val sums = a.columns.filterNot(_ == "__n")
      .map(c => sum(col(c)).cast(DecimalType(38, 0)).as(c))
    val allAggs = sum(col("__n")).cast("long").as("__n") +: sums.toSeq
    a.unionByName(b).agg(allAggs.head, allAggs.tail: _*)
  }

  /** Closed-form fit from an [[olsStats]] row. Doubles enter only
    * here: the /10⁶ and /10¹² rescales are double divisions of exact
    * integers — identical bits on both engines and however the state
    * was accumulated (one pass or [[olsMergeStats]] folds). */
  def olsFromStats(stats: DataFrame): DataFrame = {
    val m = stats.select(
      col("__n").cast("double").as("n"),
      (col("__s1").cast("double") / 1.0e6).as("s1"),
      (col("__s2").cast("double") / 1.0e6).as("s2"),
      (col("__sy").cast("double") / 1.0e6).as("sy"),
      (col("__s11").cast("double") / 1.0e12).as("s11"),
      (col("__s12").cast("double") / 1.0e12).as("s12"),
      (col("__s22").cast("double") / 1.0e12).as("s22"),
      (col("__s1y").cast("double") / 1.0e12).as("s1y"),
      (col("__s2y").cast("double") / 1.0e12).as("s2y"),
      (col("__syy").cast("double") / 1.0e12).as("syy"))
    // Cramer on [[n s1 s2][s1 s11 s12][s2 s12 s22]] b = [sy s1y s2y].
    // Every determinant is written ONCE here and mirrored verbatim in
    // the oracle SQL: double +,-,*,/ are IEEE-deterministic, so
    // identical expression trees give identical bits on both engines.
    val det = expr(
      "n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2)")
    val det0 = expr(
      "sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y)")
    val det1 = expr(
      "n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2)")
    val det2 = expr(
      "n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2)")
    m.select(col("n").cast("long").as("n"),
        (det0 / det).as("b0"), (det1 / det).as("b1"), (det2 / det).as("b2"),
        col("sy"), col("s1y"), col("s2y"), col("syy"), col("n").as("nd"))
      .select(col("n"),
        round(col("b0"), 6).as("b0"), round(col("b1"), 6).as("b1"),
        round(col("b2"), 6).as("b2"),
        // SSE = Σy² − b·X'y (residual orthogonality); SST = Σy² − (Σy)²/n
        round(lit(1.0) -
          (col("syy") - col("b0") * col("sy") - col("b1") * col("s1y") -
            col("b2") * col("s2y")) /
          (col("syy") - col("sy") * col("sy") / col("nd")), 6).as("r2"))
  }

  /** Ridge regression of y on (1, x1, x2) with penalty λ on the two
    * slope coefficients (the intercept is unpenalized — standard).
    * Same one-pass micro-unit moments as [[olsTwoFeature]]; the
    * normal equations gain λ on the s11/s22 diagonal. Because ridge
    * residuals are NOT orthogonal to the design, R² uses the full
    * quadratic form SSE = Σy² − 2·b'X'y + b'X'Xb over the
    * UNPENALIZED moments. Returns 1 row: (n, b0, b1, b2, r2). */
  def ridgeTwoFeature(df: DataFrame, yCol: String, x1Col: String,
                      x2Col: String, lambda: Double): DataFrame = {
    def q(c: String) = round(col(c).cast("double") * 1000000.0, 0)
      .cast(DecimalType(19, 0))
    // spread: same moment-product shape as olsStats (q201 1.5 -> 0.8)
    val d = graft.Tables.spreadSmall(df)
      .filter(col(yCol).isNotNull && col(x1Col).isNotNull &&
        col(x2Col).isNotNull)
      .select(q(yCol).as("y"), q(x1Col).as("x1"), q(x2Col).as("x2"))
    val m = d.agg(
      count(lit(1)).cast("double").as("n"),
      (sum(col("x1")).cast("double") / 1.0e6).as("s1"),
      (sum(col("x2")).cast("double") / 1.0e6).as("s2"),
      (sum(col("y")).cast("double") / 1.0e6).as("sy"),
      (sum(col("x1") * col("x1")).cast("double") / 1.0e12).as("s11"),
      (sum(col("x1") * col("x2")).cast("double") / 1.0e12).as("s12"),
      (sum(col("x2") * col("x2")).cast("double") / 1.0e12).as("s22"),
      (sum(col("x1") * col("y")).cast("double") / 1.0e12).as("s1y"),
      (sum(col("x2") * col("y")).cast("double") / 1.0e12).as("s2y"),
      (sum(col("y") * col("y")).cast("double") / 1.0e12).as("syy"))
      .withColumn("s11p", col("s11") + lit(lambda))
      .withColumn("s22p", col("s22") + lit(lambda))
    val det = expr(
      "n*(s11p*s22p - s12*s12) - s1*(s1*s22p - s12*s2) + s2*(s1*s12 - s11p*s2)")
    val det0 = expr(
      "sy*(s11p*s22p - s12*s12) - s1*(s1y*s22p - s12*s2y) + s2*(s1y*s12 - s11p*s2y)")
    val det1 = expr(
      "n*(s1y*s22p - s12*s2y) - sy*(s1*s22p - s12*s2) + s2*(s1*s2y - s1y*s2)")
    val det2 = expr(
      "n*(s11p*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11p*s2)")
    m.select(col("n").cast("long").as("n"),
        (det0 / det).as("b0"), (det1 / det).as("b1"), (det2 / det).as("b2"),
        col("n").as("nd"), col("s1"), col("s2"), col("sy"), col("s11"),
        col("s12"), col("s22"), col("s1y"), col("s2y"), col("syy"))
      .withColumn("sse",
        expr("syy - 2*(b0*sy + b1*s1y + b2*s2y)" +
          " + (b0*b0*nd + b1*b1*s11 + b2*b2*s22" +
          " + 2*b0*b1*s1 + 2*b0*b2*s2 + 2*b1*b2*s12)"))
      .select(col("n"),
        round(col("b0"), 6).as("b0"), round(col("b1"), 6).as("b1"),
        round(col("b2"), 6).as("b2"),
        round(lit(1.0) - col("sse") /
          (col("syy") - col("sy") * col("sy") / col("nd")), 6).as("r2"))
  }

  /** k-fold cross-validated OLS — the leakage-honest generalization
    * readout, distributed the sufficient-statistic way: ONE pass
    * folds the corpus into per-fold micro-unit moments; each fold's
    * TRAIN moments are global − fold (pure decimal subtraction — no
    * second pass, no k re-scans); the k Cramer solves ride the k-row
    * frame; a second pass scores each row against ITS OWN fold's
    * held-out betas (broadcast k rows) with 9-dp-quantized squared
    * residuals. Total cost: two corpus passes for any k. Returns one
    * row per fold: (fold, n_train, n_test, b0, b1, b2, rmse). */
  def cvOls(df: DataFrame, idCol: String, yCol: String, x1Col: String,
            x2Col: String, k: Int): DataFrame = {
    require(k >= 2 && k <= 1000, s"Regression.cvOls: k in [2, 1000], got $k")
    def q(c: String) = round(col(c).cast("double") * 1000000.0, 0)
      .cast(DecimalType(19, 0))
    // spread: per-fold moments + residual pass are both CPU-bound
    // decimal work (Tables.spreadSmall; q202 3.8 -> 2.9)
    val d = graft.Tables.spreadSmall(df)
      .filter(col(yCol).isNotNull && col(x1Col).isNotNull &&
        col(x2Col).isNotNull)
      .select(pmod(col(idCol).cast("long"), lit(k.toLong)).as("fold"),
              q(yCol).as("y"), q(x1Col).as("x1"), q(x2Col).as("x2"))
      // (no checkpoint: the projected scan is cheaper to re-evaluate)
    def d38(c: Column) = c.cast(DecimalType(38, 0))
    // Pin the k-row fold-moment frame: it feeds THREE subtrees (the
    // global-sum broadcast, the train/betas derivation, and — through
    // betas' broadcast build — the final residual join). Unpinned,
    // each consumer replayed the full corpus moments pass, so "two
    // passes" executed as four. k rows — free to materialize.
    val perFold = d.groupBy(col("fold")).agg(
      count(lit(1)).as("cn"),
      sum(d38(col("x1"))).as("c1"), sum(d38(col("x2"))).as("c2"),
      sum(d38(col("y"))).as("cy"),
      sum(col("x1") * col("x1")).as("c11"),
      sum(col("x1") * col("x2")).as("c12"),
      sum(col("x2") * col("x2")).as("c22"),
      sum(col("x1") * col("y")).as("c1y"),
      sum(col("x2") * col("y")).as("c2y"),
      sum(col("y") * col("y")).as("cyy"))
      .pin
    val g = perFold.agg(
      sum(col("cn")).as("gn"), sum(col("c1")).as("g1"),
      sum(col("c2")).as("g2"), sum(col("cy")).as("gy"),
      sum(col("c11")).as("g11"), sum(col("c12")).as("g12"),
      sum(col("c22")).as("g22"), sum(col("c1y")).as("g1y"),
      sum(col("c2y")).as("g2y"), sum(col("cyy")).as("gyy"))
    // train moments = global − fold, rescaled to natural units
    val train = perFold.crossJoin(broadcast(g)).select(
      col("fold"), col("cn").as("n_test"),
      (col("gn") - col("cn")).cast("double").as("n"),
      ((col("g1") - col("c1")).cast("double") / 1.0e6).as("s1"),
      ((col("g2") - col("c2")).cast("double") / 1.0e6).as("s2"),
      ((col("gy") - col("cy")).cast("double") / 1.0e6).as("sy"),
      ((col("g11") - col("c11")).cast("double") / 1.0e12).as("s11"),
      ((col("g12") - col("c12")).cast("double") / 1.0e12).as("s12"),
      ((col("g22") - col("c22")).cast("double") / 1.0e12).as("s22"),
      ((col("g1y") - col("c1y")).cast("double") / 1.0e12).as("s1y"),
      ((col("g2y") - col("c2y")).cast("double") / 1.0e12).as("s2y"))
    val det = expr(
      "n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2)")
    val det0 = expr(
      "sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y)")
    val det1 = expr(
      "n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2)")
    val det2 = expr(
      "n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2)")
    val betas = train.select(col("fold"), col("n").cast("long").as("n_train"),
      col("n_test"), (det0 / det).as("b0"), (det1 / det).as("b1"),
      (det2 / det).as("b2"))
    d.join(broadcast(betas), Seq("fold"))
      .select(col("fold"), col("n_train"), col("n_test"),
        col("b0"), col("b1"), col("b2"),
        round((col("y").cast("double") / 1.0e6 -
            (col("b0") + col("b1") * (col("x1").cast("double") / 1.0e6) +
             col("b2") * (col("x2").cast("double") / 1.0e6))) *
          (col("y").cast("double") / 1.0e6 -
            (col("b0") + col("b1") * (col("x1").cast("double") / 1.0e6) +
             col("b2") * (col("x2").cast("double") / 1.0e6))), 9).as("r2q"))
      .groupBy(col("fold"), col("n_train"), col("n_test"),
        col("b0"), col("b1"), col("b2"))
      .agg(sum(col("r2q").cast(DecimalType(38, 9))).cast("double")
        .as("__sse"))
      .select(col("fold"), col("n_train"), col("n_test"),
        round(col("b0"), 6).as("b0"), round(col("b1"), 6).as("b1"),
        round(col("b2"), 6).as("b2"),
        round(sqrt(col("__sse") / col("n_test").cast("double")), 6)
          .as("rmse"))
  }

  /** Per-row OLS influence diagnostics — leverage and Cook's distance
    * — the "which rows move the fit" audit a data-curation pass runs
    * before trusting a regression (a handful of corrupt rows can own
    * the coefficients). Everything derives from the SAME one-pass
    * micro-unit moments as [[olsTwoFeature]]: the 3×3 inverse of X'X
    * is six adjugate ratios computed ONCE (broadcast, 1 row), so each
    * row's leverage is the closed quadratic form
    * h = A₀₀ + 2A₀₁x₁ + 2A₀₂x₂ + A₁₁x₁² + 2A₁₂x₁x₂ + A₂₂x₂², and
    * Cook's D = e²h / (p·MSE·(1−h)²) with p = 3. The ONLY ordered
    * work is TakeOrdered(topK) on (D desc, id asc) — never a global
    * sort. Returns topK rows: (rid, residual, leverage, cooks_d),
    * rounded to 6. */
  def olsInfluence(df: DataFrame, idCol: String, yCol: String,
                   x1Col: String, x2Col: String, topK: Int): DataFrame = {
    require(topK >= 1 && topK <= 100000,
      s"Regression.olsInfluence: topK in [1, 100000], got $topK")
    def q(c: String) = round(col(c).cast("double") * 1000000.0, 0)
      .cast(DecimalType(19, 0))
    // spread: moments pass + per-row leverage/Cook pass (q206 2.6 -> 1.2)
    val rows = graft.Tables.spreadSmall(df)
      .filter(col(yCol).isNotNull && col(x1Col).isNotNull &&
        col(x2Col).isNotNull)
      .select(col(idCol).cast("long").as("rid"),
              q(yCol).as("yq"), q(x1Col).as("x1q"), q(x2Col).as("x2q"))
      // (no checkpoint: the projected scan is cheaper to re-evaluate)
    val m = rows.agg(
      count(lit(1)).cast("double").as("n"),
      (sum(col("x1q")).cast("double") / 1.0e6).as("s1"),
      (sum(col("x2q")).cast("double") / 1.0e6).as("s2"),
      (sum(col("yq")).cast("double") / 1.0e6).as("sy"),
      (sum(col("x1q") * col("x1q")).cast("double") / 1.0e12).as("s11"),
      (sum(col("x1q") * col("x2q")).cast("double") / 1.0e12).as("s12"),
      (sum(col("x2q") * col("x2q")).cast("double") / 1.0e12).as("s22"),
      (sum(col("x1q") * col("yq")).cast("double") / 1.0e12).as("s1y"),
      (sum(col("x2q") * col("yq")).cast("double") / 1.0e12).as("s2y"),
      (sum(col("yq") * col("yq")).cast("double") / 1.0e12).as("syy"))
    val stats = m.select(col("*"),
        expr("n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)" +
          " + s2*(s1*s12 - s11*s2)").as("det"))
      .select(col("n"),
        expr("(sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)" +
          " + s2*(s1y*s12 - s11*s2y)) / det").as("b0"),
        expr("(n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2)" +
          " + s2*(s1*s2y - s1y*s2)) / det").as("b1"),
        expr("(n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)" +
          " + sy*(s1*s12 - s11*s2)) / det").as("b2"),
        expr("(s11*s22 - s12*s12) / det").as("a00"),
        expr("-(s1*s22 - s12*s2) / det").as("a01"),
        expr("(s1*s12 - s11*s2) / det").as("a02"),
        expr("(n*s22 - s2*s2) / det").as("a11"),
        expr("-(n*s12 - s1*s2) / det").as("a12"),
        expr("(n*s11 - s1*s1) / det").as("a22"),
        col("sy"), col("s1y"), col("s2y"), col("syy"))
      .withColumn("mse",
        expr("(syy - b0*sy - b1*s1y - b2*s2y) / (n - 3)"))
    rows.crossJoin(broadcast(stats))
      .withColumn("x1", col("x1q").cast("double") / 1.0e6)
      .withColumn("x2", col("x2q").cast("double") / 1.0e6)
      .withColumn("e",
        col("yq").cast("double") / 1.0e6 -
          (col("b0") + col("b1") * col("x1") + col("b2") * col("x2")))
      .withColumn("h",
        expr("a00 + 2*a01*x1 + 2*a02*x2 + a11*x1*x1" +
          " + 2*a12*x1*x2 + a22*x2*x2"))
      .withColumn("d",
        expr("(e*e*h) / (3*mse*(1-h)*(1-h))"))
      .orderBy(col("d").desc, col("rid").asc)
      .limit(topK)
      .select(col("rid"), round(col("e"), 6).as("residual"),
        round(col("h"), 6).as("leverage"),
        round(col("d"), 6).as("cooks_d"))
  }

  /** Binned logistic regression y ~ sigmoid(w0 + w1·m), m =
    * (bin+0.5)/nBins over [lo, hi) (values clamped into edge bins,
    * the [[Gmm]] convention). Full-batch gradient ASCENT on the
    * log-likelihood, `iters` rounds at learning rate `lr` from
    * w = (0, 0). Returns 1 row:
    * (n, n_pos, w0, w1, loglik) rounded to 6. */
  def logitBinned(df: DataFrame, xCol: String,
                  label: org.apache.spark.sql.Column, lo: Double, hi: Double,
                  nBins: Int, lr: Double, iters: Int): DataFrame = {
    require(nBins >= 2 && nBins <= 100000,
      s"Regression.logitBinned: nBins must be in [2, 100000], got $nBins")
    require(iters >= 1 && iters <= 10000,
      s"Regression.logitBinned: iters must be in [1, 10000], got $iters")
    val spark = df.sparkSession
    val width = (hi - lo) / nBins
    val x = col(xCol).cast("double")
    val bin = greatest(least(floor((x - lo) / width).cast("long"),
                             lit(nBins - 1L)), lit(0L))
    val hist = graft.util.Bounded.collect(
      df.filter(x.isNotNull)
        .select(bin.as("__b"), when(label, 1L).otherwise(0L).as("__y"))
        .groupBy(col("__b"))
        .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__np")),
      nBins, "Regression.logitBinned histogram frame")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = hist.map(_._2).sum
    val nPos = hist.map(_._3).sum

    def dec9(v: Double): JBigDecimal =
      new JBigDecimal(java.lang.Double.toString(round9(v))).setScale(9)
    var (w0, w1) = (0.0, 0.0)
    for (_ <- 1 to iters) {
      // per-bin gradient terms quantized to 9 decimals, summed in
      // exact decimal (order-independent; the SQL replay matches)
      val (g0, g1) = hist.foldLeft((JBigDecimal.ZERO, JBigDecimal.ZERO)) {
        case ((a0, a1), (b, nb, np)) =>
          val m = (b + 0.5) / nBins
          val p = round9(1.0 / (1.0 + math.exp(-(w0 + w1 * m))))
          val r = np - nb * p // residual: observed − expected positives
          (a0.add(dec9(r)), a1.add(dec9(r * m)))
      }
      w0 = round9(w0 + lr * g0.doubleValue() / n)
      w1 = round9(w1 + lr * g1.doubleValue() / n)
    }
    val ll = hist.foldLeft(JBigDecimal.ZERO) { case (acc, (b, nb, np)) =>
      val m = (b + 0.5) / nBins
      val z = w0 + w1 * m
      val p = round9(1.0 / (1.0 + math.exp(-z)))
      acc.add(dec9(np * math.log(p) + (nb - np) * math.log(1.0 - p)))
    }.doubleValue()
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(n, nPos, round6(w0), round6(w1), round6(ll))), 1),
      StructType(Seq(
        StructField("n", LongType, nullable = false),
        StructField("n_pos", LongType, nullable = false),
        StructField("w0", DoubleType, nullable = false),
        StructField("w1", DoubleType, nullable = false),
        StructField("loglik", DoubleType, nullable = false))))
  }
}
