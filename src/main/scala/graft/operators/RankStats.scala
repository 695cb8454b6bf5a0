package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.util.Pin._

/** Rank-based (distribution-free) statistics at corpus scale: the
  * robust cousins of Pearson/t-test/parametric drift checks a
  * curation pipeline reaches for when values are heavy-tailed
  * (token counts, prices, latencies) — Spearman's ρ, the
  * Mann-Whitney U test, and the two-sample Kolmogorov–Smirnov
  * statistic.
  *
  * All three reduce to the same scale shape: fold the corpus ONCE
  * into a per-distinct-value count frame (value cardinality, the
  * [[Eval.auc]] precedent), run the ordered pass over that frame with
  * [[OrderedStats.cumsumExclusive]] (two-phase bucketed prefix sum —
  * NO single-partition window), and compute the statistic from exact
  * integer/decimal arithmetic: tie-averaged ranks are half-integers
  * (2·rank is an exact BIGINT), KS distances compare as the integer
  * cross-products |cum1·n2 − cum2·n1|, and only the final statistic
  * touches doubles (identical expression order on both engines).
  */
object RankStats {

  /** Spearman rank correlation of two columns. Returns 1 row:
    * (n, rho) with ρ = Pearson over midranks, rounded to 6. Sums of
    * ranks and rank products are exact decimals (ranks are
    * half-integers), so ρ is engine-portable bit-for-bit. */
  def spearman(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val rows = df.select(
        round(col(xCol).cast("double"), 6).as("vx"),
        round(col(yCol).cast("double"), 6).as("vy"))
      .filter(col("vx").isNotNull && col("vy").isNotNull)
    // Midranks for BOTH columns in ONE cumsum pipeline: melt (vx, vy)
    // to a tagged value column and rank per tag via the partitioned
    // cumsumExclusiveAll — per-tag min/max, buckets, offsets and
    // window are exactly what two independent per-column rank passes
    // compute, at half the exchange chain and one corpus melt instead
    // of two count passes (r15: two full pipelines, ~50-scan plan).
    val melted = rows.select(explode(array(
        struct(lit("x").as("__tag"), col("vx").as("v")),
        struct(lit("y").as("__tag"), col("vy").as("v")))).as("__e"))
      .select(col("__e.__tag").as("__tag"), col("__e.v").as("v"))
    val counts = melted.groupBy(col("__tag"), col("v"))
      .agg(count(lit(1)).as("cnt"))
    val ranked = OrderedStats.cumsumExclusiveAll(counts, sortCol = "v",
        tieCols = Seq(), valueCols = Seq("cnt" -> "below"),
        partitionCols = Seq("__tag"))
      .select(col("__tag"), col("v"),
              (col("below") + (col("cnt") + lit(1L)) / lit(2.0))
                .as("avg_rank"))
    val rx = ranked.filter(col("__tag") === "x")
      .select(col("v").as("vx"), col("avg_rank").as("rx"))
    val ry = ranked.filter(col("__tag") === "y")
      .select(col("v").as("vy"), col("avg_rank").as("ry"))
    // (18,1) factors: ranks fit to 10¹⁷ rows, and the (37,2) product
    // type is representable on BOTH engines (DuckDB errors out past
    // width 38 on multiply, so wider factor types are NOT portable)
    def dec(c: Column) = c.cast(DecimalType(18, 1))
    val m = rows.join(rx, Seq("vx")).join(ry, Seq("vy"))
      .agg(count(lit(1)).cast("double").as("n"),
           sum(dec(col("rx"))).cast("double").as("sx"),
           sum(dec(col("ry"))).cast("double").as("sy"),
           sum(dec(col("rx")) * dec(col("rx"))).cast("double").as("sxx"),
           sum(dec(col("ry")) * dec(col("ry"))).cast("double").as("syy"),
           sum(dec(col("rx")) * dec(col("ry"))).cast("double").as("sxy"))
    m.select(col("n").cast("long").as("n"),
      round((col("n") * col("sxy") - col("sx") * col("sy")) /
        sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
             (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("rho"))
  }

  /** Mann-Whitney U test: is `valueCol` stochastically larger where
    * `group` holds? Returns 1 row: (n1, n2, u1, u2, z) — U for the
    * group (u1) and its complement (u2, = n1·n2 − u1), and the
    * tie-corrected normal approximation z, rounded to 6. The rank sum
    * folds over the pooled midrank frame (group counts per distinct
    * value — one ordered pass, no row-level ranking). */
  def mannWhitney(df: DataFrame, valueCol: String,
                  group: Column): DataFrame = {
    val vals = df
      .select(round(col(valueCol).cast("double"), 6).as("v"),
              when(group, 1L).otherwise(0L).as("g"))
      .filter(col("v").isNotNull)
    val counts = vals.groupBy(col("v"))
      .agg(count(lit(1)).as("cnt"), sum(col("g")).as("c1"))
    val ranked = OrderedStats.cumsumExclusive(counts, sortCol = "v",
      tieCols = Seq(), valueCol = "cnt", outCol = "below")
    // 2·rank-sum of group 1 stays integral: Σ c1·(2·below + cnt + 1).
    // Terms go through DECIMAL(38,0) BEFORE multiply/sum — a long
    // accumulator would throw ANSI overflow at ~10⁹ rows (rank ×
    // count products reach 10¹⁸ per term; t³ alone reaches 10²⁷).
    def d38(c: Column) = c.cast(DecimalType(38, 0))
    val m = ranked.agg(
      sum(col("c1")).as("n1"),
      sum(col("cnt") - col("c1")).as("n2"),
      sum(d38(col("c1")) * (d38(col("below")) * 2 + d38(col("cnt")) + 1))
        .cast("double").as("r1x2"),
      // tie correction: Σ (t³ − t) over tie groups
      sum(d38(col("cnt")) * d38(col("cnt")) * d38(col("cnt")) -
          d38(col("cnt"))).cast("double").as("ties"))
    m.select(col("n1"), col("n2"),
        (col("r1x2") / 2.0 - col("n1").cast("double") *
          (col("n1").cast("double") + 1.0) / 2.0).as("u1"),
        col("ties"))
      .select(col("n1"), col("n2"), col("u1"),
        (col("n1").cast("double") * col("n2").cast("double") - col("u1"))
          .as("u2"), col("ties"),
        (col("n1") + col("n2")).cast("double").as("nn"))
      .select(col("n1"), col("n2"),
        round(col("u1"), 1).as("u1"), round(col("u2"), 1).as("u2"),
        round((col("u1") - col("n1").cast("double") *
            col("n2").cast("double") / 2.0) /
          sqrt(col("n1").cast("double") * col("n2").cast("double") / 12.0 *
            ((col("nn") + 1.0) -
              col("ties") / (col("nn") * (col("nn") - 1.0)))), 6).as("z"))
  }

  /** Kendall's τ-b — the concordance rank correlation, EXACT at any
    * row count via the contingency-table identity: for
    * value-cardinality-bounded columns (integer codes, grades, bins —
    * bin continuous values upstream), fold the corpus once to the
    * |X|×|Y| cell frame, then concordant/discordant pair counts are
    * a cell-PAIR sum — C = Σ n_ij·n_i'j' over (i'>i, j'>j), D over
    * (i'>i, j'<j) — quadratic in CELLS, never in rows (the naive
    * all-pairs form is O(n²) and unrunnable at corpus scale). Tie
    * corrections come from the marginals:
    * τ_b = (C−D)/√((n₀−n₁)(n₀−n₂)), n₀ = n(n−1)/2,
    * n₁/n₂ = Σ t(t−1)/2 over x/y marginal ties. Every count rides
    * DECIMAL(38,0); only the final ratio is floating. Returns 1 row:
    * (n, n_cells, n_c, n_d, tau_b). `maxCells` bounds the cell-pair
    * stage loudly (the Bounded contract — 10⁴ cells = 10⁸ cell
    * pairs is the sensible ceiling). */
  def kendallTauB(df: DataFrame, xCol: String, yCol: String,
                  maxCells: Long = 10000): DataFrame = {
    val vals = df
      .select(round(col(xCol).cast("double"), 6).as("x"),
              round(col(yCol).cast("double"), 6).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    // built once, read 4× (pairs ×2 + marginals); the pin's own job
    // counts the cells, so the loud bound fires BEFORE the quadratic
    // cell-pair join can materialize
    val (cells, m) = vals.groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("nij"))
      .pinObserving(count(lit(1)).as("n_cells"))
    val nc = m("n_cells").asInstanceOf[Long]
    require(nc <= maxCells,
      s"RankStats.kendallTauB: $nc cells exceed maxCells=$maxCells — " +
        "bin the continuous column(s) upstream")
    val nCells = cells.agg(count(lit(1)).as("n_cells"))
    def d38(c: Column) = c.cast(DecimalType(38, 0))
    val a = cells.select(col("x").as("xa"), col("y").as("ya"),
      col("nij").as("na"))
    val b = cells.select(col("x").as("xb"), col("y").as("yb"),
      col("nij").as("nb"))
    val pairs = a.join(b, col("xa") < col("xb"))
      .select((d38(col("na")) * d38(col("nb"))).as("__p"),
        (col("ya") < col("yb")).as("__conc"),
        (col("ya") > col("yb")).as("__disc"))
      .agg(sum(when(col("__conc"), col("__p")).otherwise(lit(0))
             .cast(DecimalType(38, 0))).as("n_c"),
           sum(when(col("__disc"), col("__p")).otherwise(lit(0))
             .cast(DecimalType(38, 0))).as("n_d"))
    val tx = cells.groupBy(col("x")).agg(sum(col("nij")).as("t"))
      .agg(sum(d38(col("t")) * (d38(col("t")) - 1)).as("tx2"),
           sum(col("t")).as("n"))
    val ty = cells.groupBy(col("y")).agg(sum(col("nij")).as("t"))
      .agg(sum(d38(col("t")) * (d38(col("t")) - 1)).as("ty2"))
    pairs.crossJoin(broadcast(tx)).crossJoin(broadcast(ty))
      .crossJoin(broadcast(nCells))
      .select(col("n"), col("n_cells"),
        col("n_c").cast("long").as("n_c"),
        col("n_d").cast("long").as("n_d"),
        // n0·2 = n(n−1); all tie terms kept ×2 so everything stays
        // integral until the final doubles
        (d38(col("n")) * (d38(col("n")) - 1)).as("__n02"),
        col("tx2"), col("ty2"))
      .select(col("n"), col("n_cells"), col("n_c"), col("n_d"),
        round((col("n_c").cast("double") - col("n_d").cast("double")) /
          sqrt(((col("__n02") - col("tx2")).cast("double") / 2.0) *
               ((col("__n02") - col("ty2")).cast("double") / 2.0)), 6)
          .as("tau_b"))
  }

  /** Two-sample Kolmogorov–Smirnov: D = max |F₁(v) − F₂(v)| over the
    * pooled support. Returns 1 row: (n1, n2, d_num, ks) where d_num =
    * max |cum1·n2 − cum2·n1| is the EXACT integer numerator (the
    * whole ordered pass never touches floats) and ks = d_num/(n1·n2)
    * rounded to 6. */
  def ksTwoSample(df: DataFrame, valueCol: String,
                  group: Column): DataFrame = {
    val vals = df
      .select(round(col(valueCol).cast("double"), 6).as("v"),
              when(group, 1L).otherwise(0L).as("g"))
      .filter(col("v").isNotNull)
    val counts = vals.groupBy(col("v"))
      .agg(sum(col("g")).as("c1"), sum(lit(1L) - col("g")).as("c2"))
    // BOTH exclusive cumsums ride ONE bucketed-prefix pipeline
    // (cumsumExclusiveAll): the r15 chained form nested the pipeline
    // twice — 54 scans / 138 exchanges in the q197 plan dump — for the
    // identical below1/below2 values.
    val r2 = OrderedStats.cumsumExclusiveAll(counts, sortCol = "v",
      tieCols = Seq(), valueCols = Seq("c1" -> "below1", "c2" -> "below2"))
    val tot = counts.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    // cross-products in DECIMAL(38,0): cum·n reaches 10¹⁸ at 10⁹ rows
    // per side, the edge of a long under ANSI
    def d38(c: Column) = c.cast(DecimalType(38, 0))
    r2.crossJoin(broadcast(tot))
      .select(col("n1"), col("n2"),
        abs((d38(col("below1")) + d38(col("c1"))) * d38(col("n2")) -
            (d38(col("below2")) + d38(col("c2"))) * d38(col("n1")))
          .as("__d"))
      .groupBy(col("n1"), col("n2"))
      .agg(max(col("__d")).cast("long").as("d_num"))
      .select(col("n1"), col("n2"), col("d_num"),
        round(col("d_num").cast("double") /
          (col("n1").cast("double") * col("n2").cast("double")), 6).as("ks"))
  }
}
