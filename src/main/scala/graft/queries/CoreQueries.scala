package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables._
import graft.operators.{AsOfJoin, Dedup, Skew, Windows}
import graft.queries.OracleSql.dsum
import graft.util.Exact.exactSum
import graft.util.Pin._

/** Core relational operator queries (SURVEY §2.3-§2.6) over the driver
  * testdata, each with a DuckDB oracle. Conventions for oracle parity:
  *  - double SUMs go through DECIMAL(30,10) (see util.Exact) so they are
  *    order-independent and bit-identical across engines;
  *  - small windowed double aggregates are rounded to 4 decimals;
  *  - every window/limit has a total deterministic ordering via unique
  *    tiebreak keys;
  *  - raw timestamps are never output directly (formatted instead).
  */
object CoreQueries {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // One-pass column profiler over lineitem: per column — non-null
    // count, exact distinct count, numeric/timestamp min-max as
    // doubles (timestamps via epoch seconds), string min-max. One agg
    // pass + a stack pivot to long form; the oracle recomputes every
    // statistic per column.
    "q97_profile" -> ((s, d) =>
      graft.operators.Profiler.profile(lineitem(s, d))),

    // Weighted median via the exact CDF: per (group, distinct value)
    // weight sums + one cumsum window; the median is the smallest
    // value whose cumulative weight reaches half the total — a
    // min(struct) argmin, no second pass. Weights ride DECIMAL.
    "q133_weighted_median" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val l = lineitem(s, d)
        .select(col("l_returnflag").as("flag"),
                col("l_extendedprice").as("v"),
                col("l_quantity").cast("decimal(30,6)").as("w"))
      val cdf = l.groupBy(col("flag"), col("v"))
        .agg(sum(col("w")).as("wv"))
        .withColumn("cum", sum(col("wv")).over(
          Window.partitionBy(col("flag")).orderBy(col("v").asc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("total", sum(col("wv")).over(
          Window.partitionBy(col("flag"))))
      cdf.filter(col("cum") * 2 >= col("total"))
        .groupBy(col("flag"))
        .agg(min(col("v")).as("weighted_median"),
             min(col("total").cast("double")).as("total_weight"))
    }),

    // Golden-record survivorship (MDM merge): per user, for EACH field
    // independently, the newest non-null value wins — distinct from
    // keep-latest-row (q6), which drags one row's nulls along. Nulls
    // planted deterministically (the q111 pattern) so repairs are
    // exercised. One exchange: the user window serves every field.
    "q134_golden_record" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, d)
        .withColumn("v", when(col("event_id") % 7 === 0, lit(null))
          .otherwise(col("value")))
        .withColumn("et", when(col("event_id") % 5 === 0, lit(null))
          .otherwise(col("event_type")))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("g_value", last(col("v"), ignoreNulls = true).over(w))
        .withColumn("g_type", last(col("et"), ignoreNulls = true).over(w))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("user_id"))
            .orderBy(col("ts").desc, col("event_id").desc)))
        .filter(col("__rn") === 1)
        .select(col("user_id"), round(col("g_value"), 4).as("golden_value"),
                col("g_type").as("golden_type"))
    }),

    // Chi-square independence test between two categoricals
    // (priority × status): observed counts + expected under
    // independence + the χ² statistic — exact integer counts, double
    // closed form, one contingency-sized exchange.
    "q135_chi_square" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val o = orders(s, d)
      val obs = o.groupBy(col("o_orderpriority").as("a"),
                          col("o_orderstatus").as("b"))
        .agg(count(lit(1)).as("n_obs"))
      val withMargins = obs
        .withColumn("n_a", sum(col("n_obs")).over(Window.partitionBy(col("a"))))
        .withColumn("n_b", sum(col("n_obs")).over(Window.partitionBy(col("b"))))
        .withColumn("n", sum(col("n_obs")).over(Window.partitionBy()))
      val expected = col("n_a").cast("double") * col("n_b").cast("double") /
        col("n").cast("double")
      val term = (col("n_obs").cast("double") - expected) *
        (col("n_obs").cast("double") - expected) / expected
      withMargins
        .withColumn("expected", round(expected, 4))
        .withColumn("chi2_term", round(term, 6))
        // terms quantize to 1e-6 integers before the order-sensitive
        // sum (the engine-wide exact-sum trick)
        .withColumn("chi2_total",
          sum(round(term * lit(1e6), 0).cast("long"))
            .over(Window.partitionBy()).cast("double") / lit(1e6))
        .select(col("a"), col("b"), col("n_obs"), col("expected"),
                col("chi2_term"), col("chi2_total"))
    }),

    // Percentile-against-reference: each 1997 order's total scored as
    // its percentile within the ≤1996 per-priority REFERENCE
    // distribution — the train-time-CDF-applied-to-serving-data
    // feature. Composition: per-(key, value) counts + one cumsum
    // window build the exact CDF; the As-Of join (greatest ref value
    // ≤ x) reads it — no range-join pair blowup, no per-row scan.
    "q132_relative_rank" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val o = orders(s, d)
      val ref = o.filter(year(col("o_orderdate")) <= 1996)
        .select(col("o_orderpriority").as("prio"), col("o_totalprice").as("p"))
      val refCdf = ref.groupBy(col("prio"), col("p")).agg(count(lit(1)).as("c"))
        .withColumn("cum_le", sum(col("c")).over(
          Window.partitionBy(col("prio")).orderBy(col("p").asc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("prio"), col("p").as("ref_p"), col("cum_le"))
      val refN = ref.groupBy(col("prio")).agg(count(lit(1)).as("n_ref"))
      val target = o.filter(year(col("o_orderdate")) === 1997 &&
                            col("o_orderkey") < 2000)
        .select(col("o_orderkey"), col("o_orderpriority").as("prio"),
                col("o_totalprice").as("p"))
      graft.operators.AsOfJoin.asOfBackward(target, refCdf, Seq("prio"),
          "p", "ref_p", Seq("cum_le"))
        .join(broadcast(refN), "prio")
        .select(col("o_orderkey"), col("prio").as("o_orderpriority"),
                col("p").as("o_totalprice"),
                round(coalesce(col("cum_le"), lit(0L)).cast("double") /
                      col("n_ref").cast("double"), 6).as("pct_vs_ref"))
    }),

    // Data-contract diff between two table versions (pre/post-1997
    // lineitem): per-column count/distinct deltas + range-drift flag
    // — the check a pipeline runs after a refresh before publishing.
    "q131_profile_diff" -> ((s, d) => {
      val l = lineitem(s, d)
      val cut = lit("1997-01-01").cast("timestamp")
      graft.operators.Profiler.diff(l.filter(col("l_shipdate") < cut),
                                    l.filter(col("l_shipdate") >= cut))
    }),

    // Per-nation median imputation of (deterministically planted)
    // null balances: exact rounded medians broadcast back, repairs
    // flagged per row, all-null groups keep visible nulls.
    "q111_impute" -> ((s, d) => {
      val withNulls = customer(s, d).select(col("c_custkey"),
        col("c_nationkey"),
        when(pmod(col("c_custkey"), lit(11)) === 0,
             lit(null).cast("double"))
          .otherwise(col("c_acctbal")).as("bal"))
      graft.operators.Impute.medianImpute(withNulls, Seq("c_nationkey"),
                                          "bal")
        .select(col("c_custkey"), col("c_nationkey"),
                // scale 4, not 2: medians of 2-decimal values land on
                // .xx5 halves where Spark (decimal-string HALF_UP) and
                // DuckDB (binary-double) round() disagree; at scale 4
                // the round is the identity for every value here
                round(col("bal_imputed"), 4).as("bal_imputed"),
                col("was_imputed"))
    }),

    // PSI drift between 1995 and 1997 order totals on the q107
    // bucketing: per-bucket shares + terms (the diagnosis) and the
    // quantized total (the alarm) on every row.
    "q112_psi" -> ((s, d) => {
      val o = orders(s, d)
      graft.operators.Drift.psi(
        o.filter(year(col("o_orderdate")) === 1995),
        o.filter(year(col("o_orderdate")) === 1997),
        "o_totalprice", lo = 0.0, hi = 500000.0, nBuckets = 20)
    }),

    // Per-nation winsorization of customer balances: exact [p05, p95]
    // thresholds rounded to 4 decimals BEFORE any comparison (the
    // portability contract), tail-clamp audit + exact clamped sum.
    "q109_winsorize" -> ((s, d) =>
      graft.operators.Winsorize.winsorize(customer(s, d),
        Seq("c_nationkey"), "c_acctbal", pLo = 0.05, pHi = 0.95)),

    // Leave-one-out target encoding of order priority against order
    // total, pseudo-count 10 toward the global mean — category stats
    // from one partial agg broadcast back; the fact table never
    // shuffles.
    "q118_target_encode" -> ((s, d) =>
      graft.operators.TargetEncode.looEncode(
          orders(s, d), "o_orderpriority", "o_totalprice", m = 10.0)
        .filter(col("o_orderkey") < 1000)
        .select(col("o_orderkey"), col("o_orderpriority"),
                col("o_totalprice"), col("target_enc"))),

    // Key-skew diagnostics over the event log's user key: top-10
    // heaviest keys + Gini/max-to-mean summary — the profile that
    // decides between plain hash partitioning, salting, and AQE skew
    // handling before a big join or agg.
    "q129_skew_profile" -> ((s, d) =>
      graft.operators.Skew.keyProfile(events(s, d), "user_id", topK = 10)),

    // Seasonal-baseline anomaly scoring: hour-of-week mean/std from
    // 1e6-quantized exact moments (the q100 pattern), broadcast back,
    // narrow residual z per event — the time-series outlier check an
    // ops pipeline runs on metrics feeds. Baselines aggregate over
    // the FULL log; output bounded to event_id < 1000.
    "q130_seasonal_anomaly" -> ((s, d) => {
      val ev = events(s, d)
        .select(col("event_id"), col("ts"), col("value"))
        .withColumn("dow", dayofweek(col("ts")))
        .withColumn("hr", hour(col("ts")))
        .withColumn("xq", round(col("value") * lit(1e6), 0).cast("decimal(19,0)"))
      val base = ev.groupBy(col("dow"), col("hr"))
        .agg(count(lit(1)).as("n"),
             sum(col("xq")).cast("decimal(38,0)").as("sx"),
             sum(col("xq") * col("xq")).cast("decimal(38,0)").as("sxx"))
        .withColumn("mean",
          col("sx").cast("double") / (lit(1e6) * col("n").cast("double")))
        .withColumn("std", sqrt(
          col("sxx").cast("double") / (lit(1e12) * col("n").cast("double"))
            - col("mean") * col("mean")))
      val z = (col("value") - col("mean")) /
        when(col("std") =!= 0.0, col("std"))
      ev.join(broadcast(base.select(col("dow"), col("hr"), col("mean"),
                                    col("std"))),
              Seq("dow", "hr"))
        .filter(col("event_id") < 1000)
        .select(col("event_id"), col("dow"), col("hr"),
                round(col("value"), 4).as("value"),
                round(col("mean"), 4).as("baseline_mean"),
                round(col("std"), 4).as("baseline_std"),
                round(z, 4).as("resid_z"),
                (abs(z) > 3.0).as("is_anomaly"))
    }),

    // Record linkage: blocking (nation) + Levenshtein <= 1 candidate
    // pairs — the entity-resolution dedup where exact hashing fails;
    // blocks bound the quadratic stage at sum(|block|^2).
    "q125_fuzzy_linkage" -> ((s, d) =>
      graft.operators.Linkage.fuzzyPairs(
        customer(s, d).filter(col("c_custkey") < 200),
        "c_custkey", "c_name", "c_nationkey", maxDist = 1)),

    // Exact ROC-AUC of order total as a classifier for status 'F' —
    // the Mann-Whitney rank-sum identity over per-distinct-score
    // counts (value-cardinality ordered pass, tie-averaged).
    "q137_auc" -> ((s, d) =>
      graft.operators.Eval.auc(orders(s, d), "o_totalprice",
                               col("o_orderstatus") === "F")),

    // Reliability diagram: 10 equal-width total-price bins, per bin
    // exact mean score + empirical 'F' rate.
    "q138_calibration" -> ((s, d) =>
      graft.operators.Eval.calibration(orders(s, d), "o_totalprice",
        col("o_orderstatus") === "F", lo = 0.0, hi = 500000.0, nBins = 10)),

    // Operating-point sweep: precision/recall/F1 for order total
    // predicting status 'F' at 11 fixed thresholds.
    "q139_pr_curve" -> ((s, d) =>
      graft.operators.Eval.prCurve(orders(s, d), "o_totalprice",
        col("o_orderstatus") === "F",
        thresholds = (0 to 10).map(_ * 50000.0))),

    // Per-group rate audit (fairness layer): base/selection/TPR/FPR
    // per market segment at the 200k threshold, via the customer join.
    "q140_group_fairness" -> ((s, d) => {
      val o = orders(s, d).select(col("o_custkey"), col("o_totalprice"),
                                  col("o_orderstatus"))
      val c = customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
      graft.operators.Eval.groupRates(
        o.join(broadcast(c), o("o_custkey") === c("c_custkey")),
        "c_mktsegment", "o_totalprice",
        col("o_orderstatus") === "F", threshold = 200000.0)
    }),

    // Graded record linkage: blocking + the native codegen'd
    // Jaro-Winkler expression (DuckDB-matching semantics, so the
    // oracle replays it with its built-in); similarity rounds to 4
    // decimals before the 0.97 threshold so both engines cut the same
    // pairs.
    "q136_jw_linkage" -> ((s, d) =>
      graft.operators.Linkage.jaroWinklerPairs(s,
        customer(s, d).filter(col("c_custkey") < 200),
        "c_custkey", "c_name", "c_nationkey", minSim = 0.97)),

    // Fellegi-Sunter probabilistic linkage: segment-blocked candidate
    // pairs scored by the per-field agreement log-likelihood ratio,
    // with u-probabilities estimated from the field value histograms
    // (sum f_v^2 / N^2) and clerical m priors — the match-decision
    // layer over the q125/q136 pair generators.
    "q234_fellegi_sunter" -> ((s, d) =>
      graft.operators.Linkage.fellegiSunter(
        customer(s, d).filter(col("c_custkey") < 200),
        "c_custkey", "c_mktsegment",
        fields = Seq(
          ("nation", col("c_nationkey"), 0.95),
          ("name_pfx", substring(col("c_name"), 1, 12), 0.9),
          ("bal_pos", col("c_acctbal") > 0, 0.8)),
        threshold = 3.0)),

    // Sweep-line peak concurrency: each event opens a 1-hour interval;
    // per event_type, the running +1/-1 sum's max and the earliest
    // instant it is reached ([start, end) half-open semantics).
    "q126_max_concurrent" -> ((s, d) =>
      graft.operators.Sweep.maxConcurrent(events(s, d), Seq("event_type"),
          col("ts"), col("ts") + expr("INTERVAL 1 HOUR"))
        .select(col("event_type"), col("peak_concurrent"),
                date_format(col("peak_at"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
                  .as("peak_at"))),

    // Exact Pearson correlation matrix over the four lineitem measure
    // columns: all sufficient statistics in ONE map-side-combined
    // aggregation pass (decimal-quantized so sums are exact and
    // partitioning-independent — built-in corr() float accumulation
    // could never hash-match another engine).
    "q124_corr_matrix" -> ((s, d) =>
      graft.operators.Profiler.corrMatrix(lineitem(s, d),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),

    // INCREMENTAL correlation maintenance: sufficient statistics
    // computed per half-year batch (exact decimal state), merged by
    // Profiler.corrMergeStats without rescanning history — and the
    // oracle recomputes MONOLITHICALLY over the full table, so the
    // hash gate proves state-merge == full recompute (the q72/q108
    // statement for second moments).
    "q128_incremental_corr" -> ((s, d) => {
      import graft.operators.Profiler
      val l = lineitem(s, d)
      val cut = lit("1997-01-01").cast("timestamp")
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val hist = Profiler.corrStats(l.filter(col("l_shipdate") < cut), cols)
      val batch = Profiler.corrStats(l.filter(col("l_shipdate") >= cut), cols)
      Profiler.corrFromStats(Profiler.corrMergeStats(hist, batch), cols)
    }),

    // Per-nation MAD robust z-scores over customer balances (medians
    // rounded to 4 decimals before downstream arithmetic — the q109
    // portability contract; constant groups score NULL, not ±Inf).
    "q119_mad_score" -> ((s, d) =>
      graft.operators.Robust.madScore(
          customer(s, d).select(col("c_custkey"), col("c_nationkey"),
                                col("c_acctbal")),
          Seq("c_nationkey"), "c_acctbal")
        .filter(col("c_custkey") < 300)
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
                col("med"), col("mad"), col("robust_z"))),

    // INCREMENTAL SCD2 maintenance: history (orders before 1997) is
    // built once, the 1997+ batch folds in via Scd.merge touching only
    // batch keys — and the oracle is q99's FULL-REBUILD SQL over the
    // complete log, so the hash gate proves incremental == rebuild.
    "q108_scd2_merge" -> ((s, d) => {
      val o = orders(s, d)
      val cut = lit("1997-01-01").cast("timestamp")
      val hist = graft.operators.Scd.scd2(
        o.filter(col("o_orderdate") < cut),
        keys = Seq("o_custkey"), seqCol = col("o_orderdate"),
        tiebreaks = Seq(col("o_orderkey")),
        stateCols = Seq("o_orderpriority"))
      graft.operators.Scd.merge(hist, o.filter(col("o_orderdate") >= cut),
          keys = Seq("o_custkey"), seqCol = col("o_orderdate"),
          batchTiebreak = col("o_orderkey"),
          stateCols = Seq("o_orderpriority"))
        .select(col("o_custkey").as("custkey"),
                col("o_orderpriority").as("state"),
                col("version"),
                date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
                date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
                col("is_current"))
    }),

    // TIME-range rolling window (RANGE, not ROWS): trailing-24h event
    // count + exact spend per user, frame membership on exact integer
    // microseconds. The window mode rowsBetween can't express.
    "q106_time_rolling" -> ((s, d) => {
      graft.operators.Windows.timeRolling(
          events(s, d).filter(col("user_id") < 20)
            .select(col("user_id"), col("ts"), col("value")),
          Seq("user_id"), col("ts"), col("value"),
          lookbackMicros = 86400000000L)
        .select(col("user_id"),
                date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"),
                col("n_window"), round(col("sum_window"), 4).as("sum_24h"))
    }),

    // Equi-width histogram over order totals: 20 buckets on [0, 500k],
    // out-of-domain rows REPORTED in sentinel buckets (-1/20), exact
    // decimal per-bucket sums. One exchange of <= nBuckets+2 partials.
    "q107_histogram" -> ((s, d) =>
      graft.operators.Histogram.histogram(orders(s, d), "o_totalprice",
        lo = 0.0, hi = 500000.0, nBuckets = 20)),

    // Ordered conversion funnel over the event log: signup -> click
    // -> purchase with strictly-after semantics (operators.Funnel).
    // One user repartition serves every step's agg and join; time
    // deltas sum as exact integer microseconds.
    "q104_funnel" -> ((s, d) => {
      graft.operators.Funnel.funnel(events(s, d), "user_id", "event_type",
                                    "ts", Seq("signup", "click", "purchase"))
    }),

    // Declarative data-quality audit (operators.Expectations): four
    // per-row rules in ONE aggregation pass over orders, key
    // uniqueness, and lineitem->orders referential integrity (child
    // keys reduced to distinct BEFORE the anti-join). The 400k price
    // ceiling is deliberately tight so non-zero violation counts are
    // exercised, not just green booleans.
    "q103_expectations" -> ((s, d) => {
      import graft.operators.Expectations._
      val o = orders(s, d)
      val l = lineitem(s, d)
      report(
        check(o, Seq(
          notNull("o_orderkey"),
          inRange("o_totalprice", 0.0, 400000.0),
          inSet("o_orderstatus", Seq("O", "F", "P")),
          matches("o_orderpriority", "^[1-5]-"))),
        unique(o, Seq("o_orderkey"), "unique_o_orderkey"),
        refIntegrity(l, "l_orderkey", o, "o_orderkey",
                     "fk_lineitem_orders"))
    }),

    // SCD2 dimension build over the orders change-log: per customer,
    // collapse consecutive same-priority orders and emit versioned
    // [valid_from, valid_to) intervals (operators.Scd). One exchange +
    // one sort serve change-detect, versioning, and interval bounds.
    "q99_scd2" -> ((s, d) => {
      graft.operators.Scd.scd2(orders(s, d),
          keys = Seq("o_custkey"), seqCol = col("o_orderdate"),
          tiebreaks = Seq(col("o_orderkey")),
          stateCols = Seq("o_orderpriority"))
        .select(col("o_custkey").as("custkey"),
                col("o_orderpriority").as("state"),
                col("version"),
                date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
                date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
                col("is_current"))
    }),

    // A-agg baseline (TPC-H Q1 shape): group + multiple exact sums.
    // At 100 TB: partial (map-side) aggregation + single shuffle on the
    // low-cardinality group keys.
    "q1_agg" -> ((s, d) => {
      lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          exactSum(col("l_quantity")).as("sum_qty"),
          exactSum(col("l_extendedprice")).as("sum_base_price"),
          exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }),

    // Dimension joins (J1 shape): both dims are tiny → explicit broadcast,
    // zero shuffle for the joins, one shuffle for the final group.
    "q2_join_dim" -> ((s, d) => {
      customer(s, d)
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_customers"),
             exactSum(col("c_acctbal")).as("sum_bal"))
    }),

    // Large fact-fact equi-join: shuffle join on orderkey (AQE picks
    // broadcast at small SF; sort-merge at scale — both correct).
    "q3_join_fact" -> ((s, d) => {
      lineitem(s, d)
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_orderkey")).as("n_orders"),
             exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
    }),

    // O1: multi-key mixed-direction sort + top-k. Unique (orderkey,
    // linenumber) tiebreak makes the selected set deterministic. TakeOrdered
    // physical op — no full sort materialization.
    "q4_topk" -> ((s, d) => {
      lineitem(s, d)
        .orderBy(col("l_quantity").desc, col("l_extendedprice").desc,
                 col("l_orderkey").asc, col("l_linenumber").asc)
        .limit(100)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
                col("l_extendedprice"))
    }),

    // O2 + A1: name-aligned union + full-row distinct (odds-upsert
    // semantics: re-running a collection is a no-op).
    "q5_union_dedup" -> ((s, d) => {
      val li = lineitem(s, d)
      // second branch with shuffled column order: unionByName must align
      val li2 = li.select(li.columns.reverse.toIndexedSeq.map(col): _*)
      Dedup.distinctUnion(li, li2)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
             exactSum(col("l_quantity")).as("sum_qty"))
    }),

    // A2/W1: keyed dedup keep-latest (newest ts wins, event_id tiebreak).
    "q6_keep_latest" -> ((s, d) => {
      Dedup.keepLatest(events(s, d), Seq("user_id", "event_type"),
                       Seq(col("ts").desc, col("event_id").desc))
        .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
    }),

    // W2: as-of latest snapshot per key at a cutoff.
    "q7_asof" -> ((s, d) => {
      Dedup.asOfLatest(events(s, d), Seq("user_id"), col("ts"),
                       lit("2024-06-01").cast("timestamp"), Seq(col("event_id").desc))
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
    }),

    // A3/W3: exp-weighted mean, decay 0.88 over last 16 per key
    // (reference config.py:3-5 semantics on the events table).
    "q8_ewm" -> ((s, d) => {
      Windows.expWeightedMean(events(s, d), Seq("user_id"),
          Seq(col("ts").desc, col("event_id").desc), col("value"), 0.88, 16)
        .select(col("user_id"), round(col("ewm"), 4).as("ewm"))
    }),

    // W3: rolling mean over a ROWS frame.
    "q9_rolling" -> ((s, d) => {
      events(s, d).select(
        col("user_id"), col("event_id"),
        round(Windows.rollingAvg(Seq("user_id"), Seq(col("ts"), col("event_id")),
                                 col("value"), 2), 4).as("roll_avg"))
    }),

    // Ranking window (reproduces the reference's scraped rank tables).
    "q10_rank" -> ((s, d) => {
      supplier(s, d).select(
        col("s_suppkey"), col("s_nationkey"),
        Windows.rankBy(Seq("s_nationkey"), Seq(col("s_acctbal").desc)).as("rnk"))
    }),

    // J1 reformulated: long→wide pivot with a static value list — ONE
    // shuffle instead of 221 chained joins (SURVEY §2.3 J1 caution).
    "q11_pivot" -> ((s, d) => {
      events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(exactSum(col("value")))
    }),

    // J3 shape: join per-key aggregates to both sides, difference them
    // (the matchup-differential feature pattern).
    "q12_matchup_diff" -> ((s, d) => {
      val c = customer(s, d).groupBy(col("c_nationkey").as("nationkey"))
        .agg(exactSum(col("c_acctbal")).as("c_sum"), count(lit(1)).as("c_n"))
      val sp = supplier(s, d).groupBy(col("s_nationkey").as("nationkey"))
        .agg(exactSum(col("s_acctbal")).as("s_sum"), count(lit(1)).as("s_n"))
      nation(s, d)
        .join(broadcast(c), col("n_nationkey") === c("nationkey"), "left")
        .drop(c("nationkey"))
        .join(broadcast(sp), col("n_nationkey") === sp("nationkey"), "left")
        .drop(sp("nationkey"))
        .select(col("n_name"),
                round(col("c_sum") / col("c_n") - col("s_sum") / col("s_n"), 4)
                  .as("bal_differential"))
    }),

    // Tumbling event-time window aggregation (the batch face of the
    // streaming `window()` operator; ↔ the reference's monthly
    // partition boundary, SURVEY §2.9).
    "q46_tumbling_window" -> ((s, d) => {
      events(s, d)
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
                col("event_type"), col("n"), col("sum_value"))
    }),

    // Hierarchical totals: ROLLUP (engine-completeness beyond the
    // reference's flat groupBys).
    "q42_rollup" -> ((s, d) => {
      lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), exactSum(col("l_quantity")).as("sum_qty"))
    }),

    // Dim-enriched fact rollup over the part table (TPC-H Q14 family):
    // broadcast the 2k-row dim, shuffle only combined partials. Also
    // the one query exercising `part`, completing testdata coverage.
    "q87_part_revenue" -> ((s, d) => {
      lineitem(s, d)
        .join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_items"),
             exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
               .as("revenue"),
             round(exactSum(col("p_retailprice")) / count(lit(1)), 4)
               .as("avg_retail"))
    }),

    // Unpivot / melt — the inverse of q11's pivot and the first step
    // of the registry wide-table build, surfaced as its own operator
    // via Spark's native Dataset.unpivot (one Expand, no shuffle until
    // the audit aggregation).
    "q86_unpivot" -> ((s, d) => {
      lineitem(s, d)
        .select(col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .unpivot(Array.empty[org.apache.spark.sql.Column],
                 Array(col("l_quantity"), col("l_extendedprice"),
                       col("l_discount")),
                 "metric", "val")
        .groupBy(col("metric"))
        .agg(count(lit(1)).as("n"), exactSum(col("val")).as("sum_val"))
    }),

    // Set operators (engine completeness — the reference has none):
    // INTERSECT / EXCEPT over distinct key sets. Both plan as
    // left-semi/left-anti joins after a distinct — one exchange per
    // side on the compared key.
    "q80_setops" -> ((s, d) => {
      val o = orders(s, d).select(col("o_custkey").as("custkey")).distinct()
      val c = customer(s, d).filter(col("c_acctbal") > 0)
        .select(col("c_custkey").as("custkey"))
      // Checksums accumulate in DECIMAL(38,0) (same ANSI-overflow
      // guard as Components.dedupGroups — a long accumulator throws
      // mid-aggregation for snowflake-scale keys); DuckDB already
      // sums in HUGEINT, so only the Spark side needs the cast.
      val keySum =
        sum(col("custkey").cast("decimal(38,0)")).cast("long")
      val inter = o.intersect(c)
        .agg(count(lit(1)).as("n"), keySum.as("key_checksum"))
        .withColumn("kind", lit("intersect"))
      val exc = o.except(c)
        .agg(count(lit(1)).as("n"), keySum.as("key_checksum"))
        .withColumn("kind", lit("except"))
      inter.unionByName(exc)
    }),

    // Approximate percentile sketch (KLL/GK-family) next to the exact
    // value, q36's envelope pattern: the estimate is engine-specific,
    // so the hash contract is the EXACT percentile plus the sketch
    // landing within 5% — a red row means the sketch broke, not
    // wobbled. At 100 TB the sketch is the only viable path (exact
    // percentile is a full sort); this query keeps it honest.
    "q81_approx_percentile" -> ((s, d) => {
      events(s, d).groupBy(col("event_type")).agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50_exact"),
        percentile_approx(col("value"), lit(0.5), lit(2000)).as("__approx"),
        count(lit(1)).as("n"))
        .select(col("event_type"), col("p50_exact"), col("n"),
          (abs(col("__approx") - col("p50_exact")) <=
            abs(col("p50_exact")) * 0.05 + lit(0.05)).as("approx_within_5pct"))
    }),

    // Sliding (overlapping) windows: 1-day width, 12-hour slide — every
    // event lands in exactly two windows {floor_12h(ts), floor_12h(ts)
    // - 12h}. Spark's window() generator replicates rows map-side, then
    // the same partial-agg + single exchange as the tumbling q46.
    "q78_sliding_window" -> ((s, d) => {
      events(s, d)
        .groupBy(window(col("ts"), "1 day", "12 hours").as("w"),
                 col("event_type"))
        .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("w_start"),
                col("event_type"), col("n"), col("sum_value"))
    }),

    // Full grouping-sets lattice: CUBE + grouping_id (disambiguates a
    // real NULL key from a subtotal row). Same single-exchange shape as
    // the rollup — Spark expands the sets map-side and partially
    // aggregates before the shuffle.
    "q76_cube" -> ((s, d) => {
      lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"),
             count(lit(1)).as("n"), exactSum(col("l_quantity")).as("sum_qty"))
    }),

    // Distribution windows: ntile quartiles + percent_rank + cume_dist
    // per nation, with a unique tiebreak so every engine ranks
    // identically. One exchange shared by all three functions.
    "q77_ntile" -> ((s, d) => {
      val w = Window.partitionBy(col("s_nationkey"))
        .orderBy(col("s_acctbal").desc, col("s_suppkey").asc)
      supplier(s, d).select(
        col("s_suppkey"), col("s_nationkey"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cum_dist"))
    }),

    // Semi/anti joins (EXISTS / NOT EXISTS shapes).
    "q43_semi_anti" -> ((s, d) => {
      val o = orders(s, d)
      val li = lineitem(s, d).select(col("l_orderkey"))
      val semi = o.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
        .withColumn("kind", lit("semi"))
      val anti = o.join(li, col("o_orderkey") === col("l_orderkey"), "left_anti")
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
        .withColumn("kind", lit("anti"))
      semi.unionByName(anti)
    }),

    // Sessionization: 30-min-gap session ids per user (lag + running
    // sum), aggregated per session. Millisecond epoch arithmetic keeps
    // both engines integer-exact.
    "q44_sessionize" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gapMs = unix_millis(col("ts")) - lag(unix_millis(col("ts")), 1).over(w)
      events(s, d)
        .withColumn("new_sess",
          when(gapMs.isNull || gapMs > 30L * 60 * 1000, 1).otherwise(0))
        .withColumn("session_id",
          sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
             min(col("event_id")).as("first_event"),
             max(col("event_id")).as("last_event"),
             exactSum(col("value")).as("sum_value"))
    }),

    // Exact interpolated percentiles per group.
    "q45_percentiles" -> ((s, d) => {
      events(s, d)
        .groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.5)"), 4).as("p50"),
             round(expr("percentile(value, 0.9)"), 4).as("p90"),
             count(lit(1)).as("n"))
    }),

    // W3 analytic: lag-based deltas (the reference's *_delta training
    // columns, config.py:100-adjacent).
    "q41_lag_delta" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, d).select(
        col("user_id"), col("event_id"),
        round(col("value") - lag(col("value"), 1).over(w), 4).as("value_delta"))
    }),

    // Skew-resistant two-phase aggregation: identical results to a
    // plain groupBy (the oracle IS the plain groupBy), hot keys spread
    // over 32 salt buckets. Decimal-routed sums keep it order-exact.
    "q39_salted_agg" -> ((s, d) => {
      Skew.saltedSumCount(events(s, d), Seq("event_type"),
          Map("sum_value" -> col("value").cast(
            org.apache.spark.sql.types.DecimalType(30, 6))), 32)
        .select(col("event_type"), col("cnt"),
                col("sum_value").cast("double").as("sum_value"))
    }),

    // As-of backward join (union-window formulation, one shuffle): each
    // purchase gets the newest signup at-or-before it per user. Oracle
    // is DuckDB's native ASOF JOIN.
    "q38_asof_join" -> ((s, d) => {
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("event_id").as("signup_event_id"))
      AsOfJoin.asOfBackward(purchases, signups, Seq("user_id"), "ts", "ts",
                            Seq("signup_event_id"))
        .select(col("event_id"), col("user_id"), col("signup_event_id"))
    }),

    // K2-shaped MERGE semantics as a pure query: updates (version 2)
    // overwrite matching keys of existing (version 1), newest wins.
    "q34_upsert_merge" -> ((s, d) => {
      val existing = lineitem(s, d).withColumn("version", lit(1))
      val updates = lineitem(s, d)
        .filter(col("l_orderkey") % 10 === 0)
        .withColumn("l_quantity", col("l_quantity") + 100)
        .withColumn("version", lit(2))
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
      // a full tiebreak ordering makes the kept row deterministic. The
      // window merge is the general default (one exchange + streaming
      // per-group pick; see Dedup.merge scaladoc for why the
      // aggregation-shaped variant was removed in round 3).
      Dedup.merge(existing, updates, Seq("l_orderkey", "l_linenumber"),
                  Seq(col("version").desc, col("l_quantity").desc,
                      col("l_extendedprice").desc, col("l_discount").desc,
                      col("l_partkey").desc, col("l_suppkey").desc,
                      col("l_shipdate").desc, col("l_returnflag").desc,
                      col("l_linestatus").desc, col("l_tax").desc))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), exactSum(col("l_quantity")).as("sum_qty"))
    }),

    // K2 fast path: a SMALL fresh batch merged into the big table with
    // a broadcast anti-join + union — zero shuffles before the final
    // aggregate (vs q34's general aggregation merge). The upsert shape
    // every collection cycle actually has.
    "q53_small_upsert" -> ((s, d) => {
      val existing = orders(s, d).withColumn("version", lit(1))
      val updates = orders(s, d)
        .filter(col("o_orderkey") % 100 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000)
        .withColumn("version", lit(2))
      Dedup.mergeSmallUpdates(existing, updates, Seq("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
             sum(col("version")).as("sum_version"),
             exactSum(col("o_totalprice")).as("sum_price"))
    }),

    // K2 at BUCKETED scale: generic keyed MERGE over hash-bucketed
    // state (SURVEY §7.4) — three out-of-order batches fold into a
    // bucket-partitioned store (only touched buckets read/rewritten),
    // one batch REPLAYED to prove idempotence, and the final state
    // must hash-match the oracle's single keep-latest over all events
    // (merge chain == full rebuild). Batches split by event_id % 3, so
    // no batch is "newest" for its keys — the general merge path, not
    // the newest-batch fast path.
    // NOTE (bench semantics): the merge/rescale chain below runs
    // EAGERLY at DataFrame-construction time (filesystem writes can't
    // be lazy plan nodes), so a timed action on the returned frame
    // measures only the final read-back; the chain cost is the
    // artifact being proven, not the thing being timed.
    "q241_bucketed_merge" -> ((s, d) => {
      val ev = events(s, d)
      val root = java.nio.file.Files
        .createTempDirectory("graft-bucketed-merge").toString
      val order = Seq(col("ts").desc, col("event_id").desc)
      val store = new graft.sources.BucketedStateStore(
        s, root, Seq("user_id", "event_type"), nBuckets = 16)
      store.merge(ev.filter(col("event_id") % 3 === 0), order)
      store.merge(ev.filter(col("event_id") % 3 === 1), order)
      // mid-chain RESCALE 16 -> 24 buckets: contents are
      // bucket-invariant, so the final hash must not move
      val grown = store.rescale(24)
      grown.merge(ev.filter(col("event_id") % 3 === 2), order)
      // replay: newest-wins is idempotent — the hash proves it
      grown.merge(ev.filter(col("event_id") % 3 === 1), order)
      val out = grown.read()
        .select(col("user_id"), col("event_type"), col("event_id"),
                col("value"))
        .pin // pin rows, then reclaim the scratch dir
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      out
    }),

    // A4-adjacent distinct counting (exact — the oracle-checkable form).
    "q35_distinct_stats" -> ((s, d) => {
      orders(s, d).groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"), count(lit(1)).as("n"))
    }),

    // Cardinality-at-scale surface: HLL approx vs exact. The estimate
    // itself is engine-specific, so the oracle-checkable form is the
    // invariant: exact count matches exactly, and the rsd=0.02 HLL
    // estimate lands inside a 10% (5-sigma) envelope — a hash-red row
    // here means the sketch actually broke, not that it wobbled.
    "q36_approx_distinct" -> ((s, d) => {
      orders(s, d).agg(
        approx_count_distinct(col("o_custkey"), 0.02).as("approx_cust"),
        countDistinct(col("o_custkey")).as("exact_cust"))
        .select(col("exact_cust"),
          (abs(col("approx_cust") - col("exact_cust")) <=
            col("exact_cust") * 0.10).as("approx_within_10pct"))
    }),

    // P4 + partition-friendly month rollup: predicate pushed to parquet
    // row-group stats; month string keeps the output timestamp-free.
    "q13_month_filter" -> ((s, d) => {
      lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp"))
        .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
        .agg(count(lit(1)).as("n_items"), exactSum(col("l_quantity")).as("sum_qty"))
    }),

    // Range (interval) join with NO equi key — bucketized into an
    // equi-join (see operators.RangeJoin: naive Spark plans this shape
    // as a broadcast nested loop). Price intervals around a sample of
    // orders, matched against every lineitem price.
    "q61_range_join" -> ((s, d) => {
      val iv = orders(s, d).filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey").as("interval_id"),
                (col("o_totalprice") - 1000.0).as("lo"),
                (col("o_totalprice") + 1000.0).as("hi"))
      val pts = lineitem(s, d).select(col("l_orderkey"), col("l_extendedprice"))
      graft.operators.RangeJoin
        .pointInInterval(pts, col("l_extendedprice"), iv, col("lo"), col("hi"),
                         bucketWidth = 1000.0)
        .groupBy(col("interval_id"))
        .agg(count(lit(1)).as("n_points"),
             sum(col("l_orderkey")).as("key_checksum"))
    }),

    // Cohort retention: cohort = Monday-aligned week of a user's FIRST
    // event (one window pass, no self-join), offset = whole weeks
    // between truncated weeks, distinct active users per (cohort,
    // offset) — the classic event-analytics triangle.
    "q67_retention" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
      events(s, d)
        .select(col("user_id"), col("ts"),
                min(col("ts")).over(w).as("first_ts"))
        .select(col("user_id"),
                date_format(date_trunc("week", col("first_ts")), "yyyy-MM-dd")
                  .as("cohort_week"),
                (datediff(date_trunc("week", col("ts")),
                          date_trunc("week", col("first_ts"))) / 7)
                  .cast("bigint").as("weeks_since"))
        .groupBy(col("cohort_week"), col("weeks_since"))
        .agg(countDistinct(col("user_id")).as("n_active"))
    }),

    // Z-order layout stats: Morton-interleave (part, supp) and verify
    // the min-max rectangle per fixed-width z-bucket — the stats parquet
    // pruning would use after a ZORDER BY layout (operators.ZOrder).
    "q64_zorder" -> ((s, d) => {
      val x = col("l_partkey").bitwiseAND(lit(4095L))
      val y = col("l_suppkey").bitwiseAND(lit(4095L))
      lineitem(s, d)
        .select(col("l_orderkey"), x.as("x"), y.as("y"),
                graft.operators.ZOrder.zValue(x, y, bits = 12).as("zv"))
        .groupBy(shiftright(col("zv"), 12).as("zbucket"))
        .agg(count(lit(1)).as("n"),
             min(col("x")).as("min_x"), max(col("x")).as("max_x"),
             min(col("y")).as("min_y"), max(col("y")).as("max_y"),
             sum(col("l_orderkey")).as("key_checksum"))
    }),

    // Incremental aggregate maintenance: history and a fresh batch are
    // aggregated into mergeable (count, exact-sum) STATES and merged
    // key-wise — the 100 TB rollup pattern that never rescans history.
    // The oracle recomputes the aggregate monolithically over ALL rows,
    // so the hash match proves state-merge ≡ from-scratch aggregation.
    "q72_incremental_agg" -> ((s, d) => {
      val li = lineitem(s, d)
      val keys = Seq("l_returnflag", "l_linestatus")
      val sums = Seq("l_quantity", "l_extendedprice")
      val cutoff = lit("1997-01-01").cast("timestamp")
      val history = graft.operators.IncrementalAgg
        .state(li.filter(col("l_shipdate") < cutoff), keys, sums)
      val batch = graft.operators.IncrementalAgg
        .state(li.filter(col("l_shipdate") >= cutoff), keys, sums)
      graft.operators.IncrementalAgg.readout(
        graft.operators.IncrementalAgg.merge(Seq(history, batch), keys, sums),
        keys, sums)
    }),

    // Murphy decomposition of the Brier score for the q137/q138
    // forecaster (scaled total price as an 'F'-status probability):
    // exact per-row mean square + reliability/resolution/uncertainty
    // over 10 probability bins, one corpus pass to the bin frame.
    "q226_brier" -> ((s, d) =>
      graft.operators.Eval.brierDecomposition(orders(s, d),
        least(col("o_totalprice").cast("double") / 600000.0, lit(1.0)),
        col("o_orderstatus") === "F", nBins = 10)),

    // CUBE grouping sets over (status, priority): all four
    // granularities in one pass (Expand x4 + one aggregation) with
    // GROUPING flags disambiguating rolled-up NULLs - the OLAP
    // multi-granularity rollup, exact-decimal sums.
    "q228_cube" -> ((s, d) =>
      orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping(col("o_orderstatus")).cast("long").as("g_status"),
             grouping(col("o_orderpriority")).cast("long").as("g_priority"),
             count(lit(1)).as("n"),
             round(sum(round(col("o_totalprice").cast("double") * 1e6, 0)
                 .cast("decimal(19,0)")).cast("double") / 1e6, 6)
               .as("sum_total"))
        .select(col("o_orderstatus").as("status"),
                col("o_orderpriority").as("priority"),
                col("g_status"), col("g_priority"),
                col("n"), col("sum_total")))
  )

  // q97's oracle, one UNION ALL arm per lineitem column (generated, so
  // the column lists can't drift from the arms' shapes).
  private def profileSql(where: String): String = {
    val numCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
                      "l_linenumber", "l_quantity", "l_extendedprice",
                      "l_discount", "l_tax")
    val strCols = Seq("l_returnflag", "l_linestatus")
    val tsCols = Seq("l_shipdate")
    def arm(c: String, mnn: String, mxn: String,
            mns: String, mxs: String) =
      s"""SELECT '$c' AS "column", COUNT($c) AS n_nonnull,
         |  COUNT(DISTINCT $c) AS n_distinct, $mnn AS min_num,
         |  $mxn AS max_num, $mns AS min_str, $mxs AS max_str
         |FROM lineitem$where""".stripMargin
    (numCols.map(c => arm(c, s"CAST(MIN($c) AS DOUBLE)",
                          s"CAST(MAX($c) AS DOUBLE)",
                          "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")) ++
     strCols.map(c => arm(c, "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
                          s"MIN($c)", s"MAX($c)")) ++
     tsCols.map(c => arm(c, s"CAST(epoch(MIN($c)) AS DOUBLE)",
                         s"CAST(epoch(MAX($c)) AS DOUBLE)",
                         "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")))
      .mkString("\nUNION ALL\n")
  }

  private val q97Sql: String = profileSql("")

  // Two-version profile diff: both sides are the q97-verified profile
  // kernel; null-safe equality (IS NOT DISTINCT FROM) so string
  // columns' NULL numeric stats don't read as drift.
  private val q131Sql: String =
    s"""WITH pa AS (${profileSql(" WHERE l_shipdate < TIMESTAMP '1997-01-01'")}),
       |pb AS (${profileSql(" WHERE l_shipdate >= TIMESTAMP '1997-01-01'")})
       |SELECT "column",
       |  pa.n_nonnull AS n_a, pb.n_nonnull AS n_b,
       |  pb.n_nonnull - pa.n_nonnull AS delta_nonnull,
       |  pa.n_distinct AS nd_a, pb.n_distinct AS nd_b,
       |  pb.n_distinct - pa.n_distinct AS delta_distinct,
       |  NOT (pa.min_num IS NOT DISTINCT FROM pb.min_num
       |   AND pa.max_num IS NOT DISTINCT FROM pb.max_num
       |   AND pa.min_str IS NOT DISTINCT FROM pb.min_str
       |   AND pa.max_str IS NOT DISTINCT FROM pb.max_str) AS range_drift
       |FROM pa FULL OUTER JOIN pb USING ("column")""".stripMargin

  // Full SCD2 rebuild over the complete orders log — the oracle for
  // BOTH q99 (direct build) and q108 (incremental merge): the two
  // must be hash-identical.
  // Shared by q124 (direct) and q128 (incremental merge): the oracle
  // always recomputes monolithically over the FULL table, so the q128
  // hash-match proves history-state ⊕ batch-state == full recompute.
  private val corrOracleSql: String = {
    val cs = Seq("l_quantity" -> "q", "l_extendedprice" -> "e",
                 "l_discount" -> "d", "l_tax" -> "t")
    def dcl(c: String) = s"CAST(round($c * 100, 0) AS HUGEINT)"
    val singles = cs.map { case (c, a) =>
      s"CAST(SUM(${dcl(c)}) AS DOUBLE) AS s_$a,\n  CAST(SUM(${dcl(c)} * ${dcl(c)}) AS DOUBLE) AS ss_$a" }
    val pairs = for { i <- cs.indices; j <- cs.indices if i < j }
      yield (cs(i), cs(j))
    val sps = pairs.map { case ((ca, a), (cb, b)) =>
      s"CAST(SUM(${dcl(ca)} * ${dcl(cb)}) AS DOUBLE) AS sp_${a}_$b" }
    val rows = pairs.map { case ((ca, a), (cb, b)) =>
      s"""SELECT '$ca' AS col_a, '$cb' AS col_b, CAST(n AS BIGINT) AS n,
         |  ROUND((n*sp_${a}_$b - s_$a*s_$b) /
         |        (sqrt(n*ss_$a - s_$a*s_$a) * sqrt(n*ss_$b - s_$b*s_$b)), 6) AS corr
         |FROM s""".stripMargin }
    s"""WITH s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |  ${(singles ++ sps).mkString(",\n  ")}
       |  FROM lineitem
       |  WHERE ${cs.map(_._1 + " IS NOT NULL").mkString(" AND ")})
       |${rows.mkString("\nUNION ALL\n")}""".stripMargin
  }

  private val scd2RebuildSql: String =
    """WITH ordered AS (
      |  SELECT o_custkey AS custkey, o_orderpriority AS state,
      |         o_orderdate AS d, o_orderkey AS k,
      |         lag(o_orderpriority) OVER w AS prev,
      |         row_number() OVER w AS rn
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
      |chg AS (
      |  SELECT custkey, state, d, k FROM ordered
      |  WHERE rn = 1 OR state IS DISTINCT FROM prev),
      |iv AS (
      |  SELECT custkey, state,
      |         row_number() OVER w2 AS version,
      |         d AS vf, lead(d) OVER w2 AS vt
      |  FROM chg
      |  WINDOW w2 AS (PARTITION BY custkey ORDER BY d, k))
      |SELECT custkey, state, version,
      |       strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
      |       strftime(vt, '%Y-%m-%d %H:%M:%S') AS valid_to,
      |       (vt IS NULL) AS is_current
      |FROM iv""".stripMargin

  val oracles: Map[String, String] = Map(
    "q97_profile" -> q97Sql,

    "q131_profile_diff" -> q131Sql,

    "q133_weighted_median" ->
      """WITH l AS (SELECT l_returnflag AS flag, l_extendedprice AS v,
        |    CAST(l_quantity AS DECIMAL(30,6)) AS w FROM lineitem),
        |cdf AS (SELECT flag, v, SUM(w) AS wv FROM l GROUP BY 1, 2),
        |c2 AS (SELECT flag, v, wv,
        |    SUM(wv) OVER (PARTITION BY flag ORDER BY v ASC
        |                  ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(wv) OVER (PARTITION BY flag) AS total FROM cdf)
        |SELECT flag, MIN(v) AS weighted_median,
        |  CAST(MIN(total) AS DOUBLE) AS total_weight
        |FROM c2 WHERE cum * 2 >= total GROUP BY flag""".stripMargin,

    // Per-field newest-non-null replayed as two argmax picks; users
    // whose field is all-null stay NULL via the left joins.
    "q134_golden_record" ->
      """WITH ev AS (SELECT user_id, ts, event_id,
        |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v,
        |    CASE WHEN event_id % 5 = 0 THEN NULL ELSE event_type END AS et
        |  FROM events),
        |gv AS (SELECT user_id, v FROM (
        |  SELECT user_id, v, row_number() OVER (
        |      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM ev WHERE v IS NOT NULL) WHERE rn = 1),
        |gt AS (SELECT user_id, et FROM (
        |  SELECT user_id, et, row_number() OVER (
        |      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM ev WHERE et IS NOT NULL) WHERE rn = 1)
        |SELECT u.user_id, ROUND(gv.v, 4) AS golden_value,
        |  gt.et AS golden_type
        |FROM (SELECT DISTINCT user_id FROM ev) u
        |LEFT JOIN gv USING (user_id) LEFT JOIN gt USING (user_id)""".stripMargin,

    "q135_chi_square" ->
      """WITH obs AS (SELECT o_orderpriority AS a, o_orderstatus AS b,
        |    COUNT(*) AS n_obs FROM orders GROUP BY 1, 2),
        |m AS (SELECT a, b, n_obs,
        |    SUM(n_obs) OVER (PARTITION BY a) AS n_a,
        |    SUM(n_obs) OVER (PARTITION BY b) AS n_b,
        |    SUM(n_obs) OVER () AS n FROM obs),
        |t AS (SELECT a, b, n_obs,
        |    CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS expected FROM m),
        |t2 AS (SELECT a, b, n_obs, expected,
        |    (CAST(n_obs AS DOUBLE) - expected) * (CAST(n_obs AS DOUBLE) - expected)
        |      / expected AS term FROM t)
        |SELECT a, b, n_obs, ROUND(expected, 4) AS expected,
        |  ROUND(term, 6) AS chi2_term,
        |  CAST(SUM(CAST(round(term * 1e6) AS BIGINT)) OVER () AS DOUBLE) / 1e6
        |    AS chi2_total
        |FROM t2""".stripMargin,

    // The correlated count is DuckDB's clearest statement of "exact
    // #ref <= x"; its optimizer turns it into a join.
    "q132_relative_rank" ->
      """WITH ref AS (SELECT o_orderpriority AS prio, o_totalprice AS p
        |  FROM orders WHERE year(o_orderdate) <= 1996),
        |n AS (SELECT prio, COUNT(*) AS n_ref FROM ref GROUP BY prio),
        |t AS (SELECT o_orderkey, o_orderpriority AS prio, o_totalprice AS p
        |  FROM orders WHERE year(o_orderdate) = 1997 AND o_orderkey < 2000),
        |cl AS (SELECT t.o_orderkey, t.prio, t.p,
        |    (SELECT COUNT(*) FROM ref r WHERE r.prio = t.prio AND r.p <= t.p)
        |      AS cum_le
        |  FROM t)
        |SELECT o_orderkey, prio AS o_orderpriority, p AS o_totalprice,
        |  ROUND(CAST(cum_le AS DOUBLE) / CAST(n_ref AS DOUBLE), 6)
        |    AS pct_vs_ref
        |FROM cl JOIN n USING (prio)""".stripMargin,

    "q106_time_rolling" ->
      """SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
        |  COUNT(*) OVER w AS n_window,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE), 4)
        |    AS sum_24h
        |FROM events WHERE user_id < 20
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q107_histogram" ->
      """WITH b AS (SELECT
        |  CASE WHEN o_totalprice < 0 THEN -1
        |       WHEN o_totalprice > 500000 THEN 20
        |       ELSE LEAST(CAST(FLOOR((o_totalprice - 0) / 25000.0) AS INT), 19)
        |  END AS bucket, o_totalprice AS x
        |  FROM orders WHERE o_totalprice IS NOT NULL)
        |SELECT bucket,
        |  ROUND(0 + CAST(bucket AS DOUBLE) * 25000.0, 6) AS bucket_lo,
        |  ROUND(0 + (CAST(bucket AS DOUBLE) + 1) * 25000.0, 6) AS bucket_hi,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE) AS sum_x
        |FROM b GROUP BY bucket""".stripMargin,

    "q104_funnel" ->
      """WITH s1 AS (SELECT user_id,
        |    MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t1
        |  FROM events GROUP BY user_id HAVING t1 IS NOT NULL),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2, MIN(s1.t1) AS p2
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1
        |  GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3, MIN(s2.t2) AS p3
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |  GROUP BY e.user_id)
        |SELECT 1 AS step, 'signup' AS step_name,
        |  (SELECT COUNT(*) FROM s1) AS n_users,
        |  CAST(NULL AS DOUBLE) AS conversion_from_prev,
        |  CAST(NULL AS DOUBLE) AS mean_hours_from_prev
        |UNION ALL
        |SELECT 2, 'click', COUNT(*),
        |  ROUND(CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM s1), 4),
        |  ROUND(CAST(SUM(epoch_us(t2) - epoch_us(p2)) AS DOUBLE)
        |        / CAST(COUNT(*) AS DOUBLE) / 3.6e9, 4)
        |FROM s2
        |UNION ALL
        |SELECT 3, 'purchase', COUNT(*),
        |  ROUND(CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM s2), 4),
        |  ROUND(CAST(SUM(epoch_us(t3) - epoch_us(p3)) AS DOUBLE)
        |        / CAST(COUNT(*) AS DOUBLE) / 3.6e9, 4)
        |FROM s3""".stripMargin,

    // Every SUM is CAST to BIGINT: DuckDB's SUM over integers returns
    // HUGEINT, which its pandas bridge renders as float64 — the driver
    // then hashes 15000.0 vs Spark's 15000 and the row mismatches even
    // though the values are equal (the r4 q103/q109 hash-fail cause).
    "q103_expectations" ->
      """SELECT 'not_null_o_orderkey' AS rule, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
        |  SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) = 0 AS pass
        |FROM orders
        |UNION ALL
        |SELECT 'range_o_totalprice', COUNT(*),
        |  CAST(SUM(CASE WHEN NOT (o_totalprice IS NULL
        |        OR (o_totalprice >= 0 AND o_totalprice <= 400000)) THEN 1 ELSE 0 END) AS BIGINT),
        |  SUM(CASE WHEN NOT (o_totalprice IS NULL
        |        OR (o_totalprice >= 0 AND o_totalprice <= 400000)) THEN 1 ELSE 0 END) = 0
        |FROM orders
        |UNION ALL
        |SELECT 'in_set_o_orderstatus', COUNT(*),
        |  CAST(SUM(CASE WHEN NOT (o_orderstatus IS NULL
        |        OR o_orderstatus IN ('O','F','P')) THEN 1 ELSE 0 END) AS BIGINT),
        |  SUM(CASE WHEN NOT (o_orderstatus IS NULL
        |        OR o_orderstatus IN ('O','F','P')) THEN 1 ELSE 0 END) = 0
        |FROM orders
        |UNION ALL
        |SELECT 'matches_o_orderpriority', COUNT(*),
        |  CAST(SUM(CASE WHEN NOT (o_orderpriority IS NULL
        |        OR regexp_matches(o_orderpriority, '^[1-5]-')) THEN 1 ELSE 0 END) AS BIGINT),
        |  SUM(CASE WHEN NOT (o_orderpriority IS NULL
        |        OR regexp_matches(o_orderpriority, '^[1-5]-')) THEN 1 ELSE 0 END) = 0
        |FROM orders
        |UNION ALL
        |SELECT 'unique_o_orderkey', CAST(SUM(c) AS BIGINT),
        |  CAST(SUM(c - 1) AS BIGINT), SUM(c - 1) = 0
        |FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)
        |UNION ALL
        |SELECT 'fk_lineitem_orders',
        |  (SELECT COUNT(*) FROM lineitem),
        |  CAST(COALESCE((SELECT SUM(c) FROM
        |    (SELECT l_orderkey AS k, COUNT(*) AS c FROM lineitem
        |     WHERE l_orderkey IS NOT NULL GROUP BY l_orderkey) ck
        |    WHERE k NOT IN (SELECT o_orderkey FROM orders)), 0) AS BIGINT),
        |  COALESCE((SELECT SUM(c) FROM
        |    (SELECT l_orderkey AS k, COUNT(*) AS c FROM lineitem
        |     WHERE l_orderkey IS NOT NULL GROUP BY l_orderkey) ck
        |    WHERE k NOT IN (SELECT o_orderkey FROM orders)), 0) = 0""".stripMargin,

    "q111_impute" ->
      """WITH w AS (SELECT c_custkey, c_nationkey,
        |  CASE WHEN c_custkey % 11 = 0 THEN NULL
        |       ELSE CAST(c_acctbal AS DOUBLE) END AS bal
        |  FROM customer),
        |m AS (SELECT c_nationkey, ROUND(quantile_cont(bal, 0.5), 4) AS med
        |  FROM w WHERE bal IS NOT NULL GROUP BY c_nationkey)
        |SELECT c_custkey, w.c_nationkey,
        |  ROUND(COALESCE(bal, med), 4) AS bal_imputed,
        |  (bal IS NULL) AS was_imputed
        |FROM w LEFT JOIN m ON w.c_nationkey = m.c_nationkey""".stripMargin,

    "q112_psi" ->
      """WITH ref AS (SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
        |  WHERE year(o_orderdate) = 1995 AND o_totalprice IS NOT NULL),
        |live AS (SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
        |  WHERE year(o_orderdate) = 1997 AND o_totalprice IS NOT NULL),
        |ba AS (SELECT CASE WHEN x < 0 THEN -1 WHEN x > 500000 THEN 20
        |    ELSE LEAST(CAST(FLOOR((x - 0) / 25000.0) AS INT), 19) END AS bucket,
        |    COUNT(*) AS n_ref FROM ref GROUP BY 1),
        |bb AS (SELECT CASE WHEN x < 0 THEN -1 WHEN x > 500000 THEN 20
        |    ELSE LEAST(CAST(FLOOR((x - 0) / 25000.0) AS INT), 19) END AS bucket,
        |    COUNT(*) AS n_live FROM live GROUP BY 1),
        |j AS (SELECT COALESCE(ba.bucket, bb.bucket) AS bucket,
        |    COALESCE(n_ref, 0) AS n_ref, COALESCE(n_live, 0) AS n_live
        |  FROM ba FULL OUTER JOIN bb ON ba.bucket = bb.bucket),
        |t AS (SELECT SUM(n_ref) AS ta, SUM(n_live) AS tb FROM j),
        |terms AS (SELECT bucket, n_ref, n_live,
        |    GREATEST(CAST(n_ref AS DOUBLE) / CAST(ta AS DOUBLE), 1e-6) AS p_ref,
        |    GREATEST(CAST(n_live AS DOUBLE) / CAST(tb AS DOUBLE), 1e-6) AS p_live
        |  FROM j CROSS JOIN t),
        |terms2 AS (SELECT *, (p_ref - p_live) * ln(p_ref / p_live) AS psi_term
        |  FROM terms),
        |tot AS (SELECT CAST(SUM(CAST(round(psi_term * 1e12) AS BIGINT)) AS DOUBLE)
        |    / 1e12 AS psi FROM terms2)
        |SELECT bucket, n_ref, n_live,
        |  ROUND(p_ref, 6) AS p_ref, ROUND(p_live, 6) AS p_live,
        |  ROUND(psi_term, 6) AS psi_term, ROUND(psi, 6) AS psi_total
        |FROM terms2 CROSS JOIN tot""".stripMargin,

    "q109_winsorize" ->
      """WITH t AS (SELECT c_nationkey AS k, CAST(c_acctbal AS DOUBLE) AS x
        |  FROM customer WHERE c_acctbal IS NOT NULL),
        |th AS (SELECT k, ROUND(quantile_cont(x, 0.05), 4) AS p_lo,
        |              ROUND(quantile_cont(x, 0.95), 4) AS p_hi
        |  FROM t GROUP BY k)
        |SELECT t.k AS c_nationkey, COUNT(*) AS n,
        |  MIN(p_lo) AS p_lo, MIN(p_hi) AS p_hi,
        |  CAST(SUM(CASE WHEN x < p_lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_lo,
        |  CAST(SUM(CASE WHEN x > p_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_hi,
        |  CAST(SUM(CAST(LEAST(GREATEST(x, p_lo), p_hi) AS DECIMAL(30,6)))
        |       AS DOUBLE) AS winsorized_sum
        |FROM t JOIN th USING (k) GROUP BY t.k""".stripMargin,

    "q118_target_encode" ->
      """WITH pc AS (SELECT o_orderpriority,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_cat,
        |    COUNT(o_totalprice) AS n_cat
        |  FROM orders GROUP BY o_orderpriority),
        |g AS (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |          / CAST(COUNT(o_totalprice) AS DOUBLE) AS mu FROM orders)
        |SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  ROUND((sum_cat - CAST(o_totalprice AS DOUBLE) + 10.0 * mu)
        |        / (CAST(n_cat AS DOUBLE) - 1.0 + 10.0), 4) AS target_enc
        |FROM orders JOIN pc USING (o_orderpriority) CROSS JOIN g
        |WHERE o_orderkey < 1000""".stripMargin,

    // Integer-quantized (×100, exact for 2-dp measures) sufficient
    // statistics in HUGEINT — Pearson is scale-invariant, so the
    // correlation equals the unscaled one while every sum is exact
    // integer arithmetic; closed form in doubles with the same
    // operation order as Profiler.corrMatrix.
    "q124_corr_matrix" -> corrOracleSql,

    // The INCREMENTAL state-merge path must hash-equal the monolithic
    // recompute — the q72/q108 statement for second moments.
    "q128_incremental_corr" -> corrOracleSql,

    // Spark dayofweek is 1-based (Sunday=1), DuckDB's 0-based — hence
    // the +1; moments quantize at 1e6 into HUGEINT (xq² can exceed
    // int64 at value≈560).
    "q130_seasonal_anomaly" ->
      """WITH ev AS (SELECT event_id,
        |    CAST(dayofweek(ts) + 1 AS INT) AS dow,
        |    CAST(hour(ts) AS INT) AS hr, value,
        |    CAST(round(value * 1e6) AS HUGEINT) AS xq FROM events),
        |b AS (SELECT dow, hr, COUNT(*) AS n, SUM(xq) AS sx,
        |    SUM(xq * xq) AS sxx FROM ev GROUP BY 1, 2),
        |m AS (SELECT dow, hr,
        |    CAST(sx AS DOUBLE) / (1e6 * CAST(n AS DOUBLE)) AS mean,
        |    sqrt(CAST(sxx AS DOUBLE) / (1e12 * CAST(n AS DOUBLE))
        |         - (CAST(sx AS DOUBLE) / (1e6 * CAST(n AS DOUBLE)))
        |           * (CAST(sx AS DOUBLE) / (1e6 * CAST(n AS DOUBLE)))) AS std
        |  FROM b)
        |SELECT event_id, ev.dow, ev.hr, ROUND(value, 4) AS value,
        |  ROUND(mean, 4) AS baseline_mean, ROUND(std, 4) AS baseline_std,
        |  ROUND((value - mean) / NULLIF(std, 0.0), 4) AS resid_z,
        |  (abs((value - mean) / NULLIF(std, 0.0)) > 3.0) AS is_anomaly
        |FROM ev JOIN m USING (dow, hr) WHERE event_id < 1000""".stripMargin,

    // Rank-formula Gini with deterministic tie-break (cnt ASC, key
    // ASC), Σ(i·cᵢ) exact in HUGEINT before the double closed form.
    "q129_skew_profile" ->
      """WITH counts AS (SELECT user_id AS key, COUNT(*) AS cnt
        |  FROM events GROUP BY user_id),
        |r AS (SELECT key, cnt,
        |    row_number() OVER (ORDER BY cnt ASC, key ASC) AS i FROM counts),
        |s AS (SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |    MAX(cnt) AS max_cnt,
        |    CAST(SUM(CAST(i AS HUGEINT) * cnt) AS DOUBLE) AS ic FROM r),
        |sm AS (SELECT n_keys, n_rows,
        |    ROUND(CAST(max_cnt AS DOUBLE)
        |          / (CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE)), 4)
        |      AS max_to_mean,
        |    ROUND(2.0 * ic / (CAST(n_keys AS DOUBLE) * CAST(n_rows AS DOUBLE))
        |          - (CAST(n_keys AS DOUBLE) + 1.0) / CAST(n_keys AS DOUBLE), 6)
        |      AS gini
        |  FROM s)
        |SELECT rank, key, n_rows_key,
        |  ROUND(CAST(n_rows_key AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
        |    AS key_frac,
        |  n_keys, n_rows, max_to_mean, gini
        |FROM (SELECT key, cnt AS n_rows_key,
        |        row_number() OVER (ORDER BY cnt DESC, key ASC) AS rank
        |      FROM counts) t CROSS JOIN sm
        |WHERE rank <= 10""".stripMargin,

    "q139_pr_curve" ->
      """WITH t AS (SELECT unnest([0.0, 50000.0, 100000.0, 150000.0, 200000.0,
        |    250000.0, 300000.0, 350000.0, 400000.0, 450000.0, 500000.0])
        |    AS threshold),
        |s AS (SELECT o_totalprice AS x,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y FROM orders),
        |c AS (SELECT threshold,
        |    CAST(SUM(CASE WHEN x >= threshold THEN y ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN x >= threshold THEN 1 - y ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(SUM(CASE WHEN x < threshold THEN y ELSE 0 END) AS BIGINT) AS fn
        |  FROM s CROSS JOIN t GROUP BY threshold)
        |SELECT threshold, tp, fp, fn,
        |  ROUND(CAST(tp AS DOUBLE) / NULLIF(CAST(tp + fp AS DOUBLE), 0), 6)
        |    AS precision,
        |  ROUND(CAST(tp AS DOUBLE) / NULLIF(CAST(tp + fn AS DOUBLE), 0), 6)
        |    AS recall,
        |  ROUND(2.0 * CAST(tp AS DOUBLE)
        |        / NULLIF(CAST(2 * tp + fp + fn AS DOUBLE), 0), 6) AS f1
        |FROM c""".stripMargin,

    "q140_group_fairness" ->
      """WITH j AS (SELECT c.c_mktsegment AS grp, o.o_totalprice AS x,
        |    CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
        |    CASE WHEN o.o_totalprice >= 200000.0 THEN 1 ELSE 0 END AS p
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
        |SELECT grp, COUNT(*) AS n,
        |  ROUND(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS base_rate,
        |  ROUND(CAST(SUM(p) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS selection_rate,
        |  ROUND(CAST(SUM(y * p) AS DOUBLE)
        |        / NULLIF(CAST(SUM(y) AS DOUBLE), 0), 6) AS tpr,
        |  ROUND(CAST(SUM((1 - y) * p) AS DOUBLE)
        |        / NULLIF(CAST(COUNT(*) - SUM(y) AS DOUBLE), 0), 6) AS fpr
        |FROM j GROUP BY grp""".stripMargin,

    "q137_auc" ->
      """WITH s AS (SELECT o_totalprice AS score,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y FROM orders),
        |g AS (SELECT score, CAST(SUM(y) AS BIGINT) AS pos_s,
        |    CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg_s FROM s GROUP BY score),
        |c AS (SELECT score, pos_s, neg_s,
        |    COALESCE(SUM(neg_s) OVER (ORDER BY score ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
        |  FROM g),
        |t AS (SELECT CAST(SUM(pos_s) AS DOUBLE) AS p,
        |    CAST(SUM(neg_s) AS DOUBLE) AS n,
        |    CAST(SUM(neg_below * pos_s) AS DOUBLE) AS ub,
        |    CAST(SUM(pos_s * neg_s) AS DOUBLE) AS ut FROM c)
        |SELECT CAST(p AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n_neg,
        |  ROUND((ub + 0.5 * ut) / (p * n), 6) AS auc FROM t""".stripMargin,

    "q138_calibration" ->
      """WITH b AS (SELECT
        |  CASE WHEN o_totalprice < 0 THEN -1
        |       WHEN o_totalprice > 500000 THEN 10
        |       ELSE LEAST(CAST(FLOOR((o_totalprice - 0) / 50000.0) AS INT), 9)
        |  END AS bin, o_totalprice AS x,
        |  CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        |  FROM orders WHERE o_totalprice IS NOT NULL)
        |SELECT bin, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE)
        |        / CAST(COUNT(*) AS DOUBLE), 4) AS mean_score,
        |  CAST(SUM(y) AS BIGINT) AS n_pos,
        |  ROUND(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS pos_rate
        |FROM b GROUP BY bin""".stripMargin,

    "q136_jw_linkage" ->
      """WITH c AS (SELECT c_custkey, c_name, c_nationkey FROM customer
        |  WHERE c_custkey < 200)
        |SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  ROUND(jaro_winkler_similarity(a.c_name, b.c_name), 4) AS jw
        |FROM c a JOIN c b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |WHERE ROUND(jaro_winkler_similarity(a.c_name, b.c_name), 4) >= 0.97""".stripMargin,

    "q125_fuzzy_linkage" ->
      """WITH c AS (SELECT c_custkey, c_name, c_nationkey FROM customer
        |  WHERE c_custkey < 200)
        |SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  a.c_name AS name_a, b.c_name AS name_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
        |FROM c a JOIN c b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin,

    // Fellegi-Sunter: u from the value histogram (integer ratio), each
    // weight ONE ln of a fixed-order double ratio (the 1-m / 1-u
    // complements forced through IEEE double subtraction to match the
    // engine's constant folding), 3-term sum in declaration order,
    // 6-dp round BEFORE the threshold.
    "q234_fellegi_sunter" ->
      """WITH c AS (SELECT c_custkey AS id, c_mktsegment AS blk,
        |    c_nationkey AS f0, substring(c_name, 1, 12) AS f1,
        |    c_acctbal > 0 AS f2
        |  FROM customer WHERE c_custkey < 200),
        |u0 AS (SELECT CAST(SUM(n*n) AS DOUBLE)
        |    / CAST(SUM(n) * SUM(n) AS DOUBLE) AS u0
        |  FROM (SELECT COUNT(*) AS n FROM c GROUP BY f0)),
        |u1 AS (SELECT CAST(SUM(n*n) AS DOUBLE)
        |    / CAST(SUM(n) * SUM(n) AS DOUBLE) AS u1
        |  FROM (SELECT COUNT(*) AS n FROM c GROUP BY f1)),
        |u2 AS (SELECT CAST(SUM(n*n) AS DOUBLE)
        |    / CAST(SUM(n) * SUM(n) AS DOUBLE) AS u2
        |  FROM (SELECT COUNT(*) AS n FROM c GROUP BY f2)),
        |p AS (SELECT a.id AS id_a, b.id AS id_b,
        |    a.f0 IS NOT DISTINCT FROM b.f0 AS g_nation,
        |    a.f1 IS NOT DISTINCT FROM b.f1 AS g_name_pfx,
        |    a.f2 IS NOT DISTINCT FROM b.f2 AS g_bal_pos
        |  FROM c a JOIN c b ON a.blk = b.blk AND a.id < b.id),
        |s AS (SELECT id_a, id_b, g_nation, g_name_pfx, g_bal_pos,
        |  ROUND(
        |    (CASE WHEN g_nation THEN ln(0.95 / u0)
        |      ELSE ln((CAST(1 AS DOUBLE) - 0.95)
        |              / (CAST(1 AS DOUBLE) - u0)) END)
        |    + (CASE WHEN g_name_pfx THEN ln(0.9 / u1)
        |      ELSE ln((CAST(1 AS DOUBLE) - 0.9)
        |              / (CAST(1 AS DOUBLE) - u1)) END)
        |    + (CASE WHEN g_bal_pos THEN ln(0.8 / u2)
        |      ELSE ln((CAST(1 AS DOUBLE) - 0.8)
        |              / (CAST(1 AS DOUBLE) - u2)) END), 6) AS score
        |  FROM p CROSS JOIN u0 CROSS JOIN u1 CROSS JOIN u2)
        |SELECT id_a, id_b, g_nation, g_name_pfx, g_bal_pos, score,
        |  score >= 3.0 AS is_match
        |FROM s""".stripMargin,

    // Ties at equal t: the -1 sorts first (half-open intervals); rows
    // tied on (t, dd) carry the same delta so the cumsum VALUE
    // sequence is deterministic regardless of their internal order.
    "q126_max_concurrent" ->
      """WITH d AS (
        |  SELECT event_type, ts AS t, 1 AS dd FROM events
        |  UNION ALL
        |  SELECT event_type, ts + INTERVAL 1 HOUR, -1 FROM events),
        |c AS (SELECT event_type, t, dd,
        |    SUM(dd) OVER (PARTITION BY event_type ORDER BY t ASC, dd ASC
        |                  ROWS UNBOUNDED PRECEDING) AS conc
        |  FROM d),
        |p AS (SELECT event_type, MAX(conc) AS peak FROM c GROUP BY 1)
        |SELECT c.event_type, CAST(p.peak AS BIGINT) AS peak_concurrent,
        |  strftime(MIN(CASE WHEN conc = peak THEN t END),
        |           '%Y-%m-%d %H:%M:%S.%f') AS peak_at
        |FROM c JOIN p USING (event_type) GROUP BY c.event_type, p.peak""".stripMargin,

    "q119_mad_score" ->
      """WITH t AS (SELECT c_custkey, c_nationkey, CAST(c_acctbal AS DOUBLE) AS x
        |  FROM customer WHERE c_acctbal IS NOT NULL),
        |m AS (SELECT c_nationkey, ROUND(quantile_cont(x, 0.5), 4) AS med
        |  FROM t GROUP BY c_nationkey),
        |d AS (SELECT t.c_custkey, t.c_nationkey, t.x, m.med
        |  FROM t JOIN m USING (c_nationkey)),
        |md AS (SELECT c_nationkey, ROUND(quantile_cont(abs(x - med), 0.5), 4) AS mad
        |  FROM d GROUP BY c_nationkey)
        |SELECT c_custkey, d.c_nationkey, x AS c_acctbal, med, mad,
        |  ROUND((x - med) / (1.4826 * NULLIF(mad, 0.0)), 4) AS robust_z
        |FROM d JOIN md USING (c_nationkey)
        |WHERE c_custkey < 300""".stripMargin,

    "q99_scd2" -> scd2RebuildSql,

    // The INCREMENTAL merge must hash-equal the full rebuild — the
    // strongest statement the gate can make about Scd.merge.
    "q108_scd2_merge" -> scd2RebuildSql,
    // Monolithic recompute over ALL lineitem rows — must hash-equal the
    // engine's history⊕batch state merge (IncrementalAgg).
    "q72_incremental_agg" ->
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
         |${dsum("l_quantity")} AS sum_l_quantity,
         |ROUND(${dsum("l_quantity")} / COUNT(*), 4) AS avg_l_quantity,
         |${dsum("l_extendedprice")} AS sum_l_extendedprice,
         |ROUND(${dsum("l_extendedprice")} / COUNT(*), 4) AS avg_l_extendedprice
         |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |${dsum("l_quantity")} AS sum_qty,
         |${dsum("l_extendedprice")} AS sum_base_price,
         |${dsum("l_extendedprice*(1.0-l_discount)")} AS sum_disc_price,
         |COUNT(*) AS count_order
         |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q2_join_dim" ->
      s"""SELECT r_name, COUNT(*) AS n_customers, ${dsum("c_acctbal")} AS sum_bal
         |FROM customer JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name""".stripMargin,

    "q3_join_fact" ->
      s"""SELECT o_orderpriority, COUNT(DISTINCT o_orderkey) AS n_orders,
         |${dsum("l_extendedprice*(1.0-l_discount)")} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority""".stripMargin,

    "q4_topk" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |ORDER BY l_quantity DESC, l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 100""".stripMargin,

    "q5_union_dedup" ->
      s"""SELECT l_returnflag, COUNT(*) AS n_rows, ${dsum("l_quantity")} AS sum_qty
         |FROM (SELECT DISTINCT * FROM
         |  (SELECT * FROM lineitem UNION ALL SELECT * FROM lineitem))
         |GROUP BY l_returnflag""".stripMargin,

    "q6_keep_latest" ->
      """SELECT user_id, event_type, event_id, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1""".stripMargin,

    // q241: the bucketed merge chain (with one replayed batch) must
    // equal ONE keep-latest over the full log — the full-rebuild proof.
    "q241_bucketed_merge" ->
      """SELECT user_id, event_type, event_id, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1""".stripMargin,

    "q7_asof" ->
      """SELECT user_id, event_id, event_type, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE ts <= TIMESTAMP '2024-06-01')
        |WHERE rn = 1""".stripMargin,

    "q8_ewm" ->
      """SELECT user_id, ROUND(SUM(w*value)/SUM(w), 4) AS ewm FROM (
        |  SELECT user_id, value, POWER(0.88, rn-1) AS w FROM (
        |    SELECT user_id, value, row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |  WHERE rn <= 16)
        |GROUP BY user_id""".stripMargin,

    "q9_rolling" ->
      """SELECT user_id, event_id,
        |ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS roll_avg
        |FROM events""".stripMargin,

    "q10_rank" ->
      """SELECT s_suppkey, s_nationkey,
        |rank() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC) AS rnk
        |FROM supplier""".stripMargin,

    "q11_pivot" ->
      s"""SELECT user_id,
         |${dsum("CASE WHEN event_type='click' THEN value END")} AS click,
         |${dsum("CASE WHEN event_type='error' THEN value END")} AS error,
         |${dsum("CASE WHEN event_type='purchase' THEN value END")} AS purchase,
         |${dsum("CASE WHEN event_type='signup' THEN value END")} AS signup,
         |${dsum("CASE WHEN event_type='view' THEN value END")} AS view
         |FROM events GROUP BY user_id""".stripMargin,

    "q12_matchup_diff" ->
      s"""SELECT n_name, ROUND(c_sum/c_n - s_sum/s_n, 4) AS bal_differential
         |FROM nation
         |LEFT JOIN (SELECT c_nationkey AS cnk, ${dsum("c_acctbal")} AS c_sum,
         |  COUNT(*) AS c_n FROM customer GROUP BY c_nationkey) c ON n_nationkey = cnk
         |LEFT JOIN (SELECT s_nationkey AS snk, ${dsum("s_acctbal")} AS s_sum,
         |  COUNT(*) AS s_n FROM supplier GROUP BY s_nationkey) s ON n_nationkey = snk""".stripMargin,

    "q39_salted_agg" ->
      s"""SELECT event_type, COUNT(*) AS cnt, ${dsum("value")} AS sum_value
         |FROM events GROUP BY event_type""".stripMargin,

    "q46_tumbling_window" ->
      s"""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         |event_type, COUNT(*) AS n, ${dsum("value")} AS sum_value
         |FROM events GROUP BY 1, 2""".stripMargin,

    "q42_rollup" ->
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         |${dsum("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q87_part_revenue" ->
      s"""SELECT p_brand, COUNT(*) AS n_items,
         |${dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
         |ROUND(${dsum("p_retailprice")} / COUNT(*), 4) AS avg_retail
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand""".stripMargin,

    "q86_unpivot" ->
      s"""SELECT metric, COUNT(*) AS n, ${dsum("val")} AS sum_val FROM (
         |  SELECT 'l_quantity' AS metric, l_quantity AS val FROM lineitem
         |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
         |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem)
         |GROUP BY metric""".stripMargin,

    "q80_setops" ->
      """WITH o AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
        |c AS (SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 0)
        |SELECT COUNT(*) AS n, CAST(SUM(custkey) AS BIGINT) AS key_checksum,
        |  'intersect' AS kind
        |FROM (SELECT * FROM o INTERSECT SELECT * FROM c)
        |UNION ALL
        |SELECT COUNT(*), CAST(SUM(custkey) AS BIGINT), 'except'
        |FROM (SELECT * FROM o EXCEPT SELECT * FROM c)""".stripMargin,

    // the sketch estimate is engine-specific; the hash contract is the
    // exact percentile + the within-envelope flag (cf. q36).
    "q81_approx_percentile" ->
      """SELECT event_type, ROUND(quantile_cont(value, 0.5), 4) AS p50_exact,
        |COUNT(*) AS n, TRUE AS approx_within_5pct
        |FROM events GROUP BY event_type""".stripMargin,

    // every event belongs to windows starting at floor_12h(ts) and
    // floor_12h(ts) - 12h (always both: ts < start + 24h holds for
    // each); make_timestamp keeps the arithmetic in plain-UTC µs so
    // no session-timezone conversion can skew the window labels.
    "q78_sliding_window" ->
      s"""WITH e AS (SELECT event_type, value,
         |  (epoch_ms(ts) // 1000 // 43200) * 43200 AS w0 FROM events),
         |x AS (SELECT event_type, value,
         |  unnest([w0, w0 - 43200]) AS ws FROM e)
         |SELECT strftime(make_timestamp(ws * 1000000), '%Y-%m-%d %H:%M')
         |  AS w_start, event_type, COUNT(*) AS n,
         |${dsum("value")} AS sum_value
         |FROM x GROUP BY 1, 2""".stripMargin,

    "q76_cube" ->
      s"""SELECT l_returnflag, l_linestatus,
         |GROUPING(l_returnflag, l_linestatus) AS gid, COUNT(*) AS n,
         |${dsum("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    "q77_ntile" ->
      """SELECT s_suppkey, s_nationkey,
        |ntile(4) OVER w AS quartile,
        |ROUND(percent_rank() OVER w, 6) AS pct_rank,
        |ROUND(cume_dist() OVER w, 6) AS cum_dist
        |FROM supplier
        |WINDOW w AS (PARTITION BY s_nationkey
        |             ORDER BY s_acctbal DESC, s_suppkey ASC)""".stripMargin,

    "q43_semi_anti" ->
      """SELECT o_orderstatus, COUNT(*) AS n, 'semi' AS kind FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |GROUP BY o_orderstatus
        |UNION ALL
        |SELECT o_orderstatus, COUNT(*) AS n, 'anti' AS kind FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |GROUP BY o_orderstatus""".stripMargin,

    "q44_sessionize" ->
      s"""WITH g AS (SELECT user_id, event_id, value,
         |  CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts), 1) OVER
         |    (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         |   OR epoch_ms(ts) - lag(epoch_ms(ts), 1) OVER
         |    (PARTITION BY user_id ORDER BY ts, event_id) > 1800000
         |  THEN 1 ELSE 0 END AS new_sess,
         |  ts FROM events),
         |s AS (SELECT user_id, event_id, value,
         |  CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         |  FROM g)
         |SELECT user_id, session_id, COUNT(*) AS n_events,
         |  MIN(event_id) AS first_event, MAX(event_id) AS last_event,
         |  ${dsum("value")} AS sum_value
         |FROM s GROUP BY user_id, session_id""".stripMargin,

    "q45_percentiles" ->
      """SELECT event_type,
        |ROUND(quantile_cont(value, 0.5), 4) AS p50,
        |ROUND(quantile_cont(value, 0.9), 4) AS p90,
        |COUNT(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,

    "q41_lag_delta" ->
      """SELECT user_id, event_id,
        |ROUND(value - lag(value, 1) OVER (PARTITION BY user_id
        |  ORDER BY ts, event_id), 4) AS value_delta
        |FROM events""".stripMargin,

    "q38_asof_join" ->
      """SELECT p.event_id, p.user_id, s.event_id AS signup_event_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON p.user_id = s.user_id AND p.ts >= s.ts""".stripMargin,

    "q34_upsert_merge" ->
      s"""WITH existing AS (SELECT *, 1 AS version FROM lineitem),
         |updates AS (SELECT * REPLACE (l_quantity+100 AS l_quantity), 2 AS version
         |  FROM lineitem WHERE l_orderkey%10=0),
         |u AS (SELECT * FROM existing UNION ALL SELECT * FROM updates),
         |r AS (SELECT *, row_number() OVER (PARTITION BY l_orderkey, l_linenumber
         |  ORDER BY version DESC, l_quantity DESC, l_extendedprice DESC,
         |  l_discount DESC, l_partkey DESC, l_suppkey DESC, l_shipdate DESC,
         |  l_returnflag DESC, l_linestatus DESC, l_tax DESC) AS rn FROM u)
         |SELECT l_returnflag, COUNT(*) AS n, ${dsum("l_quantity")} AS sum_qty
         |FROM r WHERE rn = 1 GROUP BY l_returnflag""".stripMargin,

    "q35_distinct_stats" ->
      """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust, COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    "q53_small_upsert" ->
      s"""WITH existing AS (SELECT *, 1 AS version FROM orders),
         |updates AS (SELECT * REPLACE (o_totalprice+1000 AS o_totalprice), 2 AS version
         |  FROM orders WHERE o_orderkey%100=0),
         |merged AS (
         |  SELECT * FROM existing e WHERE NOT EXISTS
         |    (SELECT 1 FROM updates u WHERE u.o_orderkey = e.o_orderkey)
         |  UNION ALL SELECT * FROM updates)
         |SELECT o_orderstatus, COUNT(*) AS n,
         |  CAST(SUM(version) AS BIGINT) AS sum_version,
         |  ${dsum("o_totalprice")} AS sum_price
         |FROM merged GROUP BY o_orderstatus""".stripMargin,

    // the HLL estimate is engine-specific; the checkable invariant is
    // the exact count plus the estimate landing inside a 10% envelope.
    "q36_approx_distinct" ->
      """SELECT COUNT(DISTINCT o_custkey) AS exact_cust,
        |TRUE AS approx_within_10pct FROM orders""".stripMargin,

    "q13_month_filter" ->
      s"""SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
         |COUNT(*) AS n_items, ${dsum("l_quantity")} AS sum_qty
         |FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-01-01'
         |GROUP BY 1""".stripMargin,

    "q61_range_join" ->
      """WITH iv AS (SELECT o_orderkey AS interval_id,
        |  o_totalprice - 1000.0 AS lo, o_totalprice + 1000.0 AS hi
        |  FROM orders WHERE o_orderkey % 97 = 0)
        |SELECT interval_id, COUNT(*) AS n_points,
        |  CAST(SUM(l_orderkey) AS BIGINT) AS key_checksum
        |FROM iv JOIN lineitem
        |  ON l_extendedprice >= lo AND l_extendedprice <= hi
        |GROUP BY interval_id""".stripMargin,

    "q67_retention" ->
      """WITH f AS (SELECT user_id, ts,
        |  MIN(ts) OVER (PARTITION BY user_id) AS first_ts FROM events),
        |r AS (SELECT user_id,
        |  strftime(date_trunc('week', first_ts), '%Y-%m-%d') AS cohort_week,
        |  CAST(date_diff('day', date_trunc('week', first_ts),
        |                 date_trunc('week', ts)) / 7 AS BIGINT) AS weeks_since
        |  FROM f)
        |SELECT cohort_week, weeks_since,
        |  COUNT(DISTINCT user_id) AS n_active
        |FROM r GROUP BY 1, 2""".stripMargin,

    "q64_zorder" -> {
      val zbits = (0 until 12).map(b =>
        s"((((x>>$b)&1)<<${2 * b}) | (((y>>$b)&1)<<${2 * b + 1}))")
        .mkString(" | ")
      s"""WITH t AS (SELECT l_orderkey, l_partkey & 4095 AS x,
         |  l_suppkey & 4095 AS y FROM lineitem),
         |z AS (SELECT *, ($zbits) AS zv FROM t)
         |SELECT zv >> 12 AS zbucket, COUNT(*) AS n,
         |  MIN(x) AS min_x, MAX(x) AS max_x,
         |  MIN(y) AS min_y, MAX(y) AS max_y,
         |  CAST(SUM(l_orderkey) AS BIGINT) AS key_checksum
         |FROM z GROUP BY 1""".stripMargin
    },

    "q226_brier" ->
      """WITH r AS (SELECT
        |    round(least(CAST(o_totalprice AS DOUBLE) / 600000.0, 1.0), 9)
        |      AS p,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |rb AS (SELECT p, y,
        |    least(CAST(floor(p * 10) AS INT), 9) AS b FROM r),
        |bins AS (SELECT b, COUNT(*) AS nk,
        |    CAST(SUM(y) AS BIGINT) AS syk,
        |    CAST(SUM(CAST(round(p, 9) AS DECIMAL(38,9))) AS DOUBLE) AS spk,
        |    CAST(SUM(CAST(round((p - y)*(p - y), 9) AS DECIMAL(38,9)))
        |      AS DOUBLE) AS sbk
        |  FROM rb GROUP BY 1),
        |g AS (SELECT CAST(SUM(nk) AS BIGINT) AS n,
        |    CAST(SUM(syk) AS BIGINT) AS sy,
        |    CAST(SUM(CAST(round(sbk, 9) AS DECIMAL(38,9))) AS DOUBLE) AS bs
        |  FROM bins),
        |z AS (SELECT bins.*, g.n, g.sy, g.bs,
        |    round(spk / CAST(nk AS DOUBLE), 9) AS pbar,
        |    round(CAST(syk AS DOUBLE) / CAST(nk AS DOUBLE), 9) AS ybark,
        |    round(CAST(g.sy AS DOUBLE) / CAST(g.n AS DOUBLE), 9) AS ybar
        |  FROM bins, g)
        |SELECT ANY_VALUE(n) AS n,
        |  ANY_VALUE(round(bs / CAST(n AS DOUBLE), 6)) AS brier,
        |  round(CAST(SUM(CAST(round(CAST(nk AS DOUBLE)
        |      * ((pbar - ybark)*(pbar - ybark)), 9) AS DECIMAL(38,9)))
        |    AS DOUBLE) / CAST(ANY_VALUE(n) AS DOUBLE), 6) AS reliability,
        |  round(CAST(SUM(CAST(round(CAST(nk AS DOUBLE)
        |      * ((ybark - ybar)*(ybark - ybar)), 9) AS DECIMAL(38,9)))
        |    AS DOUBLE) / CAST(ANY_VALUE(n) AS DOUBLE), 6) AS resolution,
        |  ANY_VALUE(round(ybar * (1.0 - ybar), 6)) AS uncertainty
        |FROM z""".stripMargin,

    "q228_cube" ->
      """SELECT o_orderstatus AS status, o_orderpriority AS priority,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  round(CAST(SUM(CAST(round(CAST(o_totalprice AS DOUBLE)
        |      * 1000000.0, 0) AS DECIMAL(19,0))) AS DOUBLE)
        |    / 1000000.0, 6) AS sum_total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin
  )
}
