package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-safe ordered statistics: exclusive prefix sums in a total
  * order WITHOUT a single-partition window.
  *
  * The naive form — `sum(v).over(Window.orderBy(s))` — is correct but
  * funnels the whole frame through ONE task (Spark plans a
  * partition-less window as Exchange SinglePartition + sort). Fine
  * for a 32-row summary; a scale killer when the frame is
  * value-cardinality (distinct model scores ≈ rows, distinct keys of
  * a skewed join column ≈ billions).
  *
  * Two-phase formulation (exact, associative — the classic
  * distributed prefix-sum):
  *
  *   1. bucket every row by a MONOTONE map of the sort key into
  *      `nBuckets` coarse ranges (linear, or log-scale for power-law
  *      positive keys). Monotonicity ⇒ every row of bucket i sorts
  *      before every row of bucket j>i, and ties share a bucket.
  *   2. per-bucket totals (one map-side-combined aggregation,
  *      ≤ nBuckets rows) → per-bucket EXCLUSIVE offsets via a
  *      triangular join on the tiny bucket frame (broadcast
  *      nested-loop over ≤ nBuckets² pairs — no window at all, so
  *      the whole plan is provably free of single-partition windows).
  *   3. within-bucket exclusive cumsum under
  *      `Window.partitionBy(bucket).orderBy(sort, ties…)` — parallel
  *      across buckets.
  *   4. prefix(row) = offset(bucket) + within-bucket cumsum. Bit-equal
  *      to the global-window form for any bucket count.
  *
  * Residual skew: a value distribution concentrated inside one coarse
  * range still loads one bucket; `nBuckets` bounds the blast radius
  * at 1/nBuckets of the naive cost and `logScale` covers the
  * power-law case (key-count frames). The range [lo, hi] comes from
  * one 1-row min/max aggregate joined back by broadcast — no collect.
  */
object OrderedStats {

  /** Adds `outCol` = exclusive prefix sum of `valueCol` over the
    * total order (`sortCol` asc, `tieCols` asc). NULL sort keys sort
    * first (Spark asc-nulls-first parity) and land in bucket -1.
    * `sortCol` must be numeric; with `logScale` it must be positive.
    * Internal columns are dropped before return. */
  def cumsumExclusive(df: DataFrame, sortCol: String, tieCols: Seq[String],
                      valueCol: String, outCol: String,
                      nBuckets: Int = 1024,
                      logScale: Boolean = false): DataFrame =
    cumsumExclusiveAll(df, sortCol, tieCols, Seq(valueCol -> outCol),
      nBuckets, logScale)

  /** [[cumsumExclusive]] for SEVERAL value columns — and optionally
    * several independent orderings (`partitionCols`) — in ONE
    * bucketed-prefix pipeline. The r15 plan pathology this removes:
    * chaining k single-value calls nests the whole pipeline k deep
    * (each call re-references its input in three subtrees, so the
    * KS/DeLong double-cumsum plans carried 50+ scans / 130+ exchanges
    * that only AQE exchange reuse kept affordable). All prefix sums
    * share the same bucket map, the same totals aggregation, the same
    * triangular offsets join and the same window, so the exchange
    * chain is paid once regardless of how many values ride it.
    * Bit-equal to the chained form: buckets depend only on
    * (sortCol, partition) and each value's offsets/window sums are
    * computed exactly as the single-value call computes them.
    *
    * `partitionCols` scopes everything (min/max range, buckets,
    * offsets, window) to each partition-key group — the melted
    * two-sample shape (q193 ranks both columns in one pass through a
    * `tag` partition). The per-partition stats frame replaces the
    * 1-row broadcast with a |partitions|-row broadcast join. */
  def cumsumExclusiveAll(df: DataFrame, sortCol: String,
                         tieCols: Seq[String],
                         valueCols: Seq[(String, String)],
                         nBuckets: Int = 1024,
                         logScale: Boolean = false,
                         partitionCols: Seq[String] = Nil): DataFrame = {
    require(nBuckets >= 1, "nBuckets must be >= 1")
    require(valueCols.nonEmpty, "cumsumExclusiveAll: at least one value")
    // The input frame appears in three downstream subtrees (min/max
    // broadcast, bucket totals, final join). Those subtrees stay
    // byte-identical, so AQE exchange reuse already shares the
    // caller's aggregation exchange across them — measured r15: a
    // a pin here ADDED a full materialization of the
    // distinct-value frame without removing any work (q193 2.5 s →
    // 3.4 s) and was reverted.
    val d0 = df
    val s = col(sortCol).cast("double")
    val pcols = partitionCols.map(col)
    val stats =
      if (partitionCols.isEmpty) d0.agg(min(s).as("__lo"), max(s).as("__hi"))
      else d0.groupBy(pcols: _*).agg(min(s).as("__lo"), max(s).as("__hi"))

    // Monotone bucket id in [0, nBuckets); degenerate range (all rows
    // share one sort value) collapses to bucket 0, which is exactly
    // the single tie group. NULL sort key → bucket -1 (sorts first).
    val span = if (logScale) log(col("__hi")) - log(col("__lo"))
               else col("__hi") - col("__lo")
    val pos  = if (logScale) log(s) - log(col("__lo"))
               else s - col("__lo")
    val bucket = when(s.isNull, lit(-1))
      .when(col("__hi") <= col("__lo"), lit(0))
      .otherwise(least(floor(pos / span * nBuckets).cast("int"),
                       lit(nBuckets - 1)))

    val joined =
      if (partitionCols.isEmpty) d0.crossJoin(broadcast(stats))
      else d0.join(broadcast(stats), partitionCols)
    val withB = joined.withColumn("__b", bucket).drop("__lo", "__hi")

    // Phase 1/2: per-bucket totals → exclusive offsets, windows-free.
    // (totals is self-joined below, but both sides are byte-identical
    // subtrees: AQE exchange reuse shares the aggregation; a
    // a pin here splits executions and forces the input
    // aggregation to run twice — measured r15, reverted.)
    val vIdx = valueCols.zipWithIndex
    val totalAggs = vIdx.map { case ((v, _), i) => sum(col(v)).as(s"__bv$i") }
    val totals = withB.groupBy((pcols :+ col("__b")): _*)
      .agg(totalAggs.head, totalAggs.tail: _*)
    val rhs = totals.select(
      (partitionCols.map(p => col(p).as(s"__p2_$p")) ++
        Seq(col("__b").as("__b2")) ++
        vIdx.map { case (_, i) => col(s"__bv$i").as(s"__bv2$i") }): _*)
    val triCond = (partitionCols.map(p => col(p) === col(s"__p2_$p")) :+
      (col("__b2") < col("__b"))).reduce(_ && _)
    val offAggs = vIdx.map { case (_, i) => sum(col(s"__bv2$i")).as(s"__off$i") }
    val offsets = totals
      .join(broadcast(rhs), triCond, "left")
      .groupBy((pcols :+ col("__b")): _*)
      .agg(offAggs.head, offAggs.tail: _*)
      .select((pcols :+ col("__b")) ++ vIdx.map { case (_, i) => col(s"__off$i") }: _*)

    // Phase 3: within-bucket exclusive cumsum — partitioned window.
    val w = Window.partitionBy((pcols :+ col("__b")): _*)
      .orderBy((col(sortCol).asc +: tieCols.map(col(_).asc)): _*)
      .rowsBetween(Window.unboundedPreceding, -1)

    vIdx.foldLeft(
      withB.join(broadcast(offsets), partitionCols :+ "__b")) {
        case (acc, ((v, out), i)) =>
          acc.withColumn(out,
            coalesce(col(s"__off$i"), lit(0L)) +
            coalesce(sum(col(v)).over(w), lit(0L)))
      }
      .drop((("__b" +: vIdx.map { case (_, i) => s"__off$i" })): _*)
  }

  /** EXACT quantiles of a column at arbitrary scale — the rank-select
    * companion to [[cumsumExclusive]]: `percentile()` is exact but
    * buffers each group's values; this form never materializes more
    * than the per-distinct-value count frame. For each q, the
    * ⌈q·n⌉-th order statistic (clamped to [1, n]) is the unique
    * distinct value whose inclusive rank interval contains k — one
    * broadcast of the |qs|-row target frame against the ranked value
    * frame, integer logic end to end (the k = ⌈q·n⌉ product is the
    * same IEEE double on every engine, so even its floating ulp is
    * deterministic). Returns one row per q: (q, k, value), value
    * 6-dp-quantized. */
  def exactQuantiles(df: DataFrame, valueCol: String,
                     qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      "OrderedStats.exactQuantiles: each q must be in (0, 1]")
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df
      .select(round(col(valueCol).cast("double"), 6).as("v"))
      .filter(col("v").isNotNull)
      .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
    val ranked = cumsumExclusive(counts, sortCol = "v", tieCols = Seq(),
      valueCol = "cnt", outCol = "below")
    val n = counts.agg(sum(col("cnt")).as("__n"))
    val targets = qs.toDF("q").crossJoin(broadcast(n))
      .select(col("q"),
        greatest(least(ceil(col("q") * col("__n")).cast("long"),
                       col("__n")), lit(1L)).as("k"))
    ranked.crossJoin(broadcast(targets))
      .filter(col("below") < col("k") &&
              col("k") <= col("below") + col("cnt"))
      .select(col("q"), col("k"), col("v").as("value"))
  }
}
