package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.util.Exact.exactSum9
import graft.util.Pin._

/** Holt's linear-trend exponential smoothing per key — the sequential
  * forecasting fold (level + trend state, the metric-forecast sibling
  * of [[ChangePoint]]'s drift fold):
  *
  *   l_t = α·y_t + (1−α)·(l_{t−1} + b_{t−1})
  *   b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
  *
  * initialized l_1 = y_1, b_1 = 0. The recurrence couples two states,
  * so it is not a window expression; each key's ordered series folds
  * inside `flatMapSortedGroups` (the CUSUM treatment — parallelism
  * across keys, sequentiality inherent to the semantics).
  *
  * Float portability: the complements (1−α), (1−β) are computed ONCE
  * and the per-step op sequence is fixed, so a recursive replay
  * performing the identical expressions (the q185 oracle mirrors
  * `(1.0 − α)` literally) is bit-identical without quantization —
  * the q150 contract. */
object Forecast {

  /** Per-key summary: points, final level/trend, and the one-step
    * forecast — emitted directly from the sequential fold (ONE row
    * per key out of flatMapSortedGroups; a groupBy + last() would
    * reintroduce order-nondeterminism after the exchange). */
  def holtSummary(df: DataFrame, keyCol: String, orderCols: Seq[Column],
                  valueCol: String, alpha: Double,
                  beta: Double): DataFrame = {
    val spark = df.sparkSession
    val valIdx = df.schema.fieldIndex(valueCol)
    val keyIdx = df.schema.fieldIndex(keyCol)
    val ca = 1.0 - alpha
    val cb = 1.0 - beta
    val outEnc = Encoders.row(org.apache.spark.sql.types.StructType(Seq(
      df.schema(keyCol),
      org.apache.spark.sql.types.StructField("n_points",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("level", DoubleType, false),
      org.apache.spark.sql.types.StructField("trend", DoubleType, false),
      org.apache.spark.sql.types.StructField("forecast_next", DoubleType,
        false))))
    import graft.util.Exact.round6
    df.groupByKey(_.get(keyIdx).toString)(Encoders.STRING)
      .flatMapSortedGroups(orderCols: _*) { (_, rows) =>
        var first = true
        var l = 0.0
        var b = 0.0
        var n = 0L
        var key: Any = null
        rows.foreach { r =>
          val y = r.getDouble(valIdx)
          key = r.get(keyIdx)
          n += 1
          if (first) { l = y; b = 0.0; first = false }
          else {
            val lPrev = l
            l = alpha * y + ca * (l + b)
            b = beta * (l - lPrev) + cb * b
          }
        }
        Iterator.single(
          Row(key, n, round6(l), round6(b), round6(round6(l) + round6(b))))
      }(outEnc)
  }
  /** Sample autocorrelation of a daily count series at lags 1..maxLag
    * — the seasonality/memory diagnostic (weekly cycle shows as a
    * spike at lag 7) run before any forecasting model is trusted.
    *
    * Scale shape: the corpus folds ONCE into the per-day count frame
    * (bounded by the calendar, never rows); each lag is an equi-join
    * of that bounded frame against itself shifted by k days (calendar
    * gaps drop the pair — documented, not imputed). All numerators
    * stay in exact integer arithmetic scaled by n (the mean never
    * becomes a float): r_k = Σ(n·c_t − S)(n·c_{t+k} − S) / Σ(n·c_t −
    * S)², with sums in DECIMAL(38,0). Returns one row per lag:
    * (lag, n_pairs, acf). */
  def dailyAcf(df: DataFrame, dateCol: String, maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 366,
      s"Forecast.dailyAcf: maxLag must be in [1, 366], got $maxLag")
    val days = df.groupBy(col(dateCol).cast("date").as("d"))
      .agg(count(lit(1)).as("c"))
      .pin // bounded frame, consumed per lag
    val tot = days.agg(sum(col("c")).as("s"),
                       count(lit(1)).cast("long").as("nd"))
    // (18,0) factors keep e·e inside width 37 — portable to DuckDB,
    // which rejects decimal products past width 38; e = n·c − S stays
    // under 10¹⁸ for any calendar-bounded day frame (10⁹ rows/day ×
    // 10⁴ days)
    def d38(c: Column) = c.cast(org.apache.spark.sql.types.DecimalType(18, 0))
    val centered = days.crossJoin(broadcast(tot))
      .select(col("d"), (d38(col("c")) * d38(col("nd")) - d38(col("s")))
        .cast(org.apache.spark.sql.types.DecimalType(18, 0)).as("e"))
    val den = centered.agg(sum(col("e") * col("e")).as("__den"))
    val lags = df.sparkSession.range(1, maxLag + 1)
      .select(col("id").cast("int").as("lag"))
    centered.crossJoin(broadcast(lags))
      .select(col("lag"), col("d"), col("e"))
      .join(centered.select(col("d").as("d2"), col("e").as("e2")),
            expr("d2 = date_add(d, lag)"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
           sum(col("e") * col("e2")).as("__num"))
      .crossJoin(broadcast(den))
      .select(col("lag"), col("n_pairs"),
        round(col("__num").cast("double") / col("__den").cast("double"), 6)
          .as("acf"))
  }

  /** Classical additive seasonal decomposition of the daily count
    * series — count = trend + seasonal + residual, the moving-average
    * construction (the hand-rolled core of STL without loess): trend
    * is a centered 7-day mean (NULL at the edges, where the window is
    * incomplete, instead of a silently-shorter mean), the weekly
    * seasonal index is the mean detrended value per weekday, and the
    * residual is what neither explains.
    *
    * Weekday is computed as days-since-epoch-anchor mod 7 (NOT the
    * engine's dayofweek(), whose 0/1-based convention differs across
    * engines).
    *
    * Scale shape: the corpus folds ONCE to the calendar-bounded day
    * frame (pinned); the centered window is a ±3-day
    * delta-explode equi-join on that frame — NO time-ordered window,
    * so nothing ever sorts in one partition; the seasonal index is a
    * 7-row broadcast. Returns one row per day:
    * (d, cnt, wd, trend, seasonal, residual), rounded to 6. */
  def seasonalDecompose(df: DataFrame, dateCol: String): DataFrame = {
    val days = df.groupBy(col(dateCol).cast("date").as("d"))
      .agg(count(lit(1)).as("c"))
      .pin // calendar-bounded; consumed by 3 stages
    val deltas = df.sparkSession.range(-3, 4)
      .select(col("id").cast("int").as("dl"))
    val trend = days.crossJoin(broadcast(deltas))
      .select(col("d"), col("dl"))
      .join(days.select(col("d").as("d2"), col("c").as("c2")),
            expr("d2 = date_add(d, dl)"))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("__nw"), sum(col("c2")).as("__sw"))
      .select(col("d"),
        when(col("__nw") === 7,
          round(col("__sw").cast("double") / 7.0, 9)).as("__trend"))
    val wd = pmod(datediff(col("d"), lit("1992-01-01").cast("date")), lit(7))
    val detrended = days.join(trend, Seq("d"))
      .select(col("d"), col("c"), wd.as("wd"),
        round(col("c").cast("double") - col("__trend"), 9).as("__detr"),
        col("__trend"))
    val seasonal = detrended.filter(col("__detr").isNotNull)
      .groupBy(col("wd"))
      .agg(round(exactSum9(col("__detr")) / count(lit(1)).cast("double"), 9)
        .as("__seas"))
    detrended.join(broadcast(seasonal), Seq("wd"))
      .select(col("d"), col("c").as("cnt"), col("wd").cast("long").as("wd"),
        round(col("__trend"), 6).as("trend"),
        round(col("__seas"), 6).as("seasonal"),
        round(col("__detr") - col("__seas"), 6).as("residual"))
  }

}
