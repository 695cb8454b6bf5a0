package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Streaming CUSUM maintenance — the continuously-running twin of
  * `ChangePoint.cusum` (q150): per-key chart state (running statistic,
  * alarm count, peak, first-alarm id) carried across micro-batches in
  * keyed state, so a sustained metric shift raises its alarm in the
  * batch where it crosses the threshold — not at the next nightly
  * batch run.
  *
  * State is O(1) per key (four numbers), partitioned by the state
  * store, exactly-once under checkpointing. Each batch's points for a
  * key are folded IN (ts/seq) ORDER — the batch iterator is sorted
  * per group before folding (per-key per-batch volume is the bound,
  * not history). Ordering ACROSS batches is the source's contract
  * (replay/CDC feeds deliver per-key in order; an out-of-order feed
  * needs watermark buffering first — the StatefulAggregate note).
  * The fold is the same float recurrence as the batch operator, in
  * the same order, so the maintained summary is BIT-IDENTICAL to a
  * batch recompute over everything ever seen (the spec proves it
  * across a checkpoint restart). */
object StreamingChangePoint {

  case class Point(key: Long, seq: Long, x: Double)
  case class ChartState(s: Double, nPoints: Long, nAlarms: Long,
                        peak: Double, firstAlarmSeq: Long)
  case class ChartRow(key: Long, n_points: Long, n_alarms: Long,
                      peak_cusum: Double, first_alarm_seq: Long)

  /** Fold each batch's (sorted) points into the per-key chart;
    * emits the updated summary row for every touched key. */
  def charts(points: Dataset[Point], target: Double, slack: Double,
             threshold: Double): Dataset[ChartRow] = {
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    implicit val outEnc: Encoder[ChartRow] = Encoders.product[ChartRow]
    implicit val stEnc: Encoder[ChartState] = Encoders.product[ChartState]
    points.groupByKey(_.key)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: Long, it: Iterator[Point], state: GroupState[ChartState]) =>
          var st = state.getOption.getOrElse(
            ChartState(0.0, 0L, 0L, 0.0, -1L))
          it.toSeq.sortBy(_.seq).foreach { p =>
            val s = math.max(0.0, st.s + (p.x - target - slack))
            val alarmed = s > threshold
            st = ChartState(
              s, st.nPoints + 1,
              st.nAlarms + (if (alarmed) 1L else 0L),
              math.max(st.peak, s),
              if (st.firstAlarmSeq >= 0L || !alarmed) st.firstAlarmSeq
              else p.seq)
          }
          state.update(st)
          ChartRow(key, st.nPoints, st.nAlarms, st.peak, st.firstAlarmSeq)
      }
  }

  /** Drain available batches, appending each touched key's updated
    * summary to the parquet log at `path`. */
  def maintain(points: Dataset[Point], target: Double, slack: Double,
               threshold: Double, path: String,
               checkpoint: String): StreamingQuery =
    MicroBatch.drain(charts(points, target, slack, threshold), checkpoint,
                     OutputMode.Update())((batch, _) =>
      batch.write.mode("append").parquet(path))

  /** Latest chart per key from the log (n_points only grows, so
    * keep-latest = keep-max per key). */
  def current(spark: SparkSession, path: String) = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    spark.read.parquet(path)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("key")).orderBy(col("n_points").desc)))
      .filter(col("__rn") === 1).drop("__rn")
  }
}
