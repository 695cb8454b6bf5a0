package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Profiler

/** Streaming maintenance of correlation sufficient statistics — the
  * continuously-running twin of [[Profiler.corrMatrix]]: each
  * micro-batch reduces to its one-row exact-DECIMAL state
  * ([[Profiler.corrStats]]) and folds into the persisted state by
  * exact addition ([[Profiler.corrMergeStats]]) — history is NEVER
  * rescanned, and because the state is decimal (not float), the
  * maintained statistics are BIT-IDENTICAL to a monolithic recompute
  * over everything ever seen (the q128-proven contract; the spec
  * asserts it end-to-end through the stream).
  *
  * A [[MicroBatch.foldState]] read-merge-write, not a stateful
  * aggregation: the state is ONE global row, so mapGroupsWithState
  * machinery buys nothing — the per-batch cost is the batch's own
  * map-side-combined aggregation plus a 1-row parquet rewrite,
  * regardless of history size. The correlation matrix itself is derived on demand from the
  * state row via [[Profiler.corrFromStats]] (closed form, no data
  * touch). */
object StreamingStats {

  /** Drain available batches, folding each into the state row at
    * `statePath`. */
  def corrMaintain(stream: DataFrame, cols: Seq[String], scale: Int,
                   statePath: String, checkpoint: String): StreamingQuery =
    MicroBatch.drain(stream, checkpoint)(
      applyBatch(_, _, cols, scale, statePath))

  /** One micro-batch fold, idempotent under replay (a batchId at or
    * below the state's stamp is a no-op). */
  private[graft] def applyBatch(batch: DataFrame, batchId: Long,
                                    cols: Seq[String], scale: Int,
                                    statePath: String): Unit =
    MicroBatch.foldState(batch.sparkSession, batchId, statePath)(
      Profiler.corrStats(batch, cols, scale),
      (p, b) => Profiler.corrMergeStats(p, b))

  /** The current correlation matrix from the maintained state. */
  def currentCorr(spark: SparkSession, statePath: String,
                  cols: Seq[String]): DataFrame =
    Profiler.corrFromStats(
      spark.read.parquet(statePath).drop(MicroBatch.Stamp, MicroBatch.Owner), cols)

  /** Streaming maintenance of OLS sufficient statistics — the
    * continuously-running twin of
    * [[graft.operators.Regression.olsTwoFeature]] (q191): each
    * micro-batch reduces to its one-row exact-DECIMAL moment state
    * ([[graft.operators.Regression.olsStats]]) and folds into the
    * persisted state by exact addition
    * ([[graft.operators.Regression.olsMergeStats]]) under the same
    * batchId-idempotent fold as [[corrMaintain]]. The fit itself is
    * derived on demand from the state row via [[currentOls]] (closed
    * form, no data touch), BIT-IDENTICAL to a monolithic refit over
    * everything ever seen — the spec proves it end-to-end through the
    * stream, restart and replay included. */
  def olsMaintain(stream: DataFrame, yCol: String, x1Col: String,
                  x2Col: String, statePath: String,
                  checkpoint: String): StreamingQuery =
    MicroBatch.drain(stream, checkpoint)(
      olsApplyBatch(_, _, yCol, x1Col, x2Col, statePath))

  private[graft] def olsApplyBatch(batch: DataFrame, batchId: Long,
                                   yCol: String, x1Col: String,
                                   x2Col: String, statePath: String): Unit =
    MicroBatch.foldState(batch.sparkSession, batchId, statePath)(
      graft.operators.Regression.olsStats(batch, yCol, x1Col, x2Col),
      (p, b) => graft.operators.Regression.olsMergeStats(p, b))

  /** The current (n, b0, b1, b2, r2) fit from the maintained state. */
  def currentOls(spark: SparkSession, statePath: String): DataFrame =
    graft.operators.Regression.olsFromStats(
      spark.read.parquet(statePath).drop(MicroBatch.Stamp, MicroBatch.Owner))
}
