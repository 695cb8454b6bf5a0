package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Profiler
import graft.sources.ParquetTable

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
  * foreachBatch read-merge-write, not a stateful aggregation: the
  * state is ONE global row, so mapGroupsWithState machinery buys
  * nothing — the per-batch cost is the batch's own map-side-combined
  * aggregation plus a 1-row parquet rewrite, regardless of history
  * size. The correlation matrix itself is derived on demand from the
  * state row via [[Profiler.corrFromStats]] (closed form, no data
  * touch). */
object StreamingStats {

  /** Drain available batches, folding each into the state row at
    * `statePath`. */
  def corrMaintain(stream: DataFrame, cols: Seq[String], scale: Int,
                   statePath: String, checkpoint: String): StreamingQuery =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, cols, scale, statePath)
      }
      .start()

  /** One micro-batch fold, IDEMPOTENT under replay. foreachBatch is
    * at-least-once: a batch replayed after a crash between the state
    * overwrite and the checkpoint commit must NOT fold in twice. The
    * last-applied batchId rides in the state row; a batch with
    * batchId <= lastApplied is a no-op. */
  private[graft] def applyBatch(batch: DataFrame, batchId: Long,
                                    cols: Seq[String], scale: Int,
                                    statePath: String): Unit =
    foldBatch(batch.sparkSession, batchId, statePath)(
      Profiler.corrStats(batch, cols, scale),
      (p, b) => Profiler.corrMergeStats(p, b))

  /** The current correlation matrix from the maintained state. */
  def currentCorr(spark: SparkSession, statePath: String,
                  cols: Seq[String]): DataFrame =
    Profiler.corrFromStats(
      spark.read.parquet(statePath).drop("__last_batch"), cols)

  /** Streaming maintenance of OLS sufficient statistics — the
    * continuously-running twin of
    * [[graft.operators.Regression.olsTwoFeature]] (q191): each
    * micro-batch reduces to its one-row exact-DECIMAL moment state
    * ([[graft.operators.Regression.olsStats]]) and folds into the
    * persisted state by exact addition
    * ([[graft.operators.Regression.olsMergeStats]]) under the same
    * foreachBatch read-merge-write + batchId-idempotence discipline
    * as [[corrMaintain]]. The fit itself is derived on demand from
    * the state row via [[currentOls]] (closed form, no data touch),
    * BIT-IDENTICAL to a monolithic refit over everything ever seen
    * — the spec proves it end-to-end through the stream, restart
    * and replay included. */
  def olsMaintain(stream: DataFrame, yCol: String, x1Col: String,
                  x2Col: String, statePath: String,
                  checkpoint: String): StreamingQuery =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        olsApplyBatch(batch, batchId, yCol, x1Col, x2Col, statePath)
      }
      .start()

  private[graft] def olsApplyBatch(batch: DataFrame, batchId: Long,
                                   yCol: String, x1Col: String,
                                   x2Col: String, statePath: String): Unit =
    foldBatch(batch.sparkSession, batchId, statePath)(
      graft.operators.Regression.olsStats(batch, yCol, x1Col, x2Col),
      (p, b) => graft.operators.Regression.olsMergeStats(p, b))

  /** The current (n, b0, b1, b2, r2) fit from the maintained state. */
  def currentOls(spark: SparkSession, statePath: String): DataFrame =
    graft.operators.Regression.olsFromStats(
      spark.read.parquet(statePath).drop("__last_batch"))

  /** Shared read-merge-write fold: load the prior 1-row state (if
    * any), skip already-applied batchIds, merge the batch's stats
    * row in by the family's exact-addition merge, stamp and rewrite.
    * collect-and-rewrite is O(state), not O(data). */
  private def foldBatch(spark: SparkSession, batchId: Long,
                        statePath: String)(
      batchStats: => DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame): Unit = {
    import org.apache.spark.sql.functions.lit
    val prior = ParquetTable.readIfPresent(spark, statePath)
    val lastApplied = prior
      .map(_.select("__last_batch").head.getLong(0)).getOrElse(-1L)
    if (batchId > lastApplied) {
      val merged = prior match {
        case Some(p) => merge(p.drop("__last_batch"), batchStats)
        case None    => batchStats
      }
      val stamped = merged.withColumn("__last_batch", lit(batchId))
      val row = stamped.collect()
      val out = spark.createDataFrame(
        spark.sparkContext.parallelize(row.toIndexedSeq, 1), stamped.schema)
      out.write.mode("overwrite").parquet(statePath)
    }
  }
}
