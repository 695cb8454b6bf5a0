package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Profiler
import graft.util.Pin._

/** Streaming Benford monitor — the continuously-running twin of
  * [[Profiler.benfordAudit]]: every micro-batch's first-digit counts
  * fold into a persistent 9-row running state, and each batch appends
  * one audit row carrying BOTH the batch-local and the cumulative
  * maximum deviation from the Benford line. A feed whose digits drift
  * (an upstream unit change, a filled-in default, fabricated numbers)
  * trips the batch deviation immediately, while the cumulative column
  * says whether the corpus as a whole is still healthy.
  *
  * State is integer digit counts — exactly mergeable, so the streamed
  * cumulative readout is BIT-IDENTICAL to a batch
  * [[Profiler.benfordAudit]] over all data ever seen (the q128/
  * StreamingStats contract, asserted by StreamingBenfordSpec across a
  * checkpoint restart and a replayed batch). The state table (≤ 9
  * rows) is folded by [[MicroBatch.foldState]], so a replayed batchId
  * is skipped whole. The audit row is appended before the state
  * overwrite: a crash between the two replays the batch, which leaves
  * a duplicate audit row for that batch_id but never loses one. */
object StreamingBenford {

  private def devExpr = abs(
    round(col("n").cast("double") / col("__tot").cast("double"), 6) -
      round(log(10.0, lit(1.0) + lit(1.0) / col("digit")), 6))

  /** Max |observed share − Benford share| of a (digit, n) frame. */
  private def maxDev(counts: DataFrame): DataFrame = {
    val tot = counts.agg(sum(col("n")).as("__tot"))
    counts.crossJoin(broadcast(tot))
      .agg(first(col("__tot")).as("n_rows"),
           round(max(devExpr), 6).as("max_abs_dev"))
  }

  /** Drain available batches: fold each batch's digit counts into the
    * running state at `statePath` and append
    * (batch_id, n_batch, dev_batch, n_total, dev_cum) to `auditPath`. */
  def monitor(stream: DataFrame, valueCol: String, statePath: String,
              auditPath: String, checkpoint: String): StreamingQuery =
    MicroBatch.drain(stream, checkpoint) { (batch, batchId) =>
      lazy val batchCounts = Profiler.firstDigitCounts(batch, valueCol)
        .pin // read twice (batch dev + state merge)
      MicroBatch.foldState(batch.sparkSession, batchId, statePath)(
        batchCounts,
        (p, b) => p.unionByName(b).groupBy(col("digit")).agg(sum(col("n")).as("n")),
        merged => maxDev(batchCounts).select(
            lit(batchId).as("batch_id"),
            col("n_rows").as("n_batch"),
            col("max_abs_dev").as("dev_batch"))
          .crossJoin(maxDev(merged).select(
            col("n_rows").as("n_total"),
            col("max_abs_dev").as("dev_cum")))
          .write.mode("append").parquet(auditPath))
    }

  /** The cumulative audit as a batch frame — for asserting streamed ==
    * monolithic ([[Profiler.benfordAudit]] over everything seen). */
  def currentState(spark: SparkSession, statePath: String): DataFrame =
    spark.read.parquet(statePath).drop(MicroBatch.Stamp, MicroBatch.Owner)
}
