package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Drift

/** Streaming drift monitor: every micro-batch of a live feature feed
  * scores its Population Stability Index against a STATIC reference
  * distribution (the training window), appending one audit row per
  * batch — the continuously-running twin of [[Drift.psi]] and the
  * alarm a serving pipeline watches between retrains.
  *
  * A per-batch sink, not a stateful aggregation: PSI is a whole-batch
  * statistic against an external frame, not an incremental per-key
  * state — and the reference's bucket counts are computed once per
  * batch from a (tiny, cacheable) static DataFrame while the batch
  * side reduces map-side to ≤ nBuckets+2 partials (the Histogram
  * economics), so per-batch cost is one small aggregation regardless
  * of batch size. */
object StreamingDrift {

  /** Drain available batches, appending (batch_id, n_live, psi) rows
    * to the monitor table at `path`. */
  def psiMonitor(stream: DataFrame, reference: DataFrame, valueCol: String,
                 lo: Double, hi: Double, nBuckets: Int, path: String,
                 checkpoint: String): StreamingQuery =
    MicroBatch.drain(stream, checkpoint) { (batch, batchId) =>
      Drift.psi(reference, batch, valueCol, lo, hi, nBuckets)
        .agg(sum(col("n_live")).cast("long").as("n_live"),
             min(col("psi_total")).as("psi"))
        .select(lit(batchId).as("batch_id"), col("n_live"), col("psi"))
        .write.mode("append").parquet(path)
    }
}
