package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Scd
import graft.sources.ParquetTable
import graft.util.Pin._

/** Streaming SCD2 maintenance: each micro-batch of change events folds
  * into a persisted type-2 dimension table via [[Scd.merge]] — the
  * streaming face of the warehouse history build (CDC feed in, versioned
  * `[valid_from, valid_to)` table out).
  *
  * A per-batch sink ([[MicroBatch.drain]]) is the right Spark
  * surface: the merge is a batch dataflow (anti-join + windows over
  * the touched keys' change points), and the sink is an idempotent
  * parquet overwrite, so the checkpoint's exactly-once batch tracking
  * gives end-to-end exactly-once table maintenance. Because [[Scd.merge]] is proven
  * hash-identical to a full rebuild (q108's gate), the streamed table
  * after N batches equals the batch build over the concatenated log —
  * the invariant `StreamingScdSpec` asserts.
  *
  * Scale: per batch, only the batch's key set is touched (anti-join
  * pass-through for the rest); the store rewrite is the same
  * full-snapshot-overwrite contract as the reference's upsert. For a
  * partition-pruned rewrite at 100 TB, partition the SCD table by a
  * stable hash of the key and overwrite only partitions containing
  * touched keys (the PartitionedParquetStore month-pruning pattern,
  * keyed by hash instead of time).
  */
object StreamingScd {

  /** Drain the available change feed into the SCD2 table at `path`.
    * Batch events must be append-only per key (the [[Scd.merge]]
    * contract); `tiebreakCol` orders same-instant events. */
  def availableNowScd2(stream: DataFrame, path: String, checkpoint: String,
                       keys: Seq[String], seqCol: String, tiebreakCol: String,
                       stateCols: Seq[String]): StreamingQuery =
    MicroBatch.drain(stream, checkpoint) { (batch, _) =>
      // a bare pre-created directory (or one holding just a _SUCCESS
      // marker) is "no table yet" — the ParquetTable presence rule
      val merged = ParquetTable.readIfPresent(batch.sparkSession, path) match {
        case Some(table) =>
          Scd.merge(table, batch, keys, col(seqCol), col(tiebreakCol),
                    stateCols)
        case None =>
          Scd.scd2(batch, keys, col(seqCol), Seq(col(tiebreakCol)),
                   stateCols)
      }
      // materialize before overwriting the table being read
      merged.pin.write.mode("overwrite").parquet(path)
    }
}
