package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.BucketedStateStore

/** Streaming face of the bucketed keyed MERGE: each micro-batch folds
  * into a [[BucketedStateStore]] via [[MicroBatch.drain]] — the scheduled
  * keyed-upsert loop (the reference's collection cadence) as a
  * first-class streaming sink, keyed by arbitrary columns instead of
  * time.
  *
  * Exactly-once economics: the merge is newest-wins and therefore
  * IDEMPOTENT (q241's replayed-batch hash proves it), so a batch
  * re-delivered after a failure between the store write and the
  * checkpoint commit converges to the same state — at-least-once
  * delivery gives exactly-once table contents. Per batch, only the
  * buckets the batch touches are read or rewritten (the
  * BucketedStateStore contract), so the streamed state scales by
  * update rate, not table size.
  */
object StreamingKeyedMerge {

  /** Drain the available feed into the bucketed state table at
    * `root`: newest row per `keys` under `order` wins across all
    * batches ever delivered. */
  def availableNowMerge(stream: DataFrame, root: String, checkpoint: String,
                        keys: Seq[String], order: Seq[Column],
                        nBuckets: Int): StreamingQuery =
    MicroBatch.drain(stream, checkpoint)((batch, _) =>
      new BucketedStateStore(batch.sparkSession, root, keys, nBuckets)
        .merge(batch, order))
}
