package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.PartitionedParquetStore

/** Streaming surface (SURVEY §2.9).
  *
  * The reference has no streaming engine — its "stream" is externally
  * scheduled micro-batches with an idempotent upsert. First-class
  * Spark mapping: Structured Streaming drained by [[MicroBatch.drain]],
  * each micro-batch performing the store merge. Each run drains
  * what's available and stops — exactly the scheduled-Lambda model,
  * but with checkpointed exactly-once batch tracking.
  *
  * For a genuinely continuous feed, `dedupedStream` is the streaming
  * analogue of the A1 dedup: watermark-bounded stateful
  * dropDuplicates (state is purged past the watermark, so memory is
  * bounded at scale — the watermark plays the role the monthly
  * partition boundary plays in the reference).
  */
object MicroBatchUpsert {

  /** Run one available-now micro-batch pass, upserting each batch into
    * the store (history-preserving distinct semantics). */
  def availableNowUpsert(stream: DataFrame, store: PartitionedParquetStore,
                         tsCol: String, checkpoint: String): StreamingQuery =
    MicroBatch.drain(stream, checkpoint)((batch, _) =>
      store.upsertDistinct(batch, tsCol))

  /** Streaming dedup: watermark + stateful dropDuplicates on keys. */
  def dedupedStream(stream: DataFrame, tsCol: String, watermark: String,
                    keys: Seq[String]): DataFrame =
    stream.withWatermark(tsCol, watermark).dropDuplicates(keys)

  /** Streaming dedup, late-data-correct variant: two records with the
    * same keys dedup as long as they arrive within the watermark delay
    * of each other, even when the event-time column differs (classic
    * dropDuplicates keys on exact values and keeps state forever if
    * the ts column is in the keys; WithinWatermark keys on `keys`
    * alone and expires state at the watermark). The streaming form of
    * the exact content-hash dedup: keys = md5(text). */
  def dedupedWithinWatermark(stream: DataFrame, tsCol: String,
                             watermark: String, keys: Seq[String]): DataFrame =
    stream.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(keys)
}
