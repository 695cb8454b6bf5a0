package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.sources.ParquetTable

/** The micro-batch delivery policy every sink in this package shares —
  * how a batch arrives and how its side effects survive a replay, and
  * nothing about what a sink computes or stores.
  *
  * Delivery contract: each [[drain]] runs the batches available now and
  * stops (the reference's scheduled job), and the checkpoint skips
  * committed batches on the next run. foreachBatch is AT-LEAST-ONCE: a
  * crash after a batch's side effects but before its checkpoint commit
  * replays the batch under the same batchId. Two steps make that safe:
  *  - [[intake]] (dedup against an accepted-key store): a replay before
  *    the store append re-forwards the same fresh set, so `accept` must
  *    be idempotent (a keyed upsert like
  *    [[graft.sources.PartitionedParquetStore]], not a blind append); a
  *    replay after the append forwards an empty set, because the
  *    batch's own keys now hit the store. A missing or bare store
  *    directory is empty history by the [[ParquetTable]] rule; a
  *    non-empty store Spark cannot read fails the batch instead of
  *    letting duplicates through.
  *  - [[foldState]] (a small mergeable state table): the last applied
  *    batchId rides on every state row, and a batch at or below it is
  *    a no-op, so a replay never folds in twice. The streaming query's
  *    id rides next to it, so a state table is never folded by a query
  *    whose batchIds it does not count.
  */
private[graft] object MicroBatch {

  /** Stamp column of a [[foldState]] table: the last applied batchId. */
  val Stamp = "__last_batch"

  /** Owner column of a [[foldState]] table: the id of the streaming
    * query that wrote it. Spark keeps that id in the checkpoint's
    * `metadata` file, so it names the checkpoint the stamps count in,
    * and hands it to the batch thread as this local property. */
  val Owner = "__query_id"
  private val QueryIdProperty = "sql.streaming.queryId"

  /** Drain what `stream` has available now through `body`, one
    * micro-batch at a time, tracking committed batches in
    * `checkpoint`. */
  def drain[T](stream: Dataset[T], checkpoint: String,
               mode: OutputMode = OutputMode.Append())(
      body: (Dataset[T], Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch(body)
      .start()

  /** One accept-then-record step. `step` builds the batch's fresh rows,
    * pinning any frame it reads more than once through the function it
    * is handed, and returns them with the action that appends their
    * keys to the store. `fresh` is persisted once, so `accept` and the
    * store append see the same rows; the append runs only after
    * `accept` returns, and every pinned frame is released whatever
    * happens. */
  def intake(accept: DataFrame => Unit)(
      step: (DataFrame => DataFrame) => (DataFrame, DataFrame => Unit)): Unit = {
    val pinned = ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = { pinned += df.persist(); df }
    try {
      val (fresh, record) = step(pin)
      pin(fresh)
      accept(fresh)
      record(fresh)
    } finally pinned.foreach(_.unpersist())
  }

  /** Fold one batch into the state table at `statePath`, idempotent
    * under replay: read the prior state (any number of rows, each
    * stamped), skip a batchId at or below its stamp, otherwise merge
    * `batchState` in with `merge`, hand the merged rows to `beforeWrite`
    * and overwrite the table, every row stamped with `batchId`. The
    * merged rows are collected first, so the cost is O(state), not
    * O(data), and the overwrite never reads the files it replaces.
    * A state table belongs to one checkpoint: a new checkpoint restarts
    * batchIds at 0 and would skip every batch up to the old stamp, so a
    * table stamped by another streaming query is refused with an
    * `IllegalStateException`. The query's id is stamped next to the
    * batchId; a table without it is adopted on its next write, and a
    * fold outside a streaming query keeps the table's owner. */
  def foldState(spark: SparkSession, batchId: Long, statePath: String)(
      batchState: => DataFrame, merge: (DataFrame, DataFrame) => DataFrame,
      beforeWrite: DataFrame => Unit = _ => ()): Unit = {
    val prior = ParquetTable.readIfPresent(spark, statePath)
    val stamps = prior.map { p =>
      val owner = if (p.columns.contains(Owner)) max(col(Owner)) else lit(null)
      p.agg(max(col(Stamp)), owner).head()
    }
    val lastApplied = stamps.filterNot(_.isNullAt(0)).map(_.getLong(0)).getOrElse(-1L)
    val priorOwner = stamps.flatMap(r => Option(r.getString(1)))
    val queryId = Option(spark.sparkContext.getLocalProperty(QueryIdProperty))
    for (q <- queryId; o <- priorOwner if q != o)
      throw new IllegalStateException(s"state table $statePath belongs to " +
        s"streaming query $o, not $q: a state table folds under one checkpoint")
    if (batchId > lastApplied) {
      val merged = prior.fold(batchState)(p =>
        merge(p.drop(Stamp, Owner), batchState))
      val state = spark.createDataFrame(
        spark.sparkContext.parallelize(merged.collect().toIndexedSeq, 1),
        merged.schema)
      beforeWrite(state)
      state.withColumn(Stamp, lit(batchId))
        .withColumn(Owner, lit(queryId.orElse(priorOwner).orNull).cast("string"))
        .write.mode("overwrite").parquet(statePath)
    }
  }
}
