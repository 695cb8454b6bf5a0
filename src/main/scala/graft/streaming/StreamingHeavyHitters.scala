package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Streaming heavy-hitter tracking — the continuously-running twin of
  * `Skew.keyProfile`'s top-k: per-key running counts maintained in
  * keyed state across micro-batches, with the current top-k derived
  * from the state output on demand. The ops loop this serves: watch
  * the live feed for a key going hot (a runaway user, a bot, a
  * misrouted tenant) BEFORE it lands in the batch layer and skews a
  * join.
  *
  * Shape: `mapGroupsWithState` keeps 8 bytes of state per key,
  * partitioned across executors by the state store (RocksDB/HDFS at
  * scale, exactly-once under checkpointing); each micro-batch touches
  * only the keys it contains. The update-mode sink receives one row
  * per TOUCHED key per batch — deriving top-k is a query over the
  * sink table, not part of the state machinery (a global top-k inside
  * the stream would serialize every key through one task). Unbounded
  * key spaces bound state with event-time timeouts + watermarks (the
  * StatefulAggregate note); counts here are exact, the Misra-Gries /
  * count-min sketches are the sub-linear-state alternative when even
  * 8 bytes/key is too much. */
object StreamingHeavyHitters {

  case class KeyCount(key: Long, n: Long)

  /** Running exact count per key, emitted for every key touched by
    * the batch. */
  def runningCounts(keys: Dataset[Long]): Dataset[KeyCount] = {
    implicit val longEnc: Encoder[Long] = Encoders.scalaLong
    implicit val outEnc: Encoder[KeyCount] = Encoders.product[KeyCount]
    keys.groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: Long, it: Iterator[Long], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + it.size
          state.update(n)
          KeyCount(key, n)
      }
  }

  /** Drain available batches, appending each batch's touched-key
    * running counts to the parquet log at `path` (a per-batch sink — the
    * memory sink cannot recover from a checkpoint, a parquet log
    * can); [[currentTopK]] derives latest-count-per-key from the log. */
  def track(keys: Dataset[Long], path: String,
            checkpoint: String): StreamingQuery =
    MicroBatch.drain(runningCounts(keys), checkpoint, OutputMode.Update())(
      (batch, _) => batch.write.mode("append").parquet(path))

  /** Top-k keys by their LATEST emitted running count (the log
    * appends a row per touch; running counts only grow, so
    * keep-latest = keep-max per key). */
  def currentTopK(spark: SparkSession, path: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val latest = spark.read.parquet(path)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("key"))
          .orderBy(col("n").desc)))
      .filter(col("__rn") === 1)
    latest
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("key").asc)))
      .filter(col("rank") <= k)
      .select(col("rank"), col("key"), col("n"))
  }
}
