package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.util.Pin._

/** Generic keyed MERGE over BUCKETED state — SURVEY §7.4's scale path
  * for K2 beyond time-partitioned tables: when the upsert key is not
  * time-correlated (team ids, document keys, user ids), month-pruned
  * dynamic overwrite stops helping and a naive keep-latest merge
  * rewrites (and shuffles) the WHOLE state table per batch. Here state
  * lives Hive-partitioned by `bucket = pmod(hash(keys), nBuckets)`, so
  * one merge:
  *
  *   1. buckets and pins the batch, observing its touched bucket ids
  *      (≤ nBuckets driver ints) in the pin's own job — the observed pin
  *      PartitionedParquetStore's months use too;
  *   2. reads ONLY those bucket directories (planning-time partition
  *      pruning — untouched state is never even scanned);
  *   3. resolves newest-wins per key over (touched buckets ∪ batch) —
  *      the general [[Dedup.merge]] window, NO newest-batch
  *      precondition, so a stale or out-of-order batch row correctly
  *      loses to a newer stored row;
  *   4. dynamically overwrites only the touched bucket partitions.
  *
  * Per-merge cost is bounded by (touched buckets × bucket size), not
  * the table: at 100 TB state with a batch touching 0.1% of keys,
  * ~0.1–few % of buckets rewrite (nBuckets sizes the granularity).
  * Same row-level semantics as [[Dedup.merge]] over the full table —
  * the q241 oracle proves merge-chain ≡ full rebuild, and replaying a
  * batch is a no-op (newest-wins is idempotent; the q241 chain replays
  * one batch and still hash-matches).
  *
  * Reference scope: generalizes the reference's monthly read-merge-
  * write loop (odds_data_collector.py:31-51) from time keys to
  * arbitrary keys; no direct reference counterpart.
  */
class BucketedStateStore(spark: SparkSession, root: String,
                         keys: Seq[String], val nBuckets: Int) {
  require(keys.nonEmpty, "BucketedStateStore: at least one key column")
  require(nBuckets >= 1 && nBuckets <= 65536,
    s"BucketedStateStore: nBuckets in [1, 65536], got $nBuckets")

  private def withBucket(df: DataFrame): DataFrame =
    df.withColumn("bucket", pmod(hash(keys.map(col): _*), lit(nBuckets)))

  private def rootPath = new org.apache.hadoop.fs.Path(root)
  private def fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())

  /** Crash recovery for an interrupted [[rescale]]: a process that
    * died between rescale's two renames left the ONLY complete copy at
    * `.rescale.old` with root missing. Run from EVERY access path —
    * not just the next rescale() — because a readOpt()/merge() that
    * sees root missing would otherwise treat the store as brand-new
    * and strand the surviving copy (review finding). */
  private def recoverInterruptedRescale(): Unit = {
    val old = new org.apache.hadoop.fs.Path(root + ".rescale.old")
    val f = fs
    if (f.exists(old) && !f.exists(rootPath))
      require(f.rename(old, rootPath),
        s"BucketedStateStore: crash recovery $old -> $root failed")
  }

  /** None when the state table doesn't exist yet (first merge) — the
    * [[ParquetTable]] presence rule, after crash recovery: a non-empty
    * directory Spark cannot read stays LOUD, because silently
    * returning None would let merge()'s overwrite discard surviving
    * state. */
  def readOpt(): Option[DataFrame] = {
    recoverInterruptedRescale()
    ParquetTable.readIfPresent(spark, root)
  }

  /** Full state, `bucket` partition column included. */
  def read(): DataFrame = readOpt().getOrElse(
    throw new IllegalStateException(s"no state table at $root"))

  /** Fold one batch in: newest row per `keys` wins under `order`
    * (e.g. Seq($"ts".desc, $"id".desc)); only touched buckets are
    * read and rewritten. */
  def merge(batchRaw: DataFrame, order: Seq[Column]): Unit = {
    // The batch is consumed three times (touched-set lookup, merge
    // union, write) and the touched-bucket set must describe the SAME
    // rows the merge sees: the pin observes it in its own job — ≤
    // nBuckets driver ints, no separate distinct-collect job.
    val (batch, m) = withBucket(batchRaw)
      .pinObserving(collect_set(col("bucket")).as("touched"))
    val touched = m("touched").asInstanceOf[scala.collection.Seq[Int]].toSeq.sorted
    val merged = readOpt() match {
      case Some(existing) =>
        // the pin MATERIALIZES the pruned existing side before
        // the write below overwrites the same path — correctness must
        // not hang on dynamic-overwrite's stage-then-commit ordering
        // (a mode or version change would silently turn a lazy read
        // into read-your-own-overwrite). Bounded by design: this is
        // the touched-buckets slice, the quantity a merge is sized by.
        Dedup.merge(
          existing.filter(col("bucket").isin(touched: _*)).pin,
          batch, keys, order)
      case None => Dedup.keepLatest(batch, keys, order)
    }
    merged.repartition(col("bucket"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket")
      .parquet(root)
  }

  /** Migrate the state to a different bucket count — the grow/shrink
    * path for a store whose per-bucket size has outlived its sizing
    * (merges bound cost by touched-bucket SIZE, so key-cardinality
    * growth eventually demands more buckets). One full read →
    * re-bucket → write to a sibling temp directory, then a two-step
    * metadata swap (delete + rename) — no driver/executor
    * materialization of the table, so the rewrite is one linear scan
    * at any scale. Contents are bucket-invariant: only the partition
    * column changes (the spec proves rescale ≡ identity on rows and
    * q241's merge chain hash-matches across a mid-chain rescale).
    * Returns the store handle at the new bucketing. */
  def rescale(newBuckets: Int): BucketedStateStore = {
    val next = new BucketedStateStore(spark, root, keys, newBuckets)
    val tmp = new org.apache.hadoop.fs.Path(root + ".rescale.tmp")
    val old = new org.apache.hadoop.fs.Path(root + ".rescale.old")
    val f = fs
    // crash recovery first (shared with readOpt — see
    // recoverInterruptedRescale; a naive delete-then-rename swap would
    // have no recovery point at all)
    recoverInterruptedRescale()
    if (f.exists(old)) f.delete(old, true) // completed attempt's leftover
    if (f.exists(tmp)) f.delete(tmp, true) // dead attempt's partial output
    next.withBucket(read().drop("bucket"))
      .repartition(col("bucket"))
      .write.partitionBy("bucket").parquet(tmp.toString)
    // two-rename swap: at every crash point either root or .old holds
    // a complete copy, and the recovery above knows which
    require(f.rename(rootPath, old),
      s"BucketedStateStore.rescale: rename $root -> $old failed")
    require(f.rename(tmp, rootPath),
      s"BucketedStateStore.rescale: rename $tmp -> $root failed")
    f.delete(old, true)
    next
  }
}
