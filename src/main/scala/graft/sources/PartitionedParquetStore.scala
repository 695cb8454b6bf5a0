package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.util.Pin._

/** The reference's "storage engine" (SURVEY §1.4, §2.4, §2.8):
  * Hive-partitioned Parquet (`year=YYYY/month=MM`) with two upsert
  * flavors — history-preserving distinct (odds, K2+A1) and keyed
  * keep-latest (team-rankings, K2+A2).
  *
  * Spark-first mapping:
  *  - partitions derived from the timestamp column at write
  *    (`partitionBy("year","month")`) → readers get automatic partition
  *    pruning for time-range queries (the reference computes month keys
  *    by hand, README.md:120-140);
  *  - upsert = read ONLY the partitions the fresh batch touches
  *    (pruned scan), union+dedup, write with
  *    partitionOverwriteMode=dynamic so untouched months never rewrite
  *    — the reference's read-modify-write of one monthly S3 object,
  *    generalized (odds_data_collector.py:31-51);
  *  - missing table ⇒ start fresh (s3_client.py:141-145's None ⇒
  *    start-fresh semantics, decided by [[ParquetTable]]).
  *
  * Every upsert evaluates its batch ONCE: the batch (partition columns
  * added, key-deduped for [[upsertNewestBatch]]) is pinned, and the pin's
  * own job observes its touched months. A separate distinct-collect for
  * the months would re-run the batch's whole lineage — for the rankings
  * collection the melt, the wide build, the final pass and the key
  * dedup — and so would every consumer of an unpinned batch: the write,
  * and for the newest-batch merge both its broadcast key set and its
  * union side.
  *
  * At 100 TB the per-upsert cost stays bounded by the touched months,
  * not the table; the dedup shuffle is also partition-bounded, and the
  * pin holds one collection cycle. A log-structured MERGE (Delta-style)
  * would avoid the rewrite entirely, but dynamic overwrite reproduces
  * reference semantics exactly.
  */
class PartitionedParquetStore(spark: SparkSession, root: String) {

  private def withPartitionCols(df: DataFrame, tsCol: String): DataFrame =
    df.withColumn("year", year(col(tsCol)))
      .withColumn("month", month(col(tsCol)))

  /** The whole table, or None when it doesn't exist yet — the
    * [[ParquetTable]] presence rule. */
  def readOpt(): Option[DataFrame] = ParquetTable.readIfPresent(spark, root)

  /** S5/P3/P4: projected, partition-pruned read. `months` filters on the
    * partition columns (pruned at planning — no data touched outside);
    * `columns` projects (pruned at the parquet scan). */
  def read(months: Seq[(Int, Int)] = Nil, columns: Seq[String] = Nil): DataFrame = {
    val base = readOpt().getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    val pruned =
      if (months.isEmpty) base
      else base.filter(
        months.map { case (y, m) => col("year") === y && col("month") === m }
          .reduce(_ || _))
    if (columns.isEmpty) pruned else pruned.select(columns.map(col): _*)
  }

  /** Reference layout contract: ONE file per month partition
    * (odds_data_collector.py:28 — a single S3 object per month).
    * `repartition(year, month)` routes each month to exactly one task,
    * so each partition directory gets one file; a month is bounded by
    * the collection cadence, so this holds at scale (unlike a global
    * coalesce(1)). */
  private def writeDynamic(df: DataFrame): Unit =
    df.repartition(col("year"), col("month"))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("year", "month")
      .parquet(root)

  /** Pin the batch (partition columns already added) and return it
    * with the stored rows of exactly the months it touches — a pruned
    * scan, planned with the months the pin observed — or None when the
    * table does not exist yet. The months cost no extra job, and no
    * consumer below re-runs the batch's lineage. Null-safe equality
    * keeps a null-timestamp month (`__HIVE_DEFAULT_PARTITION__`) in the
    * merge instead of letting the overwrite drop its stored rows. */
  private def pinWithTouched(fresh: DataFrame): (DataFrame, Option[DataFrame]) = {
    val (batch, m) = fresh.pinObserving(
      collect_set(struct(col("year"), col("month"))).as("touched"))
    val touched = m("touched").asInstanceOf[scala.collection.Seq[Row]]
    val stored = readOpt().map(_.filter(
      touched.map(r => col("year") <=> r.get(0) && col("month") <=> r.get(1))
        .reduceOption(_ || _).getOrElse(lit(false))))
    (batch, stored)
  }

  /** K2+A1: history-preserving upsert — full-row distinct on the merged
    * partitions. Idempotent: re-running the same batch is a no-op. */
  def upsertDistinct(freshRaw: DataFrame, tsCol: String): Unit = {
    val (fresh, stored) = pinWithTouched(withPartitionCols(freshRaw, tsCol))
    writeDynamic(stored match {
      case Some(existing) => Dedup.distinctUnion(existing, fresh)
      case None           => fresh.distinct()
    })
  }

  /** K2+A2: keyed keep-latest upsert — newest `tsCol` wins per `keys`
    * (all non-timestamp columns in the reference,
    * team_rankings_data_collector.py:42-45). */
  def upsertKeepLatest(freshRaw: DataFrame, keys: Seq[String], tsCol: String): Unit = {
    val (fresh, stored) = pinWithTouched(withPartitionCols(freshRaw, tsCol))
    val unioned = stored.fold(fresh)(_.unionByName(fresh, allowMissingColumns = true))
    writeDynamic(
      Dedup.keepLatest(unioned, keys, Seq(col(tsCol).desc)))
  }

  /** K2+A2 fast path for the live-collection contract: the fresh batch
    * carries the NEWEST timestamp for every key it touches (true for
    * every scheduled collection run — `tsCol` is stamped at collection
    * time), so keep-latest degenerates to "batch wins its keys". The
    * batch is key-deduped with a window over the batch alone (tiny) and
    * pinned, then merged with a broadcast anti-join: the existing
    * table's plan is scan → anti → union — ZERO shuffle of stored data,
    * vs [[upsertKeepLatest]]'s window over the whole touched partition.
    * Result is identical to upsertKeepLatest whenever the
    * newest-batch precondition holds. */
  def upsertNewestBatch(freshRaw: DataFrame, keys: Seq[String], tsCol: String): Unit = {
    val (fresh, stored) = pinWithTouched(Dedup.keepLatest(
      withPartitionCols(freshRaw, tsCol), keys, Seq(col(tsCol).desc)))
    writeDynamic(stored.fold(fresh)(Dedup.mergeSmallUpdates(_, fresh, keys)))
  }
}
