package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.ParquetTable

/** Incremental exact-dedup of a document stream against the WHOLE
  * corpus seen so far — the crawl-ingest shape of an LLM training-data
  * pipeline: a new batch of documents is kept only where its content
  * hash is (a) unique within the batch and (b) absent from the
  * persisted hash store of everything previously accepted; accepted
  * hashes are appended to the store so the next batch (or the next
  * scheduled run — the checkpoint skips committed batches) dedups
  * against them.
  *
  * Delivery contract: the [[MicroBatch]] intake step (`accept` must be
  * an idempotent keyed upsert). Doc ids must be integral (they are
  * cast to long for component labels — string ids need a stable
  * id-assignment step upstream).
  *
  * This complements the in-stream variants in [[MicroBatchUpsert]]:
  * `dedupedWithinWatermark` bounds its state by the watermark, so it
  * can only dedup documents that arrive close together; a training
  * corpus needs dedup against ALL history, which no streaming state
  * store should hold — so history lives as a parquet hash table
  * (16 bytes + id per accepted doc, ~1000× smaller than the text) and
  * each micro-batch does one anti-join against it.
  *
  * Scale notes (100 TB corpus ≈ 10^10 hashes ≈ 300 GB store): the
  * per-batch anti-join shuffles the store on content_hash unless the
  * store is laid out for it — [[runBucketed]] keeps the store as a
  * table BUCKETED by content_hash (the BucketedJoinSpec pattern: the
  * store reads pre-clustered, only the small batch shuffles into the
  * store's bucketing — the spec asserts the single-Exchange plan).
  * [[run]] stays layout-agnostic (plain parquet directory) for
  * deployments where the store is small enough to shuffle.
  */
object StreamingCorpusDedup {

  /** NEAR-dup variant: incremental MinHash-LSH dedup of a document
    * stream against all accepted history. Each micro-batch:
    *  1. bands every doc (NearDup.bandedBuckets — the XXH64 scale
    *     path);
    *  2. dedups WITHIN the batch: bucket-collision pairs → connected
    *     components → only each component's minimum-id representative
    *     survives (same survivor contract as q60);
    *  3. drops survivors whose ANY band bucket collides with the
    *     persisted store of accepted docs' buckets;
    *  4. hands the fresh docs to `accept`, then appends their bucket
    *     rows to the store.
    *
    * Bucket collision is the LSH candidate test, used here as the
    * drop decision directly — recall-oriented (dropping a
    * false-positive candidate loses a doc; letting one through is
    * what batch near-dup sweeps (q57/q60) exist for). Store size is
    * numBands rows × 20 bytes per accepted doc — still ~100× smaller
    * than text. Scale layout: bucket the store table by
    * (band, band_hash) so the per-batch semi-join co-locates (see
    * class scaladoc).
    */
  def runNearDup(docs: DataFrame, idCol: String, textCol: String,
                 storeDir: String, checkpoint: String,
                 shingleSize: Int = 3, numBands: Int = 16,
                 rowsPerBand: Int = 4, maxBucket: Int = 1000)
                (accept: DataFrame => Unit): StreamingQuery =
    MicroBatch.drain(docs, checkpoint) { (batch, _) =>
      import graft.llm.{Components, NearDup}
      MicroBatch.intake(accept) { pin =>
        val hashed = batch.withColumn("__hs",
          NearDup.hashedShingles(NearDup.shingles(col(textCol), shingleSize)))
        val banded = pin(NearDup
          .bandedBuckets(hashed, idCol, col("__hs"), numBands, rowsPerBand))
        // (2) history hits for EVERY batch doc (not just survivors):
        // any shared (band, band_hash) bucket is a hit, and a hit on
        // a non-representative member must still poison its whole
        // component below.
        val hitIds = pin(ParquetTable.readIfPresent(batch.sparkSession, storeDir)
          .fold(banded.filter(lit(false))) { stored =>
            banded.join(stored.select(col("band"), col("band_hash")),
                        Seq("band", "band_hash"), "left_semi")
          }
          .select(col("doc")).distinct())
        // (3) in-batch components, poisoned by history hits
        val dropped = Components.historyDrops(
          NearDup.pairsFromBanded(banded, maxBucket), "id_a", "id_b", hitIds)
        (batch.join(dropped.withColumnRenamed("node", "__did"),
           col(idCol).cast("long") === col("__did"), "left_anti"),
         fresh => banded.join(fresh.select(col(idCol).as("__fid")),
                              col("doc") === col("__fid"), "left_semi")
           .select(col("doc"), col("band"), col("band_hash"))
           .write.mode("append").parquet(storeDir))
      }
    }

  /** EMBEDDING near-dup variant: incremental SEMANTIC dedup of an
    * embedding stream against all accepted history via SRP signature
    * buckets (the q51 bucketing). Per micro-batch:
    *  1. SRP-sign every vector (a per-row plan-literal projection, no
    *     shuffle), persisted once for all three consumers;
    *  2. in-batch: exact-cosine pairs within buckets, keep-lowest-id
    *     per pair (the [[graft.llm.Similarity.semanticDedup]] survivor
    *     contract);
    *  3. drop docs whose bucket already exists in the accepted-bucket
    *     store — the LSH candidate test as the drop decision, the
    *     same recall-oriented contract as [[runNearDup]] (the store
    *     holds NO vectors — bits/doc, not KB/doc — so there is no
    *     cosine re-verification against history; the batch sweeps
    *     q51/q90 are the precision pass);
    *  4. hand fresh rows to `accept`, append their (doc, bucket) rows.
    * `bits` is the recall/precision knob: each extra signature bit
    * halves bucket size (fewer false drops) and weakens cross-bucket
    * recall — the q51 trade, persisted. */
  def runEmbeddingNearDup(docs: DataFrame, idCol: String, vecCol: String,
                          storeDir: String, checkpoint: String, dim: Int,
                          bits: Int = 8, threshold: Double = 0.9)
                         (accept: DataFrame => Unit): StreamingQuery =
    MicroBatch.drain(docs, checkpoint) { (batch, _) =>
      val spark = batch.sparkSession
      import graft.llm.Similarity
      MicroBatch.intake(fresh => accept(fresh.drop("__bucket"))) { pin =>
        val sig = pin(batch.withColumn("__bucket",
          concat_ws("", Similarity.srpSignature(col(vecCol), dim, bits))))
        val inBatchDrop = sig.as("x").join(sig.as("y"),
            col("x.__bucket") === col("y.__bucket") &&
            col(s"x.$idCol") < col(s"y.$idCol"))
          .filter(graft.plans.NativeFunctions
            .cosineNative(spark, col(s"x.$vecCol"), col(s"y.$vecCol"))
            >= lit(threshold))
          .select(col(s"y.$idCol").as(idCol))
        val drops = ParquetTable.readIfPresent(spark, storeDir)
          .fold(inBatchDrop) { stored =>
            inBatchDrop.union(sig
              .join(stored.select(col("bucket").as("__bucket")),
                    Seq("__bucket"), "left_semi")
              .select(col(idCol)))
          }
        (sig.join(drops.distinct(), Seq(idCol), "left_anti"),
         _.select(col(idCol).as("doc"), col("__bucket").as("bucket"))
           .write.mode("append").parquet(storeDir))
      }
    }

  /** The per-batch history anti-join against the BUCKETED store —
    * exposed (not private) so the plan contract can be asserted: with
    * the store bucketed by content_hash, the sort-merge anti-join
    * needs exactly ONE Exchange (the small batch shuffling into the
    * store's buckets); the history side — the 300 GB at scale — reads
    * its buckets in place. An empty/absent store passes the batch
    * through untouched. */
  def freshVsBucketedStore(inBatch: DataFrame, storeTable: String): DataFrame = {
    val spark = inBatch.sparkSession
    if (!spark.catalog.tableExists(storeTable)) inBatch
    else inBatch.join(spark.table(storeTable).select(col("content_hash")),
                      Seq("content_hash"), "left_anti")
  }

  /** The per-batch history anti-join against the plain-directory
    * hash store of [[run]] (and [[StreamingWarcIntake]]): an absent
    * store passes the batch through with no join. */
  private[streaming] def freshVsStore(inBatch: DataFrame,
                                      storeDir: String): DataFrame =
    ParquetTable.readIfPresent(inBatch.sparkSession, storeDir)
      .fold(inBatch)(stored => inBatch.join(
        stored.select(col("content_hash")), Seq("content_hash"), "left_anti"))

  /** Bucketed-store variant of [[run]]: history lives as a managed
    * table bucketed+sorted by content_hash (`nBuckets` fixed for the
    * store's lifetime — Spark appends into the same bucket spec), so
    * the per-batch anti-join co-locates on the store side. At 10^10
    * accepted hashes this is the difference between re-shuffling
    * 300 GB per micro-batch and shuffling only the batch. */
  def runBucketed(docs: DataFrame, textCol: String, storeTable: String,
                  nBuckets: Int, checkpoint: String)
                 (accept: DataFrame => Unit): StreamingQuery =
    MicroBatch.drain(docs, checkpoint) { (batch, _) =>
      MicroBatch.intake(accept) { _ =>
        val inBatch = batch.withColumn("content_hash", md5(col(textCol)))
          .dropDuplicates("content_hash")
        (freshVsBucketedStore(inBatch, storeTable),
         _.select(col("content_hash"))
           .write.mode("append").format("parquet")
           .bucketBy(nBuckets, "content_hash").sortBy("content_hash")
           .saveAsTable(storeTable))
      }
    }

  /** One available-now pass: dedup each micro-batch against the store,
    * hand the survivors to `accept` (write to the corpus, forward
    * downstream, ...), then append their hashes to the store. */
  def run(docs: DataFrame, textCol: String, storeDir: String,
          checkpoint: String)(accept: DataFrame => Unit): StreamingQuery =
    MicroBatch.drain(docs, checkpoint) { (batch, _) =>
      MicroBatch.intake(accept) { _ =>
        // (a) unique within the batch: first arrival wins — an
        // arbitrary-but-deterministic pick via min over the batch's
        // own hash group would need an ordering column; batches are
        // unordered sets here, so full-row distinct then one-per-hash.
        val inBatch = batch.withColumn("content_hash", md5(col(textCol)))
          .dropDuplicates("content_hash")
        // (b) absent from the persisted corpus
        (freshVsStore(inBatch, storeDir),
         _.select(col("content_hash")).write.mode("append").parquet(storeDir))
      }
    }
}
