package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.ParquetTable

/** Incremental PERCEPTUAL image dedup of a media stream against the
  * whole accepted corpus — the multimodal twin of
  * [[StreamingCorpusDedup]]: each micro-batch decodes its images
  * (container-sniffed BMP/PNG/GIF/JPEG), resizes to 8×8 and takes the
  * 64-bit aHash, then a new image survives only when no
  * perceptually-equivalent image (Hamming ≤ maxBits) exists in the
  * batch or in history. Near-dup candidates come from 8-bit hash
  * BANDS (the pigeonhole guarantee: with maxBits < 8 bands, any
  * within-budget pair shares at least one exact band), and — unlike
  * the text LSH variant, whose store holds no content to verify
  * against — every candidate is VERIFIED against the stored full
  * 64-bit hash, so a band collision alone never drops an image.
  *
  * Delivery contract: the [[MicroBatch]] intake step (`accept` must be
  * an idempotent keyed upsert; spec-proven under replay).
  *
  * Scale shape: decode/hash is narrow (per-row, in-task); the store
  * holds 8 band rows × (8-byte hash + key) per accepted image —
  * bytes per image, never pixels; the per-batch candidate join
  * touches only colliding buckets. Lay the store out bucketed by
  * (band, band_key) at corpus scale (the runBucketed pattern). */
object StreamingImageDedup {

  private val NumBands = 8 // 8 bits each over the 64-bit aHash

  private def bandsOf(df: DataFrame, idCol: String): DataFrame =
    df.select(col(idCol), col("bits"),
      posexplode(array((0 until NumBands).map(b =>
        substring(col("bits"), b * 8 + 1, 8)): _*))
        .as(Seq("band", "band_key")))

  /** Run the dedup over a stream of (idCol, mediaCol) rows. Fresh
    * (perceptually novel) rows go to `accept`; their band rows append
    * to the store. */
  def run(images: DataFrame, idCol: String, mediaCol: String,
          storeDir: String, checkpoint: String, maxBits: Int = 6)
         (accept: DataFrame => Unit): StreamingQuery = {
    require(maxBits >= 0 && maxBits < NumBands,
      s"maxBits must stay below $NumBands for the pigeonhole guarantee")
    MicroBatch.drain(images, checkpoint) { (batch, _) =>
      val spark = batch.sparkSession
      import spark.implicits._
      import graft.llm.{Components, Multimodal, NearDup}
      MicroBatch.intake(accept) { pin =>
        val rows = batch
          .select(col(idCol).cast("long"), col(mediaCol))
          .as[(Long, Array[Byte])]
          .map { case (id, m) => Multimodal.MediaRow(id, m, "image") }
        val hashed = pin(Multimodal.perceptualHash64( // (image_id, bits)
          Multimodal.extractResizedBmp(rows, 8, 8).toDF(), "id", "features"))
        val banded = pin(bandsOf(hashed, "image_id"))
        // history hits for EVERY batch image (a hit on a
        // non-representative member must poison its whole component),
        // each band collision verified against the stored full hash
        val hitIds = pin(ParquetTable.readIfPresent(spark, storeDir)
          .fold(banded.filter(lit(false))) { stored =>
            banded.join(stored.select(col("band"), col("band_key"),
                                      col("bits").as("__st_bits")),
                        Seq("band", "band_key"))
              .filter(NearDup.hammingBits(col("bits"), col("__st_bits"))
                <= maxBits)
          }
          .select(col("image_id")).distinct())
        // in-batch near-dup components: band-collision candidates,
        // Hamming-verified, min-id representative survives (q60)
        val pairs = banded.as("a").join(banded.as("b"),
            col("a.band") === col("b.band") &&
              col("a.band_key") === col("b.band_key") &&
              col("a.image_id") < col("b.image_id"))
          .filter(NearDup.hammingBits(col("a.bits"), col("b.bits"))
            <= maxBits)
          .select(col("a.image_id").as("id_a"),
                  col("b.image_id").as("id_b"))
          .distinct()
        val dropped = Components.historyDrops(pairs, "id_a", "id_b", hitIds)
        (batch.join(dropped.withColumnRenamed("node", "__did"),
           col(idCol).cast("long") === col("__did"), "left_anti"),
         fresh => banded.join(
             fresh.select(col(idCol).cast("long").as("__fid")),
             col("image_id") === col("__fid"), "left_semi")
           .select(col("image_id"), col("band"), col("band_key"), col("bits"))
           .write.mode("append").parquet(storeDir))
      }
    }
  }
}
