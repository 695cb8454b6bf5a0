package graft.sources

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._

/** Pin one upsert batch and learn which partitions it touches, in ONE
  * Spark job. Both partitioned stores consume a batch several times —
  * the touched-partition lookup, the merge with the stored side (a
  * broadcast key set and a union side for the newest-batch merge), the
  * write — and without the pin every consumer re-runs the batch's whole
  * lineage (for the rankings collection: the melt, the wide pivot, the
  * final pass and the key dedup). The touched set rides the pin's own
  * materialization as an `observe()` metric, so it describes exactly the
  * rows the merge and write will see.
  *
  * Both results are bounded by the batch, not by the table: the pin is
  * one collection cycle (or one micro-batch), the touched set a few
  * partition values. The pin drops the batch's lineage: an executor lost
  * mid-upsert fails the upsert instead of recomputing the lost blocks,
  * and the caller's scheduler retries it.
  */
private[sources] object PinnedBatch {

  /** `batch` materialized once with `localCheckpoint`, and the distinct
    * values of `partCols` its rows carry (one Row per touched partition,
    * fields in `partCols` order; empty for an empty batch). */
  def pin(batch: DataFrame, partCols: Seq[String]): (DataFrame, Seq[Row]) = {
    val obs = Observation()
    val pinned = batch
      .observe(obs, collect_set(struct(partCols.map(col): _*)).as("touched"))
      .localCheckpoint()
    val touched = obs.get.get("touched")
      .map(_.asInstanceOf[scala.collection.Seq[Row]].toSeq)
      .getOrElse(Seq.empty[Row])
    (pinned, touched)
  }
}
