package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding post-processing: symmetric int8 quantization
  * (x → round(x·127/max|x|)) — per-row array transforms,
  * codegen-friendly, no shuffle. Quantization is the storage-shrink
  * path for 100 TB embedding corpora (4 bytes/dim → 1). */
object Quantize {

  /** Symmetric int8 quantization against the vector's own max-abs. */
  def quantizeInt8(vec: Column, maxAbs: Column): Column =
    transform(vec.cast("array<double>"),
              x => round(x * 127.0 / maxAbs, 0).cast("long"))

  def maxAbs(vec: Column): Column =
    array_max(transform(vec.cast("array<double>"), x => abs(x)))
}
