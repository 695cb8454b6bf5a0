package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) layout: interleave the bits of two dimension
  * columns so that sorting by the single z-value co-locates rows that
  * are close in BOTH dimensions. The point at 100 TB is scan pruning:
  * parquet keeps per-file/row-group min-max stats per column, and
  * after a z-layout every file covers a narrow rectangle of the
  * (x, y) space — so a predicate on EITHER dimension skips most files,
  * where a linear sort on x leaves y's stats useless (every file
  * spans the full y range). This is the same layout trick lakehouse
  * table formats expose as `OPTIMIZE ... ZORDER BY`.
  *
  * Everything is integer bit arithmetic (shift/and/or on longs — no
  * overflow under ANSI for bits ≤ 31), deterministic, and expressible
  * in any SQL engine, so the layout decision itself is
  * oracle-checkable (q64 verifies z-values and the per-z-range
  * min-max rectangles that pruning would use).
  */
object ZOrder {

  /** Morton z-value of the low `bits` bits of two non-negative
    * integer columns: bit b of x lands at position 2b, bit b of y at
    * 2b+1. Callers mask inputs (`x.bitwiseAND(lit((1L << bits) - 1))`)
    * if they may exceed `bits` bits. */
  def zValue(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    (0 until bits).map { b =>
      shiftleft(shiftright(x, b).bitwiseAND(lit(1L)), 2 * b)
        .bitwiseOR(shiftleft(shiftright(y, b).bitwiseAND(lit(1L)), 2 * b + 1))
    }.reduce(_ bitwiseOR _)
  }
}
