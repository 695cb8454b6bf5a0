package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Row-level table reconciliation — the anti-entropy check a pipeline
  * runs between a source snapshot and its replicated/migrated copy,
  * and the complement of Profiler.diff (which compares column
  * PROFILES; this names the exact ROWS that differ). Emits only
  * differences: keys present on one side (added/removed) and keys
  * whose compared columns differ (changed, with the offending column
  * list) — identical rows, the overwhelming majority, never leave the
  * join.
  *
  * Scale shape: one full-outer shuffle join on the key (both sides
  * exchange once — the unavoidable minimum for row-level comparison;
  * with bucketed tables even that exchange disappears). Comparison is
  * null-safe (`<=>`), so NULL→value and value→NULL both read as
  * changes, not misses. */
object TableDiff {

  /** Diff `b` (new) against `a` (old) on `keys`. Returns
    * (keys*, status ∈ added|removed|changed, changed_cols). */
  def rowDiff(a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame = {
    require(a.columns.sameElements(b.columns),
      "rowDiff expects identical schemas (use Profiler.diff for drift)")
    val compareCols = a.columns.filterNot(keys.contains).toSeq
    val al = a.select(a.columns.map(c => col(c).as(s"a_$c")).toSeq: _*)
      .withColumn("__pa", lit(1))
    val bl = b.select(b.columns.map(c => col(c).as(s"b_$c")).toSeq: _*)
      .withColumn("__pb", lit(1))
    val cond = keys.map(k => col(s"a_$k") === col(s"b_$k")).reduce(_ && _)
    val joined = al.join(bl, cond, "full_outer")
    val keyOut = keys.map(k => coalesce(col(s"a_$k"), col(s"b_$k")).as(k))
    val anyChanged = compareCols
      .map(c => !(col(s"a_$c") <=> col(s"b_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val changedList = concat_ws(",", compareCols.map(c =>
      when(!(col(s"a_$c") <=> col(s"b_$c")), lit(c))): _*)
    joined
      .select(keyOut :+
        when(col("__pa").isNull, lit("added"))
          .when(col("__pb").isNull, lit("removed"))
          .when(anyChanged, lit("changed")).as("status") :+
        when(col("__pa").isNotNull && col("__pb").isNotNull && anyChanged,
             changedList).as("changed_cols"): _*)
      .filter(col("status").isNotNull)
  }
}
