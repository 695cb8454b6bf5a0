package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.functions.Cleaning

/** S2/S3 + the per-table normalization pipeline (SURVEY §3.3 step 1b,
  * reference `_postprocess_df`, team_rankings_scraper.py:172-195).
  *
  * The HTML fetch itself is a driver-side shim (tests inject fixture
  * frames); everything after the fetch is the real operator chain:
  *   F1 strip "(W-L-T)" from Team → F3 split record columns → F4
  *   lowercase → F6 despace → F7 year renames → F5 category_table_
  *   prefix.
  * The final cross-table pass (F8 scrub → F9 percent → ''→null) runs
  * once over the assembled wide frame (team_rankings_scraper.py:236-239).
  */
object TeamRankingsNormalizer {

  /** One row of the scrape registry (the reference's 221-row xlsx,
    * team_rankings_scraper.py:15-16) — category/table name the column
    * prefix; recordCols name "W-L[-T]" columns to split. */
  case class TableSpec(category: String, tableName: String, baseUrl: String,
                       colsToKeep: Seq[String], recordCols: Seq[String])

  /** A small representative registry slice (shape of xlsx rows 1-16 +
    * 17-221) for tests and demos. */
  val sampleRegistry: Seq[TableSpec] = Seq(
    TableSpec("rankings", "predictive", "https://example/rankings/predictive",
      Seq("Team", "Rating", "v 1-5"), Seq("v 1-5")),
    TableSpec("offense", "scoring", "https://example/stats/points-per-game",
      Seq("Team", "2025", "Last 3", "Home", "2024"), Nil))

  /** The FULL 221-row registry, converted verbatim from the reference's
    * `urls_team_rankings.xlsx` (team_rankings_scraper.py:15-16) into a
    * pipe-delimited resource. `{year}`/`{last_year}` placeholders in
    * cols_to_keep are materialized to concrete years so the F7
    * year-rename path runs exactly as it does on scraped tables. */
  lazy val registry: Seq[TableSpec] = {
    val in = getClass.getResourceAsStream("/graft/team_rankings_registry.csv")
    require(in != null, "registry resource missing")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try {
      src.getLines().drop(1).map { line =>
        val f = line.split('|').padTo(5, "")
        def list(s: String): Seq[String] = s.split(',').iterator
          .map(_.trim).filter(_.nonEmpty)
          .map(c => c.replace("{year}", "2025").replace("{last_year}", "2024"))
          .toSeq
        TableSpec(f(0), f(1), f(2), list(f(3)), list(f(4)))
      }.toVector
    } finally src.close()
  }

  /** The column names [[normalizeTable]] produces for one spec's table
    * (excluding `team`): non-record kept columns in order, then each
    * record column's four split ints, all lowercased/despaced/
    * year-renamed/prefixed. This is the wide table's static schema —
    * known from the registry alone, which is what lets the wide pivot
    * skip its distinct-collect job. */
  def expectedColumns(spec: TableSpec): Seq[String] = {
    val plain = spec.colsToKeep.filterNot(spec.recordCols.contains)
      .filterNot(_.equalsIgnoreCase("team"))
    val split = plain ++ spec.recordCols.flatMap(c =>
      Seq(s"${c}_wins", s"${c}_losses", s"${c}_ties", s"${c}_games_played"))
    Cleaning.prefixNames(
      Cleaning.renameYearNames(
        Cleaning.despaceNames(
          Cleaning.lowercaseNames(split))),
      s"${spec.category}_${spec.tableName}_", except = Set.empty)
  }

  /** Offline stand-in for the HTML fetch (the HTTP boundary is a
    * driver-side shim, SURVEY §2.1 S2): a deterministic 32-team table
    * shaped exactly by `spec` — Team (with the "(W-L)" suffix the real
    * pages carry) + cols_to_keep, record columns as "W-L[-T]" strings. */
  def offlineFixture(spark: org.apache.spark.sql.SparkSession,
                     spec: TableSpec): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val cols = "Team" +: spec.colsToKeep
    val schema = StructType(cols.map(StructField(_, StringType)))
    val rows = (0 until 32).map { i =>
      Row.fromSeq(s"team_$i (3-2)" +: spec.colsToKeep.map { c =>
        if (spec.recordCols.contains(c)) s"${i % 5}-${(i + 1) % 5}"
        else s"${(i * 31 + math.abs(c.hashCode) % 97) % 1000 / 10.0}"
      })
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
  }

  /** Normalize one scraped table per its spec. */
  def normalizeTable(raw: DataFrame, spec: TableSpec): DataFrame = {
    // F1: team name carries a "(W-L-T)" suffix on ranking tables
    val named =
      if (raw.columns.contains("Team"))
        raw.withColumn("Team", Cleaning.stripRecordSuffix(col("Team")))
      else raw
    // F3: split each declared record column into 4 int columns
    val split = spec.recordCols.foldLeft(named)((df, c) => Cleaning.recordSplit(df, c))
    // F4 → F6 → F7 → F5 (schema transforms, in reference order)
    Cleaning.prefixCols(
      Cleaning.renameYearCols(
        Cleaning.despaceCols(
          Cleaning.lowercaseCols(split))),
      s"${spec.category}_${spec.tableName}_", except = Set("team"))
  }

  /** The final wide-frame pass (F8 scrub, F9 percent, P6 empty→null)
    * over every string column; other columns pass through. Same result
    * as `emptyToNull(percentParse(scrubSymbols(c)))` per column, run as
    * four chained lambdas over one `array` of the string columns:
    * scrub; the percent test and the stripped cell, kept in a struct;
    * the percent parse; empty→null. Each lambda reads its element, not
    * the expression that made it, so every step runs once per cell, and
    * the optimized plan holds 3 regexp_replace and 2 RLIKE for any
    * width. Higher-order functions are evaluated interpreted, so the
    * generated code does not grow with the column count either.
    * Per-column projections of the same chain would carry 3 fields per
    * column, and past `spark.sql.codegen.maxFields` they leave
    * whole-stage codegen and compile as one wide UnsafeProjection per
    * stage. A second projection reads the array back into the columns;
    * it references the array once per column, so CollapseProject keeps
    * the lambdas below it, evaluated once per row. */
  def finalPass(wide: DataFrame): DataFrame = {
    val fields = wide.schema.fields.toIndexedSeq
    val strings = fields.indices.filter(fields(_).dataType == StringType)
    if (strings.isEmpty) return wide
    val cleaned =
      transform(
        transform(
          transform(
            transform(array(strings.map(i => col(fields(i).name)): _*), Cleaning.scrubSymbols(_)),
            c => struct(c.as("s"), Cleaning.isPercent(c).as("pct"),
              Cleaning.stripPercent(c).as("num"))),
          x => Cleaning.percentFrom(x("pct"), x("num"), x("s"))),
        Cleaning.emptyToNull(_))
    val slot = strings.zipWithIndex.toMap
    wide.select(fields.filterNot(_.dataType == StringType).map(f => col(f.name)) :+
        cleaned.as("__fp"): _*)
      .select(fields.indices.map(i => slot.get(i).fold(col(fields(i).name))(j =>
        col("__fp")(j).as(fields(i).name))): _*)
  }
}
