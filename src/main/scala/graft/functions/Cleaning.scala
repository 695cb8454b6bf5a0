package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Column-level cleaning/normalization functions (SURVEY §2.7).
  * All are native Catalyst expressions — no UDFs — so they push through
  * the optimizer and are code-generated. Whole-stage codegen takes a
  * projection only up to `spark.sql.codegen.maxFields` (100) output
  * fields; a wider one compiles as its own UnsafeProjection, whose
  * source grows with the column count. Inside a lambda (`transform`)
  * they are evaluated interpreted, which keeps the generated code the
  * same size for any number of columns.
  */
object Cleaning {

  /** F1: strip a trailing " (W-L-T)" record suffix from a team name.
    * Reference: team_rankings_scraper.py:20-32. */
  def stripRecordSuffix(c: Column): Column =
    regexp_replace(c, "\\s\\(.*\\)", "")

  private val recordRe = "^(\\d+)-(\\d+)(?:-(\\d+))?$"

  // Codegen-friendly "try" casts: TryCast runs interpreted per row
  // (see TypeCoercion), so guard a plain ANSI cast with an rlike on the
  // numeric-literal grammar instead — null on no-match, cast otherwise.
  private val numRe = "^\\s*[+-]?((\\d+\\.?\\d*)|(\\.\\d+))([eE][+-]?\\d+)?\\s*$"
  private val intRe = "^\\s*[+-]?\\d+\\s*$"

  def safeDouble(c: Column): Column = when(c.rlike(numRe), c.cast("double"))
  def safeInt(c: Column): Column = when(c.rlike(intRe), c.cast("int"))

  /** F3: split a "W-L[-T]" record string column into four int columns
    * `{name}_wins/_losses/_ties/_games_played` and drop the source.
    * Missing ties → 0. Reference: team_rankings_scraper.py:48-82.
    * try_cast keeps this ANSI-safe for unparseable cells. */
  def recordSplit(df: DataFrame, name: String): DataFrame = {
    def part(group: Int): Column =
      coalesce(safeInt(regexp_extract(col(name), recordRe, group)), lit(0))
    df.withColumn(s"${name}_wins", part(1))
      .withColumn(s"${name}_losses", part(2))
      .withColumn(s"${name}_ties", part(3))
      .withColumn(s"${name}_games_played",
        col(s"${name}_wins") + col(s"${name}_losses") + col(s"${name}_ties"))
      .drop(name)
  }

  /** F9: "75.5%" → "0.755"; NON-percent cells pass through UNCHANGED —
    * reference parity (team_rankings_scraper.py:133-141 returns x
    * untouched unless it's a string ending in '%'), which matters when
    * the pass runs over mixed columns like team names. The reference's
    * only element-wise "UDF", re-expressed as a codegen-friendly native
    * expression. */
  def percentParse(c: Column): Column =
    percentFrom(isPercent(c), stripPercent(c), c)

  /** F9's tests on a cell: does it end in '%', and the cell without it. */
  def isPercent(c: Column): Column = c.rlike("%$")
  def stripPercent(c: Column): Column = regexp_replace(c, "%$", "")

  /** [[percentParse]] from its parts: `isPct`/`stripped` are
    * [[isPercent]]/[[stripPercent]] of `raw`. A caller that computed the
    * parts once, as columns of an earlier projection, passes those
    * columns, so the expression does not repeat its input. */
  def percentFrom(isPct: Column, stripped: Column, raw: Column): Column =
    when(isPct, (safeDouble(stripped) / 100).cast("string")).otherwise(raw)

  /** Numeric variant of F9 for all-numeric columns: percent → fraction,
    * plain numerics parsed, anything else null. */
  def percentToDouble(c: Column): Column =
    when(isPercent(c), safeDouble(stripPercent(c)) / 100)
      .otherwise(safeDouble(c))

  /** F8: scrub "--" and "+" symbols (team_rankings_scraper.py:127-131). */
  def scrubSymbols(c: Column): Column =
    regexp_replace(regexp_replace(c, "--", ""), "\\+", "")

  /** P6: empty string → null (team_rankings_data_collector.py:26). */
  def emptyToNull(c: Column): Column =
    when(c === "", lit(null).cast("string")).otherwise(c)

  /** F11 tail: pandas stringified-missing markers → null (s3_client.py:96-98). */
  def nullOutMarkers(c: Column): Column =
    when(c.isin("None", "nan", "<NA>", "NaN"), lit(null).cast("string")).otherwise(c)

  /** F4: lowercase all column names (schema transform). */
  def lowercaseCols(df: DataFrame): DataFrame = renamed(df)(lowercaseNames)
  def lowercaseNames(names: Seq[String]): Seq[String] = names.map(_.toLowerCase)

  /** F6: strip spaces from column names. */
  def despaceCols(df: DataFrame): DataFrame = renamed(df)(despaceNames)
  def despaceNames(names: Seq[String]): Seq[String] = names.map(_.replace(" ", ""))

  /** F5: prefix every column except `except` — namespaces the wide stats
    * table ({category}_{table}_{stat}, team_rankings_scraper.py:96-113). */
  def prefixCols(df: DataFrame, prefix: String, except: Set[String]): DataFrame =
    renamed(df)(prefixNames(_, prefix, except))
  def prefixNames(names: Seq[String], prefix: String, except: Set[String]): Seq[String] =
    names.map(c => if (except(c)) c else s"$prefix$c")

  /** F7: rename year-named columns positionally — first "2000".."2100"
    * column → this_yr, second → last_yr (team_rankings_scraper.py:143-150). */
  def renameYearCols(df: DataFrame): DataFrame = renamed(df)(renameYearNames)
  def renameYearNames(names: Seq[String]): Seq[String] = {
    val yearRe = "^2[01]\\d\\d$".r
    var seen = 0
    names.map { c =>
      if (yearRe.matches(c)) {
        seen += 1
        if (seen == 1) "this_yr" else if (seen == 2) "last_yr" else c
      } else c
    }
  }

  private def renamed(df: DataFrame)(f: Seq[String] => Seq[String]): DataFrame =
    df.toDF(f(df.columns.toIndexedSeq): _*)

  /** Apply f to every string-typed column, keeping names/positions. */
  def mapStringCols(df: DataFrame, f: Column => Column): DataFrame = {
    val cols = df.schema.fields.map { fld =>
      if (fld.dataType == StringType) f(col(fld.name)).as(fld.name)
      else col(fld.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }
}
