package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The wide stats table and matchup features (SURVEY §2.3 J1/J3).
  *
  * J1: the reference folds 221 per-stat tables into one 32×~1,500 wide
  * frame with 221 chained left-joins (team_rankings_scraper.py:229-235).
  * Chained joins are a plan-size hazard (superlinear analyzer cost,
  * 221 shuffle-or-broadcast stages). The scalable reformulation:
  * stack the inputs long (`unionByName`, narrow) and aggregate once by
  * key — exactly ONE shuffle regardless of table count. The stat list
  * is passed explicitly (known statically from the registry), so no
  * job collects the distinct stats.
  *
  * J3: matchup features — join the wide stats to both sides of a game
  * (two broadcast joins: stats are small per date) and difference the
  * sides (`*_matchup_differential`, config.py:6-101).
  */
object WideStats {

  /** Stack per-stat frames of shape (key, value) long:
    * (key, stat, value). */
  def stack(inputs: Seq[(String, DataFrame)], key: String,
            valueCol: String): DataFrame =
    inputs.map { case (stat, df) =>
      df.select(col(key), lit(stat).as("stat"), col(valueCol).cast("double").as("value"))
    }.reduce(_.unionByName(_))

  /** Long → wide in one shuffle. `stats` must cover all stat names. */
  def pivotWide(long: DataFrame, key: String, stats: Seq[String]): DataFrame =
    long.groupBy(col(key)).pivot("stat", stats).agg(first(col("value")))

  /** J1-equivalent over per-stat frames: stack + single pivot. */
  def wideTable(inputs: Seq[(String, DataFrame)], key: String,
                valueCol: String): DataFrame =
    pivotWide(stack(inputs, key, valueCol), key, inputs.map(_._1))

  /** Melt every non-key column into (key, stat, value-as-string) rows —
    * a narrow explode, no shuffle. String-typed so heterogeneous stat
    * tables union cleanly; the wide frame is re-typed afterwards by the
    * F11 coercion ladder, exactly like the reference's object→infer
    * flow. */
  def melt(df: DataFrame, key: String): DataFrame = {
    val stats = df.columns.filterNot(_ == key)
    df.select(col(key), explode(array(stats.toIndexedSeq.map(c =>
        struct(lit(c).as("stat"), col(c).cast("string").as("value"))): _*)).as("kv"))
      .select(col(key), col("kv.stat").as("stat"), col("kv.value").as("value"))
  }

  /** Full J1 over already-normalized per-spec tables (each keyed by
    * `key`, disjoint stat columns): melt each (narrow), union all
    * (narrow), then ONE aggregation by key — exactly one shuffle
    * regardless of table count, vs the reference's 221 chained
    * left-joins. A cell is the first non-null value of its (key, stat),
    * null when there is none, as `pivot("stat", stats).agg(first("value"))`
    * gives.
    *
    * Not `pivot` itself: its single-aggregate `PivotFirst` path only
    * takes values a mutable buffer can hold, so for these strings it
    * falls back to one `first(if (stat <=> s) value)` aggregate per stat,
    * with generated projections that grow with the stat count. Here the
    * aggregate collects the stats that carry a value and those values:
    * two `collect_list`s over the same rows that both skip null values,
    * so they stay aligned. One `transform` reads the static stat list
    * out of them; a stat's first position holds its first non-null
    * value. The plan holds two aggregate expressions for any number of
    * stats. The lambda references only the aggregate's outputs: a map or
    * struct field built from them inside it would be rebuilt per stat. */
  def wideFromTables(tables: Seq[DataFrame], key: String): DataFrame = {
    val stats = tables.flatMap(_.columns.filterNot(_ == key))
    val long = tables.map(melt(_, key)).reduce(_.unionByName(_))
    val row = long.groupBy(col(key))
      .agg(collect_list(when(col("value").isNotNull, col("stat"))).as("keys"),
           collect_list(col("value")).as("values"))
      .select(col(key), transform(typedLit(stats), s =>
        get(col("values"), array_position(col("keys"), s) - 1)).as("row"))
    row.select(col(key) +: stats.indices.map(i => col("row")(i).as(stats(i))): _*)
  }

  /** J3: join `stats` (keyed by `teamCol`) onto both sides of `games`
    * and emit home-/road-prefixed columns plus their differentials. */
  def matchupFeatures(games: DataFrame, stats: DataFrame, teamCol: String,
                      homeCol: String, roadCol: String,
                      statCols: Seq[String]): DataFrame = {
    def side(prefix: String): DataFrame =
      stats.select(
        (col(teamCol).as(s"${prefix}_team") +:
         statCols.map(c => col(c).as(s"${prefix}_$c"))): _*)
    val joined = games
      .join(broadcast(side("home")), col(homeCol) === col("home_team"))
      .join(broadcast(side("road")), col(roadCol) === col("road_team"))
    val diffs: Seq[Column] = statCols.map(c =>
      (col(s"home_$c") - col(s"road_$c")).as(s"${c}_matchup_differential"))
    joined.select((joined.columns.map(col) ++ diffs).toIndexedSeq: _*)
  }
}
