package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.{Cleaning, Geo, TimeFns, TypeCoercion}
import graft.queries.OracleSql.dsum
import graft.sources.OddsJsonFlattener
import graft.util.Exact.exactSum

/** Scalar-function operator queries (SURVEY §2.7, §2.2 P1/P6, §2.1 S6).
  * Several operators (record split, percent parse, symbol scrub, the
  * coercion ladder) act on scraped-string shapes that don't exist in the
  * testdata — so the query first CONSTRUCTS the pathological strings
  * deterministically from testdata keys (identically in the oracle SQL),
  * then applies the real library operator. This keeps the gate on the
  * operator semantics, not on fixture plumbing.
  */
object ScalarQueries {
  type Q = (SparkSession, String) => DataFrame

  // Embedded canonical odds fixture (FIXTURES.md §1, from the reference's
  // test_odds_collector.py:49-84): one game, one book, three markets.
  val oddsFixtureJson: String =
    """[{"id":"test_game_1","commence_time":"2025-10-30T20:00:00Z",
      |"home_team":"Kansas City Chiefs","away_team":"Las Vegas Raiders",
      |"bookmakers":[{"key":"fanduel","markets":[
      |{"key":"h2h","outcomes":[{"name":"Kansas City Chiefs","price":-200},
      |{"name":"Las Vegas Raiders","price":180}]},
      |{"key":"spreads","outcomes":[{"name":"Kansas City Chiefs","price":-110,"point":-7.5},
      |{"name":"Las Vegas Raiders","price":-110,"point":7.5}]},
      |{"key":"totals","outcomes":[{"name":"Over","price":-110,"point":45.5},
      |{"name":"Under","price":-110,"point":45.5}]}]}]}]""".stripMargin.replace("\n", "")

  val queries: Map[String, Q] = Map(
    // JSON field extraction from a string column (the events.props shape).
    "q14_json_extract" -> ((s, d) => {
      events(s, d)
        .select(Cleaning.safeInt(
                  regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1)).as("k"),
                col("value"))
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_value"))
    }),

    // F3: "W-L[-T]" record split on deterministically constructed records.
    "q15_record_split" -> ((s, d) => {
      val rec = concat(
        (col("o_orderkey") % 13).cast("string"), lit("-"),
        (col("o_custkey") % 7).cast("string"),
        when(col("o_orderkey") % 3 === 0,
             concat(lit("-"), (col("o_orderkey") % 4).cast("string")))
          .otherwise(lit("")))
      Cleaning.recordSplit(orders(s, d).select(col("o_orderkey"), rec.as("record")), "record")
        .groupBy(col("record_ties"))
        .agg(count(lit(1)).as("n"),
             sum(col("record_wins")).as("sum_wins"),
             sum(col("record_losses")).as("sum_losses"),
             sum(col("record_games_played")).as("sum_gp"))
    }),

    // F9: percent-string → fraction.
    "q16_percent_parse" -> ((s, d) => {
      val pct = concat(col("l_quantity").cast("int").cast("string"), lit("%"))
      graft.Tables.spreadSmall(lineitem(s, d))
        .select(col("l_returnflag"), Cleaning.percentToDouble(pct).as("frac"))
        .groupBy(col("l_returnflag"))
        .agg(count(col("frac")).as("n"), exactSum(col("frac")).as("sum_frac"))
    }),

    // F8 + P6: symbol scrub, empty→null, numeric recovery.
    "q17_scrub" -> ((s, d) => {
      val raw = when(col("o_orderkey") % 5 === 0, lit("--"))
        .when(col("o_orderkey") % 5 === 1,
              concat(lit("+"), (col("o_custkey") % 50).cast("string")))
        .otherwise((col("o_custkey") % 1000).cast("string"))
      orders(s, d)
        .select(col("o_orderstatus"),
                Cleaning.safeDouble(
                  Cleaning.emptyToNull(Cleaning.scrubSymbols(raw))).as("v"))
        .groupBy(col("o_orderstatus"))
        .agg(count(col("v")).as("n_valid"), exactSum(col("v")).as("sum_v"))
    }),

    // F11: the data-dependent coercion ladder on a constructed
    // pathological frame (FIXTURES.md §2 shape): `mixed` must be adopted
    // as double, `junk` must stay string with markers nulled, `allnull`
    // must stay string all-null.
    "q18_coercion" -> ((s, d) => {
      val base = events(s, d).select(
        col("event_type").as("team"),
        when(col("event_id") % 7 === 0, lit(""))
          .otherwise((col("event_id") % 100).cast("string")).as("mixed"),
        when(col("event_id") % 2 === 0, lit("None"))
          .otherwise(col("event_type")).as("junk"),
        lit("").as("allnull"),
        (col("event_id") % 50).cast("string").as("allint"))
      TypeCoercion.normalizeTypes(base)
        .groupBy(col("team"))
        .agg(count(col("mixed")).as("n_mixed"),
             exactSum(col("mixed")).as("sum_mixed"),
             count(col("junk")).as("n_junk"),
             count(col("allnull")).as("n_allnull"),
             sum(col("allint")).as("sum_allint"))
    }),

    // F13: haversine on key-derived coordinates.
    "q19_haversine" -> ((s, d) => {
      val d1 = Geo.haversineKm(
        (col("c_custkey") % 180 - 90).cast("double"),
        (col("c_custkey") % 360 - 180).cast("double"),
        (col("c_nationkey") * 7 % 180 - 90).cast("double"),
        (col("c_nationkey") * 13 % 360 - 180).cast("double"))
      customer(s, d)
        .select(col("c_nationkey"), d1.as("km"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"),
             round(sum(col("km")) / count(lit(1)), 3).as("avg_km"))
    }),

    // F12-adjacent: hour-of-day rollup (timestamp-part extraction).
    "q20_hourly" -> ((s, d) => {
      events(s, d)
        .groupBy(hour(col("ts")).as("hr"), col("event_type"))
        .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_value"))
    }),

    // S6/S7: generated hourly time index left-joined to observations —
    // the weather-frame shape (sequence+explode, no driver loop).
    "q21_hour_series" -> ((s, d) => {
      val idx = TimeFns.hourlyIndex(s, "2024-01-01 00:00:00", "2024-03-01 00:00:00")
      val ev = events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sumv"))
      idx.join(ev, idx("hour_ts") === ev("h"), "left")
        .select(date_format(col("hour_ts"), "yyyy-MM-dd HH").as("hour_str"),
                coalesce(col("n"), lit(0L)).as("n_events"),
                coalesce(col("sumv"), lit(0.0)).as("sum_value"))
    }),

    // P1/P2/O1: the odds 4-level JSON flatten on the canonical fixture.
    // The fixture is static and the output is 9 fixed columns, so the
    // oracle is the expected row set as a DuckDB VALUES table — full
    // rows/schema/hash check (golden per-field assertions also live in
    // OddsJsonFlattenerSpec).
    "q22_odds_flatten" -> ((s, d) => {
      import s.implicits._
      OddsJsonFlattener.flatten(Seq(oddsFixtureJson).toDF("json"))
    })
  )

  private val recordRe = "^(\\d+)-(\\d+)(?:-(\\d+))?$"

  val oracles: Map[String, String] = Map(
    "q14_json_extract" ->
      s"""SELECT TRY_CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INT) % 10 AS k_mod,
         |COUNT(*) AS n, ${dsum("value")} AS sum_value
         |FROM events GROUP BY 1""".stripMargin,

    "q15_record_split" ->
      s"""WITH r AS (SELECT
         |  CAST(o_orderkey%13 AS VARCHAR) || '-' || CAST(o_custkey%7 AS VARCHAR) ||
         |  CASE WHEN o_orderkey%3=0 THEN '-' || CAST(o_orderkey%4 AS VARCHAR) ELSE '' END AS record
         |  FROM orders),
         |s AS (SELECT
         |  COALESCE(TRY_CAST(regexp_extract(record,'$recordRe',1) AS INT),0) AS wins,
         |  COALESCE(TRY_CAST(regexp_extract(record,'$recordRe',2) AS INT),0) AS losses,
         |  COALESCE(TRY_CAST(regexp_extract(record,'$recordRe',3) AS INT),0) AS ties
         |  FROM r)
         |SELECT ties AS record_ties, COUNT(*) AS n,
         |  CAST(SUM(wins) AS BIGINT) AS sum_wins,
         |  CAST(SUM(losses) AS BIGINT) AS sum_losses,
         |  CAST(SUM(wins+losses+ties) AS BIGINT) AS sum_gp
         |FROM s GROUP BY ties""".stripMargin,

    "q16_percent_parse" ->
      s"""SELECT l_returnflag, COUNT(frac) AS n, ${dsum("frac")} AS sum_frac FROM (
         |  SELECT l_returnflag,
         |    TRY_CAST(regexp_replace(CAST(CAST(l_quantity AS INT) AS VARCHAR) || '%', '%$$', '') AS DOUBLE)/100 AS frac
         |  FROM lineitem)
         |GROUP BY l_returnflag""".stripMargin,

    "q17_scrub" ->
      s"""WITH raw AS (SELECT o_orderstatus,
         |  CASE WHEN o_orderkey%5=0 THEN '--'
         |       WHEN o_orderkey%5=1 THEN '+' || CAST(o_custkey%50 AS VARCHAR)
         |       ELSE CAST(o_custkey%1000 AS VARCHAR) END AS s1
         |  FROM orders)
         |SELECT o_orderstatus, COUNT(v) AS n_valid, ${dsum("v")} AS sum_v FROM (
         |  SELECT o_orderstatus,
         |    TRY_CAST(NULLIF(regexp_replace(regexp_replace(s1,'--',''),'\\+',''),'') AS DOUBLE) AS v
         |  FROM raw)
         |GROUP BY o_orderstatus""".stripMargin,

    "q18_coercion" ->
      s"""SELECT team, COUNT(mixed) AS n_mixed, ${dsum("mixed")} AS sum_mixed,
         |  COUNT(junk) AS n_junk, COUNT(allnull) AS n_allnull,
         |  CAST(SUM(allint) AS BIGINT) AS sum_allint FROM (
         |  SELECT event_type AS team,
         |    TRY_CAST(NULLIF(CASE WHEN event_id%7=0 THEN '' ELSE CAST(event_id%100 AS VARCHAR) END,'') AS DOUBLE) AS mixed,
         |    CASE WHEN event_id%2=0 THEN NULL ELSE event_type END AS junk,
         |    CAST(NULL AS VARCHAR) AS allnull,
         |    TRY_CAST(CAST(event_id%50 AS VARCHAR) AS BIGINT) AS allint
         |  FROM events)
         |GROUP BY team""".stripMargin,

    "q19_haversine" ->
      """SELECT c_nationkey, COUNT(*) AS n,
        |ROUND(SUM(12742.0176 * asin(sqrt(
        |  power(sin(radians(CAST(c_nationkey*7%180-90 AS DOUBLE) - CAST(c_custkey%180-90 AS DOUBLE))/2),2)
        |  + cos(radians(CAST(c_custkey%180-90 AS DOUBLE)))
        |    * cos(radians(CAST(c_nationkey*7%180-90 AS DOUBLE)))
        |    * power(sin(radians(CAST(c_nationkey*13%360-180 AS DOUBLE) - CAST(c_custkey%360-180 AS DOUBLE))/2),2)
        |)))/COUNT(*), 3) AS avg_km
        |FROM customer GROUP BY c_nationkey""".stripMargin,

    "q20_hourly" ->
      s"""SELECT hour(ts) AS hr, event_type, COUNT(*) AS n, ${dsum("value")} AS sum_value
         |FROM events GROUP BY 1, 2""".stripMargin,

    "q21_hour_series" ->
      s"""SELECT strftime(g.ts, '%Y-%m-%d %H') AS hour_str,
         |  COALESCE(e.n, 0) AS n_events, COALESCE(e.sumv, 0.0) AS sum_value
         |FROM generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-03-01', INTERVAL 1 HOUR) g(ts)
         |LEFT JOIN (SELECT date_trunc('hour', ts) AS h, COUNT(*) AS n,
         |  ${dsum("value")} AS sumv FROM events GROUP BY 1) e ON g.ts = e.h""".stripMargin,

    // The fixture is static, so the oracle is the expected flatten
    // output as literal rows (schema + every value checked).
    "q22_odds_flatten" ->
      """SELECT game_id, game_time, home_team, away_team, book, market,
        |  outcome, CAST(price AS DOUBLE) AS price, CAST(point AS DOUBLE) AS point
        |FROM (VALUES
        |  ('test_game_1','2025-10-30T20:00:00Z','Kansas City Chiefs','Las Vegas Raiders','fanduel','h2h','Kansas City Chiefs',-200,0.0),
        |  ('test_game_1','2025-10-30T20:00:00Z','Kansas City Chiefs','Las Vegas Raiders','fanduel','h2h','Las Vegas Raiders',180,0.0),
        |  ('test_game_1','2025-10-30T20:00:00Z','Kansas City Chiefs','Las Vegas Raiders','fanduel','spreads','Kansas City Chiefs',-110,-7.5),
        |  ('test_game_1','2025-10-30T20:00:00Z','Kansas City Chiefs','Las Vegas Raiders','fanduel','spreads','Las Vegas Raiders',-110,7.5),
        |  ('test_game_1','2025-10-30T20:00:00Z','Kansas City Chiefs','Las Vegas Raiders','fanduel','totals','Over',-110,45.5),
        |  ('test_game_1','2025-10-30T20:00:00Z','Kansas City Chiefs','Las Vegas Raiders','fanduel','totals','Under',-110,45.5)
        |) AS t(game_id, game_time, home_team, away_team, book, market, outcome, price, point)""".stripMargin
  )
}
