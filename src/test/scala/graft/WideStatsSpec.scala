package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

import graft.operators.WideStats

class WideStatsSpec extends SparkSpec {
  import spark.implicits._

  /** What [[WideStats.wideFromTables]] must equal: Spark's own pivot of
    * the melted rows, first value per (key, stat). */
  private def pivotOracle(tables: Seq[DataFrame], key: String): DataFrame = {
    val stats = tables.flatMap(_.columns.filterNot(_ == key))
    tables.map(WideStats.melt(_, key)).reduce(_.unionByName(_))
      .groupBy(col(key)).pivot("stat", stats).agg(first(col("value")))
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("wide build equals the pivot oracle on duplicate, missing, all-null and null-key cells") {
    val a = Seq[(String, String, String)](
      ("KC", null, null), // duplicate (KC, a_x) whose first value is null
      ("KC", "7", null),
      ("BUF", "3.5%", null),
      (null, "9", null)   // null team key
    ).toDF("team", "a_x", "a_none") // a_none: null for every team
    val b = Seq(("KC", 28), ("MIA", 17)).toDF("team", "b_ppg") // BUF missing
    val wide = WideStats.wideFromTables(Seq(a, b), "team")
    val oracle = pivotOracle(Seq(a, b), "team")
    assert(wide.schema === oracle.schema)
    assert(wide.columns.toSeq === Seq("team", "a_x", "a_none", "b_ppg"))
    assert(rows(wide) === rows(oracle))
    val byTeam = wide.collect().map(r => Option(r.getString(0)) -> r).toMap
    assert(byTeam.keySet === Set(Some("KC"), Some("BUF"), Some("MIA"), None))
    assert(byTeam(Some("KC")).getString(1) === "7")
    assert(byTeam(Some("KC")).getString(3) === "28")
    assert(byTeam(Some("BUF")).isNullAt(3))
    assert(byTeam(Some("MIA")).isNullAt(1))
    assert(byTeam(None).getString(1) === "9")
    assert(byTeam.values.forall(_.isNullAt(2)))
  }

  test("wide build: aggregate expressions do not grow with the table count, one Exchange") {
    def tables(n: Int): Seq[DataFrame] = (0 until n).map(t =>
      Seq(("KC", s"$t.5", "1-2"), ("BUF", "--", s"$t%")).toDF("team", s"t${t}_a", s"t${t}_b"))
    def aggregates(df: DataFrame): Int = df.queryExecution.optimizedPlan.collect {
      case a: Aggregate => a.aggregateExpressions.map(_.collect { case e: AggregateExpression => e }.size).sum
    }.sum
    def exchanges(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case s: QueryStageExec        => exchanges(s.plan)
      case e: ShuffleExchangeLike   => 1 + e.children.map(exchanges).sum
      case other                    => other.children.map(exchanges).sum
    }
    val wide = Seq(4, 40).map(n => n -> WideStats.wideFromTables(tables(n), "team")).toMap
    assert(aggregates(wide(4)) > 0)
    assert(aggregates(wide(4)) === aggregates(wide(40)),
      s"4 tables: ${aggregates(wide(4))}, 40 tables: ${aggregates(wide(40))}")
    for ((n, df) <- wide) {
      assert(rows(df) === rows(pivotOracle(tables(n), "team")), s"$n tables")
      val shuffles = exchanges(df.queryExecution.executedPlan)
      assert(shuffles === 1, s"$n tables: $shuffles Exchanges\n${df.queryExecution.executedPlan}")
    }
  }

  test("stack + single pivot reproduces the chained-join wide table (J1)") {
    val rating = Seq(("KC", 9.5), ("BUF", 8.0)).toDF("team", "value")
    val ppg = Seq(("KC", 28.0), ("BUF", 26.5)).toDF("team", "value")
    val wide = WideStats.wideTable(
      Seq("rankings_predictive_rating" -> rating, "offense_ppg" -> ppg),
      "team", "value")
    assert(wide.columns.toSeq === Seq("team", "rankings_predictive_rating", "offense_ppg"))
    val kc = wide.filter($"team" === "KC").collect().head
    assert(kc.getDouble(1) === 9.5 && kc.getDouble(2) === 28.0)
  }

  test("missing rows in a later table yield nulls (left-join parity)") {
    val a = Seq(("KC", 1.0), ("BUF", 2.0)).toDF("team", "value")
    val b = Seq(("KC", 3.0)).toDF("team", "value") // BUF missing
    val wide = WideStats.wideTable(Seq("a" -> a, "b" -> b), "team", "value")
    assert(wide.filter($"team" === "BUF").collect().head.isNullAt(2))
  }

  test("matchup features: home/road join + differentials (J3)") {
    val games = Seq(("g1", "KC", "BUF")).toDF("game_id", "home", "road")
    val stats = Seq(("KC", 28.0, 9.5), ("BUF", 26.5, 8.0))
      .toDF("team", "ppg", "rating")
    val out = WideStats.matchupFeatures(games, stats, "team", "home", "road",
      Seq("ppg", "rating")).collect().head
    assert(out.getAs[Double]("home_ppg") === 28.0)
    assert(out.getAs[Double]("road_ppg") === 26.5)
    assert(math.abs(out.getAs[Double]("ppg_matchup_differential") - 1.5) < 1e-12)
    assert(math.abs(out.getAs[Double]("rating_matchup_differential") - 1.5) < 1e-12)
  }
}
