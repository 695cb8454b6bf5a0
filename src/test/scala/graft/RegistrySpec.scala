package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.functions._

import graft.operators.WideStats
import graft.sources.TeamRankingsNormalizer
import graft.sources.TeamRankingsNormalizer.TableSpec

/** End-to-end wide build on the REAL 221-row registry (converted from
  * the reference's urls_team_rankings.xlsx): fixture tables shaped by
  * each spec's cols_to_keep/record_cols stand in for the scraped HTML
  * (the fetch is a driver-side shim), and everything downstream — F1
  * strip, F3 record split, F4/F6/F7/F5 renames, melt, single-pivot
  * wide assembly, F8/F9/P6 final pass — is the real operator chain.
  */
class RegistrySpec extends SparkSpec {
  import spark.implicits._

  private def valueFor(spec: TableSpec, c: String, i: Int): String =
    if (spec.recordCols.contains(c)) {
      if (i % 3 == 0) "2-1-1" else "3-2"
    } else if (spec.category == "rankings" && c == "Hi") {
      s"+${(i * 31 + math.abs(c.hashCode) % 97) % 1000 / 10.0}"  // F8 scrub target
    } else if (spec.category == "offense_scoring" && c == "Last 3") {
      s"${(i * 7) % 100}.5%"                                     // F9 percent target
    } else {
      s"${(i * 31 + math.abs(c.hashCode) % 97) % 1000 / 10.0}"
    }

  private def fixture(spec: TableSpec) = {
    val cols = "Team" +: spec.colsToKeep
    val schema = StructType(cols.map(StructField(_, StringType)))
    val rows = (0 until 32).map { i =>
      Row.fromSeq(s"team_$i (3-2)" +: spec.colsToKeep.map(valueFor(spec, _, i)))
    }
    // ONE partition per 32-row fixture: 4 partitions × 221 tables
    // would be ~900 near-empty map tasks, each paying the wide build's
    // per-task setup (with the former per-stat pivot aggregates, ~4 min
    // of projection setup). At scale the setup amortizes over real
    // 128 MB partitions; in the fixture it must not multiply.
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema).coalesce(1)
  }

  test("registry loads all 221 specs across 15 categories") {
    val reg = TeamRankingsNormalizer.registry
    assert(reg.size === 221)
    assert(reg.map(_.category).distinct.size === 15)
    assert(reg.map(s => (s.category, s.tableName)).distinct.size === 221)
    // the six ranking tables carry the three record columns
    assert(reg.count(_.recordCols.nonEmpty) === 6)
  }

  test("normalizeTable produces exactly the registry-derived schema for every spec") {
    for (spec <- TeamRankingsNormalizer.registry) {
      val norm = TeamRankingsNormalizer.normalizeTable(fixture(spec), spec)
      assert(norm.columns.head === "team")
      assert(norm.columns.tail.toSeq === TeamRankingsNormalizer.expectedColumns(spec),
        s"schema mismatch for ${spec.category}/${spec.tableName}")
    }
  }

  test("221-table wide build: full width, one pivot shuffle, cleaned values") {
    val reg = TeamRankingsNormalizer.registry
    val normalized = reg.map(spec =>
      TeamRankingsNormalizer.normalizeTable(fixture(spec), spec))
    val wide = TeamRankingsNormalizer.finalPass(
      WideStats.wideFromTables(normalized, "team"))

    val expectedWidth = 1 + reg.map(TeamRankingsNormalizer.expectedColumns(_).size).sum
    assert(wide.columns.length === expectedWidth,
      s"expected $expectedWidth cols, got ${wide.columns.length}")
    assert(wide.columns.length >= 1000, "the real registry yields a >1000-col frame")

    val plan = wide.queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"expected one pivot exchange (<=2 with AQE), got $exchanges")

    // ONE execution of the 1,367-col build (each collect re-runs the
    // whole DAG — per-team filters here used to triple the suite time);
    // all value assertions read from the single materialized result.
    val byTeam = wide.collect().map(r => r.getAs[String]("team") -> r).toMap
    val r5 = byTeam("team_5")
    // plain stat comes through the melt/pivot as its fixture string
    assert(r5.getAs[String]("rankings_predictive_rating") ===
      valueFor(reg.head, "Rating", 5))
    // record split: i=5 -> "3-2" -> 3/2/0/5
    assert(r5.getAs[String]("rankings_predictive_v1-5_wins") === "3")
    assert(r5.getAs[String]("rankings_predictive_v1-5_games_played") === "5")
    // F8: leading '+' scrubbed by the final pass
    assert(!r5.getAs[String]("rankings_sos_hi").contains("+"))
    // F9: percent converted to fraction by the final pass
    val pct = byTeam("team_4").getAs[String]("offense_scoring_points_per_game_last3")
    assert(pct.toDouble === ((4 * 7) % 100 + 0.5) / 100.0)

    val r6 = byTeam("team_6")
    assert(r6.getAs[String]("rankings_predictive_v1-5_ties") === "1") // 6%3==0 -> 2-1-1
    assert(r6.getAs[String]("rankings_predictive_v1-5_games_played") === "4")
  }
}
