package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Literal, RLike, RegExpReplace}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft.functions.Cleaning
import graft.operators.WideStats
import graft.sources.TeamRankingsNormalizer
import graft.sources.TeamRankingsNormalizer.TableSpec

/** End-to-end §3.3 pipeline on fixture frames (FIXTURES.md §3 shapes). */
class TeamRankingsNormalizerSpec extends SparkSpec {
  import spark.implicits._

  test("ranking-table normalization: F1+F3+F4+F6+F5 chain") {
    val raw = Seq(
      ("Kansas City (10-2)", 9.5, "2-1"),
      ("Buffalo (9-3-1)", 8.0, "1-2")
    ).toDF("Team", "Rating", "v 1-5")
    val spec = TableSpec("rankings", "predictive", "u", Seq("Team", "Rating", "v 1-5"), Seq("v 1-5"))
    val out = TeamRankingsNormalizer.normalizeTable(raw, spec)
    assert(out.columns.toSet === Set("team", "rankings_predictive_rating",
      "rankings_predictive_v1-5_wins", "rankings_predictive_v1-5_losses",
      "rankings_predictive_v1-5_ties", "rankings_predictive_v1-5_games_played"))
    val kc = out.filter($"team" === "Kansas City").collect().head
    assert(kc.getAs[Int]("rankings_predictive_v1-5_wins") === 2)
    assert(kc.getAs[Int]("rankings_predictive_v1-5_games_played") === 3)
  }

  test("stat-table normalization: year columns → this_yr/last_yr (F7)") {
    val raw = Seq(("Kansas City", "28.5", "30.1", "27.0", "26.0"))
      .toDF("Team", "2025", "Last 3", "Home", "2024")
    val spec = TableSpec("offense", "scoring", "u",
      Seq("Team", "2025", "Last 3", "Home", "2024"), Nil)
    val out = TeamRankingsNormalizer.normalizeTable(raw, spec)
    assert(out.columns.toSet === Set("team", "offense_scoring_this_yr",
      "offense_scoring_last3", "offense_scoring_home", "offense_scoring_last_yr"))
  }

  test("full wide assembly + final pass: percent/scrub/empty handling") {
    val rating = Seq(("KC", "75.5%"), ("BUF", "--")).toDF("team", "value")
    val ppg = Seq(("KC", "+28.5"), ("BUF", "")).toDF("team", "value")
    // stack+pivot (strings pass through first(value))
    val wide = rating.withColumnRenamed("value", "a")
      .join(ppg.withColumnRenamed("value", "b"), Seq("team"), "left")
    val out = TeamRankingsNormalizer.finalPass(wide).orderBy("team").collect()
    // BUF: "--" scrubbed → "" → null; "" → null
    assert(out(0).isNullAt(1) && out(0).isNullAt(2))
    // KC: percent → 0.755 (stringified by the pass, re-typed by F11 later)
    assert(out(1).getString(1) === "0.755")
    assert(out(1).getString(2) === "28.5")
  }

  /** The pass as one composed expression per string column — the form
    * the staged [[TeamRankingsNormalizer.finalPass]] must reproduce. */
  private def composedFinalPass(wide: DataFrame): DataFrame =
    Cleaning.mapStringCols(wide, c =>
      Cleaning.emptyToNull(Cleaning.percentParse(Cleaning.scrubSymbols(c))))

  /** `team`, an untouched int column, then `k` string columns, read back
    * from parquet so the optimizer cannot fold the pass into the data. */
  private def wideFrame(k: Int, cells: Seq[String]): DataFrame = {
    val schema = StructType(StructField("team", StringType) +: StructField("n", IntegerType) +:
      (0 until k).map(j => StructField(s"stat_$j", StringType)))
    val rows = cells.indices.map(i =>
      Row.fromSeq(s"t$i" +: i +: (0 until k).map(j => cells((i + 3 * j) % cells.size))))
    val path = tmpDir("final-pass") + "/wide"
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema).write.parquet(path)
    spark.read.parquet(path)
  }

  private val edgeCells = Seq("75.5%", "--", "+28.5", "", "%", "--%", "1e3%", " 5 %",
    "abc%", "+-", null, "-3.5", "--12.5%", "KC", "1-2", "50%%", "+%", "0.0")

  test("final pass: staged projections equal the composed per-column chain") {
    val wide = wideFrame(4, edgeCells)
    val staged = TeamRankingsNormalizer.finalPass(wide)
    val oracle = composedFinalPass(wide)
    assert(staged.schema === oracle.schema)
    assert(staged.columns.toSeq === wide.columns.toSeq)
    assert(staged.orderBy("n").collect().toSeq === oracle.orderBy("n").collect().toSeq)
    assert(staged.orderBy("n").select("n").as[Int].collect().toSeq === edgeCells.indices)
    // spot checks against the reference's cell semantics
    val byTeam = staged.collect().map(r => r.getString(0) -> r).toMap
    assert(byTeam("t0").getString(2) === "0.755")   // "75.5%"
    assert(byTeam("t1").isNullAt(2))                // "--" → "" → null
    assert(byTeam("t2").getString(2) === "28.5")    // "+28.5"
    assert(byTeam("t4").isNullAt(2))                // "%" → unparseable → null
    assert(byTeam("t6").getString(2) === "10.0")    // "1e3%"
    assert(byTeam("t8").isNullAt(2))                // "abc%"
    assert(byTeam("t10").isNullAt(2))               // null
  }

  test("final pass: each string column's clean-up runs once in the optimized plan") {
    for (k <- Seq(1, 3, 8)) {
      val plan = TeamRankingsNormalizer.finalPass(wideFrame(k, edgeCells))
        .queryExecution.optimizedPlan
      val exprs = plan.collect { case node => node.expressions }.flatten
      def count(p: PartialFunction[org.apache.spark.sql.catalyst.expressions.Expression, Unit]) =
        exprs.map(_.collect(p).size).sum
      // scrub (2 regexp_replace), percent test (RLIKE), stripped cell
      // (regexp_replace), numeric guard (RLIKE): once for all k + 1
      // string columns
      val scrubs = count { case RegExpReplace(_, Literal(r, _), _, _) if String.valueOf(r) == "--" => }
      assert(scrubs === 1, s"k=$k: $scrubs `--` scrubs\n$plan")
      assert(count { case _: RegExpReplace => } === 3, s"k=$k\n$plan")
      assert(count { case _: RLike => } === 2, s"k=$k\n$plan")
    }
  }
}
