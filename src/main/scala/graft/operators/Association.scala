package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Pin._

/** Market-basket association mining — pairwise support / confidence /
  * lift over (basket, item) presence: the co-occurrence layer behind
  * "users who touched X also touched Y", feature co-activation
  * audits, and tag-correlation curation (which document labels travel
  * together, and is the pairing surprising given the marginals).
  *
  * Scale shape: presence dedups to one (basket, item) row; the pair
  * stage is a self-equi-join ON BASKET (Σ|basket|² economics — the
  * Linkage blocking argument: baskets bound the quadratic stage, and
  * a runaway basket means the item key is too coarse); `minPairs`
  * prunes the pair frame BEFORE the marginal joins, which broadcast
  * (item-cardinality frames). All ratios are exact-integer divisions
  * done once, in a fixed order, in doubles. */
object Association {

  /** Pair rules at `minPairs` minimum co-occurrence. Returns one row
    * per unordered pair (item_a < item_b):
    * (item_a, item_b, n_ab, n_a, n_b, support, conf_a_b, lift) with
    * support = n_ab/N baskets, conf_a_b = n_ab/n_a,
    * lift = n_ab·N / (n_a·n_b), rounded to 6. */
  def pairRules(df: DataFrame, basketCol: String, itemCol: String,
                minPairs: Long): DataFrame = {
    val items = df
      .select(col(basketCol).as("__bk"), col(itemCol).as("__it"))
      .filter(col("__bk").isNotNull && col("__it").isNotNull)
      .distinct()
      .pin // presence frame: built once, read 3×
    val nBaskets = items.agg(countDistinct(col("__bk")).as("__nb"))
    val marg = items.groupBy(col("__it")).agg(count(lit(1)).as("__n"))
    val pairs = items.select(col("__bk"), col("__it").as("item_a"))
      .join(items.select(col("__bk"), col("__it").as("item_b")), Seq("__bk"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairs)
    pairs
      .join(broadcast(marg.select(col("__it").as("item_a"),
        col("__n").as("n_a"))), Seq("item_a"))
      .join(broadcast(marg.select(col("__it").as("item_b"),
        col("__n").as("n_b"))), Seq("item_b"))
      .crossJoin(broadcast(nBaskets))
      .select(col("item_a"), col("item_b"), col("n_ab"), col("n_a"),
        col("n_b"),
        round(col("n_ab").cast("double") / col("__nb").cast("double"), 6)
          .as("support"),
        round(col("n_ab").cast("double") / col("n_a").cast("double"), 6)
          .as("conf_a_b"),
        round(col("n_ab").cast("double") * col("__nb").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6)
          .as("lift"))
  }
}
