package graft.llm

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.util.Pin._

/** BPE tokenizer TRAINING (Sennrich et al. 2016) — the iterative
  * merge-learning loop, not just one pair-count pass (q82): each
  * round finds the most frequent adjacent token pair across the
  * corpus and fuses it everywhere, and the learned merge list IS the
  * tokenizer.
  *
  * The classic trick makes this tractable at any corpus size:
  * training runs on the WORD-TYPE vocabulary (distinct words with
  * counts), never the corpus — the corpus folds once into a
  * vocabulary-bounded frame, and all `nMerges` rounds iterate on
  * that. Words are held in WRAPPED-token form — every token owns a
  * private leading and trailing space, so tokens are joined by TWO
  * spaces (" h  e  l  l  o "). Applying a merge is then ONE literal
  * `replace(" a  b " → " ab ")`, and that single pass IS
  * token-level left-to-right greedy fusing (Sennrich parity):
  * because no two tokens share a delimiter character, string
  * matches are token-disjoint exactly when they are
  * character-disjoint, so the engine's left-to-right non-overlapping
  * scan visits pairs in token order and skips past both fused
  * tokens — including self-pair runs, where the earlier
  * single-space double-replace deviated (" a a a a a a " fused to
  * [aa, a, aa, a] instead of Sennrich's [aa, aa, aa], because a
  * match consumed the shared delimiter and re-synced the scan
  * mid-run). The replacement " ab " re-wraps the fused token, so
  * the invariant survives every pass and every round, and the
  * literal replace is byte-identical across engines (Java, Spark
  * and DuckDB replace() all scan left-to-right from after the
  * matched segment).
  *
  * Determinism: the winning pair each round maximizes (count, then
  * lexicographically smallest pair) via TakeOrdered(1) — no full
  * sort; the q174 oracle replays the identical selection and replace
  * in a recursive CTE and the merge lists hash-match.
  *
  * Scale shape: ONE corpus exchange (the word count); each round is
  * an explode→count over the vocabulary frame (map-side combined,
  * pair-vocabulary-sized partials), a 1-row TakeOrdered collect
  * (bounded driver state — the centroid precedent), and a narrow
  * replace projection, pinned so lineage stays flat. */
object BpeTrain {

  /** Token-level left-to-right greedy fuse of pair (a, b) in a
    * wrapped-token string (" a  b  c "): ONE literal replace of
    * " a  b " with " ab " — private per-token delimiters make the
    * string scan equal the token scan (see the object doc).
    * Mirrored verbatim by the q174/q175 oracle CTEs. */
  private[graft] def fuse(sp: Column, a: String, b: String): Column =
    call_function("replace", sp, lit(s" $a  $b "), lit(s" $a$b "))

  /** Wrap a token array into the training representation: each token
    * gets its own leading+trailing space (" a  b  c "). */
  private def wrap(toks: Column): Column =
    concat(lit(" "), concat_ws("  ", toks), lit(" "))

  /** Tokens back out of the wrapped form: trim the outer spaces,
    * split on the two-space inter-token delimiter. */
  private[graft] def unwrap(sp: Column): Column = split(trim(sp), "  ")

  /** Returns the learned merge table: (round 1..nMerges, merged_pair
    * "a b", pair_count at selection). */
  def learnMerges(df: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    // each merge round is a driver-looped job and one learned-merge
    // row of driver state — bound the round count loudly (real BPE
    // vocabularies are 10³–10⁵ merges; the cap guards the loop, not
    // the corpus, which never leaves the cluster)
    require(nMerges >= 1 && nMerges <= 65536,
      s"BpeTrain.learnMerges: nMerges must be in [1, 65536], got $nMerges")
    val spark = df.sparkSession
    var vocab = df
      .select(explode(TextStats.tokens(col(textCol))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("cnt"))
      .select(wrap(TextStats.chars(col("__w"))).as("sp"), col("cnt"))
      .pin

    val merges = ArrayBuffer.empty[(Long, String, Long)]
    for (r <- 1 to nMerges) {
      val top = vocab
        .select(explode(TextStats.ngramsOfTokens(
          unwrap(col("sp")), 2)).as("pair"), col("cnt"))
        .groupBy(col("pair")).agg(sum(col("cnt")).as("pc"))
        .orderBy(col("pc").desc, col("pair").asc)
        .limit(1)
        .collect()(0)
      val pair = top.getString(0)
      val Array(a, b) = pair.split(" ", 2)
      merges += ((r.toLong, pair, top.getLong(1)))
      // A merge is a PURE projection over the pinned word frame:
      // chain it lazily — re-evaluating r narrow replaces per round is
      // cheaper than materializing the vocabulary every round (r15
      // paid one checkpoint job per merge; idle A/B r16: q174/q175/
      // q239 all improved). Pin every 8th round only, so plan depth —
      // and the replace-chain CPU under the TakeOrdered — stays
      // bounded when nMerges is vocabulary-scale (10³–10⁵).
      vocab = vocab.withColumn("sp", fuse(col("sp"), a, b))
      if (r % 8 == 0 && r < nMerges) vocab = vocab.pin
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        merges.toSeq.map { case (r, p, c) => Row(r, p, c) }, 1),
      StructType(Seq(
        StructField("round", LongType, nullable = false),
        StructField("merged_pair", StringType, nullable = false),
        StructField("pair_count", LongType, nullable = false))))
  }

  /** Tokenize text with a learned merge list: the inference side of
    * [[learnMerges]] — per WORD (merges never cross word boundaries,
    * matching training), apply every merge in order to the
    * space-delimited character form and count resulting tokens. A
    * narrow per-row projection (the merge list is a plan-literal
    * replace chain inside one transform(), zero shuffle); per
    * document returns the token count before and after merging. */
  def applyMerges(df: DataFrame, idCol: String, textCol: String,
                  merges: Seq[String]): DataFrame = {
    val toks = TextStats.tokens(col(textCol))
    val perWord = transform(toks, w => {
      val sp = wrap(TextStats.chars(w))
      val merged = merges.foldLeft(sp) { (acc, pair) =>
        val Array(a, b) = pair.split(" ", 2)
        fuse(acc, a, b)
      }
      size(unwrap(merged)).cast("long")
    })
    df.select(col(idCol),
              aggregate(transform(toks, w => length(w).cast("long")),
                        lit(0L), (acc, x) => acc + x).as("n_chars_tok"),
              aggregate(perWord, lit(0L), (acc, x) => acc + x)
                .as("n_bpe_tok"))
  }
}
