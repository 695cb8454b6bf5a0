package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Pin._

/** WordPiece tokenizer — the longest-match-first segmenter of the
  * BERT lineage (Wu et al. 2016), the greedy-APPLY sibling of the
  * merge-LEARNING BPE pair (q174/q175): a vocabulary of word-initial
  * units and `##`-prefixed continuation units, and a per-word greedy
  * scan that always takes the LONGEST vocabulary unit matching at the
  * cursor. Vocabulary selection here is frequency-based (the top-K
  * most frequent multi-char substrings in their positional form,
  * weighted by word frequency); the LIKELIHOOD-based selection — the
  * real WordPiece/SentencePiece objective — is [[UnigramLm]], which
  * scores candidates by EM-refitted Viterbi usage instead and can
  * feed its kept units into this object's greedy apply.
  *
  * Scale shape: the corpus folds ONCE to the word-TYPE frame
  * (pinned — substring counting, the single-char alphabet
  * and the greedy apply all ride the vocabulary-bounded frame, never
  * the corpus). The learned vocabulary is a driver-side literal via a
  * loud [[graft.util.Bounded]] collect (topK + alphabet rows), and
  * the greedy scan is a pure `aggregate` fold over at most
  * [[MaxWordLen]] cursor steps — no UDF, no per-word join, no
  * iteration-count data dependence. Single-char units (both forms)
  * are always included, so segmentation cannot dead-end.
  */
object WordPiece {

  /** Words longer than this segment to a single `[UNK]` (the BERT
    * `max_input_chars_per_word` convention) — and bound the fold. */
  val MaxWordLen = 20

  /** Longest learnable multi-char unit. */
  val MaxSubLen = 4

  private def unit(w: Column, p: Column, l: Column): Column =
    when(p === 1, w.substr(lit(1), l))
      .otherwise(concat(lit("##"), w.substr(p, l)))

  /** The learned vocabulary: every single-char unit in its positional
    * form, plus the topK most frequent multi-char (2..4) positional
    * substrings, ordered by (weighted count desc, token asc) — a
    * total order, so the cut is deterministic and oracle-replayable.
    * Sorted ascending for a stable literal. */
  def trainVocab(words: DataFrame, topK: Int): Array[String] = {
    val subs = words
      .select(col("w"), col("f"),
              explode(array((2 to MaxSubLen).map(lit(_)): _*)).as("l"))
      .filter(length(col("w")) >= col("l"))
      .select(col("f"), explode(transform(
          sequence(lit(1), length(col("w")) - col("l") + 1),
          p => unit(col("w"), p, col("l")))).as("tok"))
      .groupBy(col("tok")).agg(sum(col("f")).as("c"))
    val top = subs.orderBy(col("c").desc, col("tok").asc).limit(topK)
      .select(col("tok"))
    val singles = words
      .select(explode(transform(sequence(lit(1), length(col("w"))),
          p => unit(col("w"), p, lit(1)))).as("tok"))
      .distinct()
    graft.util.Bounded.collect(
        top.unionByName(singles).distinct(), topK + 4096,
        "WordPiece.trainVocab")
      .map(_.getString(0)).sorted
  }

  /** Word-type frame (w, f) from a text column: the ONE corpus pass. */
  def wordTypes(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextStats.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("f"))

  /** Greedy longest-match segmentation of every word type against the
    * trained vocabulary. Output: (word, cnt, pieces, n_pieces) — the
    * pieces space-joined in order. */
  def segmentCorpus(docs: DataFrame, textCol: String,
                    topK: Int): DataFrame = {
    val words = wordTypes(docs, textCol).pin
    segmentWords(docs.sparkSession, words, trainVocab(words, topK).toSeq)
  }

  /** Greedy longest-match segmentation under a CALLER-SUPPLIED
    * vocabulary (positional `##` form) — the apply half alone, so a
    * likelihood-trained vocabulary ([[UnigramLm.selectVocab]]'s kept
    * units) rides the same fold the frequency-trained path uses. The
    * vocabulary must contain every single-char unit of the corpus or
    * segmentation dead-ends into repeated single chars (it still
    * terminates: the l=1 fallback always advances the cursor). */
  def segmentWithVocab(docs: DataFrame, textCol: String,
                       vocab: Seq[String]): DataFrame = {
    require(vocab.nonEmpty, "WordPiece.segmentWithVocab: empty vocabulary")
    segmentWords(docs.sparkSession, wordTypes(docs, textCol), vocab)
  }

  private def segmentWords(spark: org.apache.spark.sql.SparkSession,
                           words: DataFrame,
                           vocab: Seq[String]): DataFrame = {
    val w = col("w")
    val n = length(w)
    val folded = aggregate(
      sequence(lit(1), lit(MaxWordLen)),
      struct(lit(1).as("p"), array().cast("array<string>").as("toks")),
      (acc, _) => {
        val pos = acc.getField("p")
        val toks = acc.getField("toks")
        def cand(l: Int) = unit(w, pos, lit(l))
        // O(1) native hash-set probe: array_contains over a vocab
        // literal is an O(|vocab|) scan PER CURSOR STEP (~3·MaxWordLen
        // probes per word type — ~2M comparisons per word at a
        // realistic 30k-unit vocabulary), and isInCollection stays a
        // |vocab|-child In chain inside HOF lambdas (OptimizeIn never
        // reaches them). See StringSetContains' scaladoc for the
        // measured 10k-vocab numbers.
        def ok(l: Int) =
          pos + lit(l - 1) <= n &&
            graft.plans.StringSetNative.inStringSet(spark, cand(l), vocab)
        val pick = when(ok(4), 4).when(ok(3), 3).when(ok(2), 2).otherwise(1)
        val tok = when(ok(4), cand(4)).when(ok(3), cand(3))
          .when(ok(2), cand(2)).otherwise(cand(1))
        when(pos > n, acc).otherwise(
          struct((pos + pick).as("p"), concat(toks, array(tok)).as("toks")))
      })
    val pieces = when(n > MaxWordLen, array(lit("[UNK]")))
      .otherwise(folded.getField("toks"))
    words.select(w.as("word"), col("f").cast("long").as("cnt"),
      array_join(pieces, " ").as("pieces"),
      size(pieces).cast("long").as("n_pieces"))
  }
}
