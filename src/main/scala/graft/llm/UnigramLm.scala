package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Pin._

/** Unigram-LM subword vocabulary selection (Kudo 2018, the
  * SentencePiece trainer) — the LIKELIHOOD-based counterpart to
  * [[WordPiece.trainVocab]]'s frequency stand-in: candidate units are
  * scored by how often the corpus-likelihood-optimal (Viterbi)
  * segmentation actually USES them under an EM-refitted unigram model,
  * not by how often they merely occur as substrings. A substring can
  * be frequent yet never optimal (every occurrence dominated by a
  * longer unit covering it) — frequency keeps it, likelihood prunes
  * it; the CurationSpec disagreement case pins that divergence.
  *
  * Reference scope: no reference counterpart (the reference has no
  * tokenizer surface); driver training-data-pipeline mandate, closing
  * the documented stand-in note on [[WordPiece]].
  *
  * Algorithm (`emRounds` Viterbi-EM rounds, deterministic and
  * oracle-replayable — the gate unrolls the same recurrence in SQL
  * round for round):
  *   1. Seed: every positional-form substring of length 1..MaxSubLen
  *      over the word-TYPE frame, weighted by word frequency —
  *      p₀(u) = c(u)/Σc.
  *   2. E-step r: Viterbi-segment each word type under
  *      cost(u) = −ln p_{r−1}(u); usage n_r(u) = Σ_w f(w)·uses_w(u).
  *   3. M-step + prune: counts(u) = n_r(u) for multi-char units
  *      (unused ⇒ pruned from the model), max(n_r(u), 1) for
  *      single-char units (the smoothing floor that keeps every word
  *      segmentable — SentencePiece likewise never prunes the
  *      character alphabet); p_r = counts/Σcounts feeds round r+1.
  *   4. After the last round the vocabulary keeps all singles plus
  *      the topK multi-char units by (n_final desc, unit asc).
  *
  * Determinism contract: unit costs are −ln(p) in integer MICRO-nats
  * (round(−ln(c/C)·1e6) as BIGINT — the q176 fixed-point pattern), so
  * every DP sum and comparison is exact 64-bit integer arithmetic on
  * both engines; the only doubles are the per-unit ln calls, identical
  * after 1e-6 quantization. DP ties break to the SHORTEST last piece
  * (candidates probed l = 1..MaxSubLen, strict-minimum select), a
  * total order the oracle's CASE chain mirrors.
  *
  * Scale shape: the corpus folds ONCE to the word-type frame; seeding,
  * both Viterbi passes and the selection ride that vocabulary-bounded
  * frame. Each Viterbi pass is one equi-join of the (word, slot)
  * candidate frame against the unit-cost frame plus a per-word
  * `aggregate` fold (≤ MaxWordLen steps, ≤ MaxWordLen·MaxSubLen-entry
  * per-word cost map — no UDF, no driver loop, no per-word join
  * inside the fold). The forward DP rides the fold's ZERO argument and
  * the backward walk its FINISH lambda, so the forward pass is
  * evaluated exactly once per word even though higher-order functions
  * evaluate interpreted (a staged projection would re-inline under
  * CollapseProject and re-run the forward fold at every backward
  * step).
  */
object UnigramLm {

  /** Words longer than this are excluded from training (the
    * [[WordPiece.MaxWordLen]] convention, shared bound). */
  val MaxWordLen: Int = WordPiece.MaxWordLen

  /** Longest candidate unit; the DP probes l = 1..MaxSubLen. */
  val MaxSubLen: Int = WordPiece.MaxSubLen

  /** Unreachable-cost sentinel: far above any reachable path cost
    * (≤ MaxWordLen · ln(Σc) micro-nats ≈ 20 · ~50e6) yet safe from
    * Int64 overflow even when several sentinels add up. */
  private val Big = 1000000000000L

  /** Positional unit form: word-initial units are the raw substring,
    * continuations carry the `##` prefix ([[WordPiece]] parity). */
  private def unitAt(w: Column, start: Column, l: Column): Column =
    when(start === 1, w.substr(lit(1), l))
      .otherwise(concat(lit("##"), w.substr(start, l)))

  /** Dense slot key for the per-word cost map: start·32 + l (start ≤
    * MaxWordLen < 32, so keys are unique per word). */
  private def slotKey(start: Column, l: Column): Column =
    start * lit(32) + l

  /** Candidate slots of every word type: one row per (word, start, l)
    * with the positional unit string. Columns: (w, f, key, tok). */
  private[graft] def candidates(words: DataFrame): DataFrame =
    words
      .select(col("w"), col("f"),
        explode(array((1 to MaxSubLen).map(lit(_)): _*)).as("__l"))
      .filter(length(col("w")) >= col("__l"))
      .select(col("w"), col("f"),
        explode(transform(
          sequence(lit(1), length(col("w")) - col("__l") + 1),
          s => struct(slotKey(s, col("__l")).as("key"),
                      unitAt(col("w"), s, col("__l")).as("tok"))))
          .as("__c"))
      .select(col("w"), col("f"),
              col("__c.key").as("key"), col("__c.tok").as("tok"))

  /** Micro-nat unit costs from a (tok, c) count frame:
    * round(−ln(c/Σc)·1e6) as BIGINT — the fixed-point form both
    * engines quantize identically. */
  private def microCosts(counts: DataFrame): DataFrame = {
    val tot = counts.agg(sum(col("c")).cast("long").as("__tc"))
    counts.crossJoin(broadcast(tot))
      .select(col("tok"),
        round(-log(col("c").cast("double") / col("__tc").cast("double"))
          * lit(1e6), 0).cast("long").as("cost"))
  }

  /** One Viterbi E-step: usage counts (tok, n) of the cost-optimal
    * segmentation of every word type, weighted by word frequency.
    * Units absent from `costs` price at the [[Big]] sentinel (pruned —
    * never optimal while any single-char path exists). */
  private[graft] def viterbiCounts(words: DataFrame, cands: DataFrame,
                                 costs: DataFrame): DataFrame = {
    val maps = cands.join(costs, Seq("tok"), "left")
      .withColumn("__cost", coalesce(col("cost"), lit(Big)))
      .groupBy(col("w"))
      .agg(map_from_entries(
        collect_list(struct(col("key"), col("__cost")))).as("cm"))
    val dp = words.join(maps, "w")
    val w = col("w"); val n = length(w); val cm = col("cm")

    // Forward DP: best[j] = min cost of the length-(j−1) prefix;
    // lens[j] = length of the last piece achieving it (ties → smallest
    // l, probed in 1..MaxSubLen order with a strict-minimum CASE).
    val fwd = aggregate(
      sequence(lit(1), lit(MaxWordLen)),
      struct(array(lit(0L)).as("best"), array(lit(0)).as("lens")),
      (acc, i) => {
        val best = acc.getField("best"); val lens = acc.getField("lens")
        def cand(l: Int): Column =
          when(lit(l) <= i,
            element_at(best, i - lit(l) + 1) +
              coalesce(element_at(cm, slotKey(i - lit(l) + 1, lit(l))),
                       lit(Big)))
            .otherwise(lit(Big))
        val c = (1 to MaxSubLen).map(cand)
        val minc = least(c: _*)
        val pickL = (1 until MaxSubLen).foldRight(lit(MaxSubLen)) {
          (l, rest) => when(c(l - 1) === minc, lit(l)).otherwise(rest)
        }
        when(i > n, acc).otherwise(struct(
          concat(best, array(minc)).as("best"),
          concat(lens, array(pickL)).as("lens")))
      })

    // Backward walk over lens[], riding the SAME aggregate's finish
    // lambda so fwd is the zero argument — evaluated once per word
    // (see the object doc on CollapseProject re-inlining).
    val units = aggregate(
      array().cast("array<int>"),
      fwd,
      (acc, _) => acc,
      f => {
        val lens = f.getField("lens")
        aggregate(
          sequence(lit(1), lit(MaxWordLen)),
          struct(n.cast("int").as("p"),
                 array().cast("array<string>").as("toks")),
          (acc, _) => {
            val p = acc.getField("p"); val toks = acc.getField("toks")
            val l = element_at(lens, p + 1)
            when(p <= 0, acc).otherwise(struct(
              (p - l).as("p"),
              concat(toks, array(unitAt(w, p - l + 1, l))).as("toks")))
          }).getField("toks")
      })

    dp.select(col("f"), explode(units).as("tok"))
      .groupBy(col("tok")).agg(sum(col("f")).as("n"))
  }

  /** Full selection pipeline over a text column, `emRounds` ≥ 1
    * Viterbi-EM rounds (each round re-fits costs from the previous
    * round's usage counts with the single-char smoothing floor, then
    * re-segments; every iterate rides the pinned
    * vocabulary-bounded frame, so round count never touches the
    * corpus). Output one row per candidate unit that survives round 1
    * (or is single-char): (unit, is_single, seed_c, n_em1,
    * n_em_final, kept) — n_em_final is the LAST round's usage, the
    * count the topK cut ranks by. */
  def selectVocab(docs: DataFrame, textCol: String, topK: Int,
                  emRounds: Int = 2): DataFrame = {
    require(topK >= 1 && topK <= 1000000,
      s"UnigramLm.selectVocab: topK in [1, 1e6], got $topK")
    require(emRounds >= 1 && emRounds <= 8,
      s"UnigramLm.selectVocab: emRounds in [1, 8], got $emRounds")
    // NOTE r16: spreading `docs` here (Tables.spreadSmall) was measured at
    // 0.54-0.63x on q240/q243/q248 — the word-type fold is already spread by
    // its own aggregation exchange; the extra exchange only adds latency.
    val words = WordPiece.wordTypes(docs, textCol)
      .filter(length(col("w")) <= MaxWordLen)
      .pin
    // NOTE r16: pre-partitioning this pin by `w` (so each EM round's
    // viterbiCounts groupBy(w) reuses the partitioning — the Components
    // precedent) was A/B'd at 0.83-0.96x on q240/q243/q248 and
    // REVERTED: the up-front exchange of the full candidate frame costs
    // more than the per-round aggregation exchanges it elides at this
    // round count (2-3), mirroring the q171 labelPropagation result.
    val cands = candidates(words).pin
    val seed = cands.groupBy(col("tok")).agg(sum(col("f")).as("c"))
      .pin
    val isSingle = (length(col("tok")) === 1) ||
      (col("tok").startsWith("##") && length(col("tok")) === 3)

    // EM: n_r = Viterbi usage under the round-(r−1) model; the next
    // model is n_r floored at 1 for singles, pruned at 0 for multis
    def refit(n: DataFrame): DataFrame =
      seed.join(n.withColumnRenamed("n", "__n"), Seq("tok"), "left")
        .select(col("tok"),
          when(isSingle, greatest(coalesce(col("__n"), lit(0L)), lit(1L)))
            .otherwise(coalesce(col("__n"), lit(0L))).as("c"))
        .filter(col("c") > 0)
    val n1 = viterbiCounts(words, cands, microCosts(seed)).pin
    var nLast = n1
    for (_ <- 2 to emRounds)
      nLast = viterbiCounts(words, cands, microCosts(refit(nLast)))
        .pin

    val out = seed
      .join(n1.withColumnRenamed("n", "n1"), Seq("tok"), "left")
      .join(nLast.withColumnRenamed("n", "nf"), Seq("tok"), "left")
      .select(col("tok"), isSingle.as("is_single"),
        col("c").as("seed_c"),
        coalesce(col("n1"), lit(0L)).as("n_em1"),
        coalesce(col("nf"), lit(0L)).as("n_em_final"))
      .filter(col("is_single") || col("n_em1") > 0)
    val topMulti = out.filter(!col("is_single") && col("n_em_final") > 0)
      .orderBy(col("n_em_final").desc, col("tok").asc).limit(topK)
      .select(col("tok"), lit(true).as("__kept"))
    out.join(topMulti, Seq("tok"), "left")
      .select(col("tok").as("unit"), col("is_single"), col("seed_c"),
        col("n_em1"), col("n_em_final"),
        (col("is_single") || coalesce(col("__kept"), lit(false)))
          .as("kept"))
  }
}
