package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.util.Pin._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, fingerprinting.
  * All pure Catalyst expressions (split / higher-order functions /
  * regexp) — they run inside whole-stage codegen with no UDFs and
  * scale linearly with no shuffle.
  */
object TextStats {

  /** Whitespace tokenization (the BPE-ish regex variant below for
    * punctuation-aware counting). */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish token estimate: word pieces + digits + punctuation runs. */
  def bpeishTokens(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Ratio of characters that are punctuation/symbols. */
  def punctRatio(c: Column): Column =
    size(regexp_extract_all(c, lit("[^A-Za-z0-9\\s]"), lit(0)))
      .cast("double") / greatest(length(c), lit(1)).cast("double")

  /** Fraction of tokens found in `stopwords` — a cheap fluency signal. */
  def stopwordRatio(c: Column, stopwords: Seq[String]): Column =
    size(filter(tokens(c), t => t.isInCollection(stopwords)))
      .cast("double") / greatest(size(tokens(c)), lit(1)).cast("double")

  /** Mean token length — with `length` and token counts, the core of a
    * length/punct/stopword quality score. */
  def avgTokenLen(c: Column): Column = {
    val t = tokens(c)
    aggregate(t, lit(0), (acc, x) => acc + length(x)).cast("double") /
      greatest(size(t), lit(1)).cast("double")
  }

  /** Marker-word language ID (n-gram-heuristic family): count hits from
    * tiny per-language stopword lists over the token set, argmax with a
    * fixed priority order, 'und' when nothing matches. Deterministic and
    * SQL-mirrorable. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "de" -> Seq("der", "die", "das", "und"),
    "fr" -> Seq("le", "la", "et", "les"))

  def langScores(c: Column): Seq[(String, Column)] = {
    val t = tokens(c)
    langMarkers.map { case (lang, words) =>
      lang -> size(filter(t, x => x.isInCollection(words)))
    }
  }

  def langId(c: Column): Column = {
    val scores = langScores(c)
    val total = scores.map(_._2).reduce(_ + _)
    // nested CASE with fixed tie priority (en > de > fr):
    val Seq(en, de, fr) = scores.map(_._2)
    when(total === 0, lit("und"))
      .when(en >= de && en >= fr, lit("en"))
      .when(de >= fr, lit("de"))
      .otherwise(lit("fr"))
  }

  /** Mixed-language detection — the multilingual-corpus quality gate
    * document-level langid can't provide: a doc that flips language
    * mid-stream (boilerplate + content, code-switching, concatenation
    * artifacts) scores one dominant label at the document level but
    * SHOULD be flagged or split. Chunks each document into
    * `chunkSize`-token windows (Chunking's narrow explode), language-
    * identifies each chunk, and rolls up: chunk count, dominant
    * language (ties toward the alphabetically-smaller label), its
    * fraction, and an is_mixed flag (more than one non-'und' language
    * among chunks).
    *
    * Scale shape: chunking is scan-local; ONE (doc, lang) aggregation
    * whose per-doc rollup reuses the same partitioning (subset
    * clustering); the dominant pick is a min(struct(-count, lang))
    * argmax — no second corpus pass, no window. */
  def mixedLanguage(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, chunkSize: Int)
      : org.apache.spark.sql.DataFrame = {
    val chunks = Chunking.chunkTokens(df, idCol, textCol, chunkSize,
                                      chunkSize)
    val counts = chunks
      .select(col(idCol), langId(col("chunk_text")).as("chunk_lang"))
      .groupBy(col(idCol), col("chunk_lang")).agg(count(lit(1)).as("c"))
    val dom = min(struct((-col("c")).as("nc"), col("chunk_lang").as("l")))
    counts.groupBy(col(idCol))
      .agg(sum(col("c")).as("n_chunks"),
           dom.as("__d"),
           count_distinct(when(col("chunk_lang") =!= "und",
                               col("chunk_lang"))).as("__nl"))
      .select(col(idCol),
              col("n_chunks").cast("long").as("n_chunks"),
              col("__d.l").as("dominant_lang"),
              round((-col("__d.nc")).cast("double")
                      / col("n_chunks").cast("double"), 4)
                .as("dominant_frac"),
              (col("__nl") > 1).as("is_mixed"))
  }

  /** Vocabulary extraction: the k most frequent whitespace tokens with
    * a deterministic (freq desc, token asc) tiebreak. Partial counts
    * combine map-side; the final top-k is TakeOrdered (per-partition
    * heaps + driver merge of k·partitions rows), never a full sort. */
  def topTokens(df: org.apache.spark.sql.DataFrame, textCol: String,
                k: Int): org.apache.spark.sql.DataFrame =
    df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(k)

  /** Word n-grams over a PRE-SPLIT token array column, as space-joined
    * strings. Empty array below n tokens: `sequence(0, size-n)` with
    * size < n would otherwise produce a DESCENDING range (Spark
    * defaults step to -1 when start > stop) and fabricate grams from
    * out-of-range indices.
    *
    * Takes the token array, not the text: callers stage `tokens(text)`
    * as a named column in its own projection so the regex split runs
    * once per row. (Passing `tokens(c)` inline duplicates the split
    * into every consumer after CollapseProject — measured as an 18×
    * slowdown on the q74 shape: 27.8 s vs 1.5 s at sf0.1.) */
  def ngramsOfTokens(ws: Column, n: Int): Column =
    when(size(ws) >= n,
         transform(sequence(lit(0), size(ws) - n),
                   i => concat_ws(" ", (1 to n).map(j => element_at(ws, i + j)): _*)))
      .otherwise(typedLit(Seq.empty[String]))

  /** Gopher-style repetition signal: fraction of n-grams that are
    * repeats of an earlier gram in the same document, over a pre-built
    * gram array column. Per-row, no shuffle, no UDF; linear in document
    * length, so it holds at 100 TB (each doc is scored where it is
    * scanned). */
  def duplicateFractionOfGrams(g: Column): Column =
    (size(g) - size(array_distinct(g))).cast("double") /
      greatest(size(g), lit(1)).cast("double")

  def duplicateNgramFraction(c: Column, n: Int): Column =
    duplicateFractionOfGrams(ngramsOfTokens(tokens(c), n))

  /** Fraction of tokens equal to the document's most frequent token
    * (the "all the same word" degenerate-text signal), over a pre-split
    * token array. O(tokens × distinct tokens) per row — bounded by
    * document length, still scan-local; the same shape the oracle can
    * recompute exactly. */
  def topTokenFractionOfTokens(ws: Column): Column =
    coalesce(
      array_max(transform(array_distinct(ws), w => size(filter(ws, x => x === w)))),
      lit(0)).cast("double") / greatest(size(ws), lit(1)).cast("double")

  def topTokenFraction(c: Column): Column = topTokenFractionOfTokens(tokens(c))

  /** Per-document top-k terms by TF-IDF. Shape at scale: one
    * map-side-combinable groupBy for term frequencies; document
    * frequency is an aggregate over that (vocabulary-sized, so it
    * broadcast-joins back); the final top-k is a bounded per-document
    * window. The ORDER key is the score rounded to 6 decimals:
    * mathematically-equal scores reached by different float routes
    * (tf=2,df=50 vs tf=1,df=2500/N scale to the same 2·ln(N/50)) must
    * tie identically on every engine, with the token as the portable
    * tiebreak. */
  def tfidfTopTerms(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, k: Int,
                    broadcastVocab: Boolean = true): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // One corpus-sized exchange total: repartition documents by id up
    // front — HashPartitioning(id) satisfies both the (id, token) tf
    // aggregation and the final per-document window (a partitioning on
    // a SUBSET of the clustering keys co-locates the groups), so text
    // moves once and the token triples never shuffle at all.
    val docs = df.repartition(col(idCol))
    val tf = docs.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    // Doc-freq from the raw scan (each doc's distinct tokens, counted
    // once): partial counts combine map-side into vocabulary-sized
    // state, so this branch re-reads the corpus but never shuffles it —
    // and the tf subtree above isn't recomputed to feed it.
    val docFreq = df
      .select(explode(array_distinct(tokens(col(textCol)))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("doc_freq"))
    val nDocs = df.select(count(lit(1)).as("n_docs"))
    // broadcastVocab (default): the vocab join never re-shuffles the
    // tf side, so the doc_id partitioning survives into the window —
    // right whenever the distinct-token table fits the 8 GB broadcast
    // ceiling. For a web-scale vocabulary that exceeds it, pass false:
    // the join shuffles on token and the window re-exchanges on doc id
    // (one extra corpus-triple exchange instead of a driver OOM).
    val vocab = if (broadcastVocab) broadcast(docFreq) else docFreq
    val scored = tf.join(vocab, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("doc_freq")), 6))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("token").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col(idCol), col("token"), col("tf"), col("doc_freq"),
              col("tfidf"), col("rn"))
  }

  /** Sparse TF-IDF cosine similarity — document-pair similarity in
    * TOKEN space (the lexical complement to the dense embedding cosine
    * of Similarity): weight w(d,t) = tf·ln(N/df) rounded to 6 (the
    * q75 anchor), cos = Σ w_a·w_b / (‖a‖·‖b‖) over shared tokens,
    * top-`k` partners per document (ties toward the smaller partner
    * id). Catches paraphrase/translation misses that shingle-exact
    * MinHash can't, without needing an embedding model.
    *
    * Scale shape: the INVERTED INDEX dataflow — pairs come from an
    * equi-join of the weight table on token (never an all-pairs
    * product), so work is Σ_t df(t)², exactly the q27/q93 kernel
    * economics; `dfCap` drops tokens with df above the cap from the
    * vector space entirely (the stop-token guard — a token in half
    * the corpus adds df²/4 join rows and ~zero discrimination).
    * Per-term products quantize to 1e-9 into DECIMAL(38,0), so dots
    * and norms are exact and engine-portable however partitions
    * combine. */
  /** TF-IDF weights + norms shared by the two sparse-cosine modes:
    * (weights (id, token, w), norms (id, nrm)). Per-term products are
    * 1e-9-quantized into DECIMAL(38,0) so dots/norms are exact across
    * partitionings. */
  private def tfidfWeightsNorms(df: org.apache.spark.sql.DataFrame,
                                idCol: String, textCol: String, dfCap: Long)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    // pinned: tf is the single tokenize pass of the operator —
    // doc_freq now derives FROM it (tf has exactly one row per
    // (doc, token) pair, so the per-token row count IS document
    // frequency), where the r15 shape re-tokenized the corpus in a
    // second scan. The tokenize runs AFTER the repartition spread
    // (keeping it parallel on 1-split inputs), so without the pin the
    // narrow explode+agg would re-run per consumer.
    val tf = df.repartition(col(idCol))
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("token"))
      .groupBy(col("id"), col("token")).agg(count(lit(1)).as("tf"))
      .pin
    val docFreq = tf
      .groupBy(col("token")).agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") <= dfCap)
    val nDocs = df.select(count(lit(1)).as("n_docs"))
    // pinned: the weight frame IS the inverted index — it
    // feeds both sides of the pair self-join AND the norm fold, and
    // each consumer would otherwise re-run tokenize + tf + the idf
    // joins (the q93 narrow-pipeline lesson: exchanges dedup via
    // ReusedExchange, narrow subtrees re-evaluate). Materializing it
    // once costs one write of the (id, token, w) index — the same
    // order as the shuffle the pair join pays anyway.
    val weights = tf.join(broadcast(docFreq), "token")
      .crossJoin(broadcast(nDocs))
      .select(col("id"), col("token"),
        round(col("tf") * log(col("n_docs").cast("double") / col("doc_freq")),
              6).as("w"))
      .pin
    val norms = weights.groupBy(col("id"))
      .agg(sqrt(sum(quant9(col("w") * col("w"))).cast("double") / lit(1e9))
             .as("nrm"))
    (weights, norms)
  }

  private def quant9(x: org.apache.spark.sql.Column) =
    round(x * lit(1e9), 0).cast("decimal(38,0)")

  /** Query-restricted sparse retrieval: top-k TF-IDF-cosine partners
    * for ONLY the rows matching `queryFilter` (written against the
    * internal `id` column, e.g. `col("id") < 10`), ranked against the
    * WHOLE corpus. Weights/norms/IDF still come from the full corpus
    * (restricting them would change the scores), but the pair join is
    * |Q|-sided: work is Σ_q df(token) over the query rows' tokens, not
    * the all-pairs Σ df² — the difference between "retrieve for these
    * queries" and q110's "similarity matrix of everything". */
  def sparseCosineTopKFor(df: org.apache.spark.sql.DataFrame, idCol: String,
                          textCol: String,
                          queryFilter: org.apache.spark.sql.Column, k: Int,
                          dfCap: Long = Long.MaxValue)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (weights, norms) = tfidfWeightsNorms(df, idCol, textCol, dfCap)
    val dots = weights.filter(queryFilter)
      .select(col("id").as("id_a"), col("token"), col("w").as("w_a"))
      .join(weights.select(col("id").as("id_b"), col("token"),
                           col("w").as("w_b")), "token")
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg((sum(quant9(col("w_a") * col("w_b"))).cast("double") / lit(1e9))
             .as("dot"))
    dots
      .join(broadcast(norms.filter(queryFilter)
        .select(col("id").as("id_a"), col("nrm").as("n_a"))), "id_a")
      .join(norms.select(col("id").as("id_b"), col("nrm").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"),
              (col("dot") / (col("n_a") * col("n_b"))).as("cos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("id_a"))
          .orderBy(col("cos").desc, col("id_b").asc)))
      .filter(col("rn") <= k)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos_sim"),
              col("rn"))
  }

  def sparseCosineTopK(df: org.apache.spark.sql.DataFrame, idCol: String,
                       textCol: String, k: Int,
                       dfCap: Long = Long.MaxValue)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (weights, norms) = tfidfWeightsNorms(df, idCol, textCol, dfCap)
    val q = quant9 _
    val dots = weights.select(col("id").as("id_a"), col("token"),
                              col("w").as("w_a"))
      .join(weights.select(col("id").as("id_b"), col("token"),
                           col("w").as("w_b")), "token")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg((sum(q(col("w_a") * col("w_b"))).cast("double") / lit(1e9))
             .as("dot"))
    val scored = dots
      .join(norms.select(col("id").as("id_a"), col("nrm").as("n_a")), "id_a")
      .join(norms.select(col("id").as("id_b"), col("nrm").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"),
              (col("dot") / (col("n_a") * col("n_b"))).as("cos"))
    // both orientations from ONE explode of the scored pairs — a
    // union of scored with its own swap would make Catalyst evaluate
    // the whole inverted-index pipeline twice (the q70 lesson)
    val both = scored.select(explode(array(
        struct(col("id_a"), col("id_b"), col("cos")),
        struct(col("id_b").as("id_a"), col("id_a").as("id_b"),
               col("cos")))).as("p"))
      .select(col("p.*"))
    both
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("id_a"))
          .orderBy(col("cos").desc, col("id_b").asc)))
      .filter(col("rn") <= k)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos_sim"),
              col("rn"))
  }

  /** Characters of a string column as an array, with the empty-string
    * elements `split` emits at the boundaries filtered out (engines
    * disagree on split-by-'' edge behavior). */
  def chars(c: Column): Column = filter(split(c, ""), ch => ch =!= "")

  /** Shannon entropy (nats) of each document's CHARACTER distribution
    * — the gibberish/binary-noise signal quality filters pair with
    * repetition: natural language sits in a narrow entropy band,
    * random bytes above it, repeated filler below. Computed from
    * character COUNTS (entropy = ln n − Σ c·ln c / n), not a per-row
    * O(chars × distinct) HOF scan — measured 4.3× faster at sf0.1
    * (4.74 s → 1.09 s), and linear in document length. One corpus exchange: the doc-id
    * repartition satisfies both the (doc, char) count and the per-doc
    * entropy aggregations; the Σ c·ln c term sums through
    * DECIMAL(30,6) so the hash is partition-order-independent.
    * Documents with no characters have no count rows and are absent
    * from the output (both engines agree). */
  def charEntropy(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String): org.apache.spark.sql.DataFrame = {
    val counts = df.repartition(col(idCol))
      .select(col(idCol), explode(chars(col(textCol))).as("ch"))
      .groupBy(col(idCol), col("ch")).agg(count(lit(1)).as("c"))
    val n = sum(col("c")).cast("double")
    val cLnC = graft.util.Exact.exactSum(
      col("c").cast("double") * log(col("c").cast("double")))
    counts.groupBy(col(idCol))
      .agg(sum(col("c")).as("n_chars"),
           round(log(n) - cLnC / n, 4).as("char_entropy"))
  }

  /** CCNet-style unigram language-model quality score: each document's
    * mean negative log-likelihood under the corpus's own unigram
    * distribution (low = fluent/common text, high = rare-token noise —
    * the classic perplexity quality filter, scored here with the
    * corpus itself as the LM). Shape at scale: one corpus exchange
    * (repartition by doc id; the per-doc aggregation reuses it), a
    * vocabulary-sized count aggregate broadcast back, and a 1-row
    * total. The per-token log terms sum through DECIMAL(30,6)
    * (order-independent, oracle-exact). */
  def unigramNll(df: org.apache.spark.sql.DataFrame, idCol: String,
                 textCol: String): org.apache.spark.sql.DataFrame = {
    val docs = df.repartition(col(idCol))
    val toks = docs.select(col(idCol), explode(tokens(col(textCol))).as("token"))
    val counts = df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    val total = df.select(
      sum(size(tokens(col(textCol)))).cast("double").as("corpus_n"))
    toks.join(broadcast(counts), "token")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
           round(graft.util.Exact.exactSum(-log(col("c") / col("corpus_n")))
                   / count(lit(1)), 4).as("nll"))
  }

  /** Bigram-LM negative log-likelihood — the CCNet-style LM quality
    * filter one order above [[unigramNll]]: per document, the mean
    * −ln P(wᵢ | wᵢ₋₁) under add-α smoothing on the corpus's own
    * statistics, P = (c₂(wᵢ₋₁wᵢ) + α) / (c₁(wᵢ₋₁) + α·V). Text whose
    * transitions the corpus has never seen (shuffled words, template
    * spam, gibberish) scores high even when its unigrams look normal —
    * exactly what the unigram score cannot separate. Documents with
    * fewer than 2 tokens have no transitions and are absent.
    *
    * Scale shape = [[unigramNll]]'s triangle one gram up: ONE corpus
    * exchange (the doc-id repartition feeds both the bigram explode
    * and the per-doc aggregation); bigram and unigram count tables are
    * vocabulary-sized aggregates that broadcast back; −ln P terms sum
    * through DECIMAL(30,6) so the mean is order-independent and
    * engine-portable. */
  def bigramNll(df: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String,
                alpha: Double = 0.5): org.apache.spark.sql.DataFrame = {
    val docs = df.repartition(col(idCol))
    val grams = docs
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(ngramsOfTokens(col("__toks"), 2)).as("g"))
      .withColumn("w1", element_at(split(col("g"), " "), 1))
    val c2 = df.select(tokens(col(textCol)).as("__toks"))
      .select(explode(ngramsOfTokens(col("__toks"), 2)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c2"))
    val c1 = df.select(explode(tokens(col(textCol))).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = c1.select(count(lit(1)).cast("double").as("v"))
    val p = (col("c2") + lit(alpha)) / (col("c1") + lit(alpha) * col("v"))
    grams
      .join(broadcast(c2), "g")
      .join(broadcast(c1), "w1")
      .crossJoin(broadcast(vocab))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
           round(graft.util.Exact.exactSum(-log(p)) / count(lit(1)), 4)
             .as("nll2"))
  }

  /** Stupid-backoff bigram scoring (Brants et al. 2007) — the
    * large-scale LM filter that skips smoothing mathematics entirely:
    *
    *   S(w₂|w₁) = c₂(w₁w₂)/c₁(w₁)        if the bigram was seen
    *            = λ·c(w₂)/total          else if the unigram was seen
    *            = λ·½/total              else (unseen-word floor)
    *
    * Statistics come from the REFERENCE corpus (`statsDf`), scoring
    * runs over `df` — the trained-on-reference / score-the-candidates
    * split that makes the backoff branches actually fire (a corpus
    * scored against its own counts never backs off). Per document:
    * bigram count, mean −ln S, and how many bigrams backed off.
    * Documents with <2 tokens have no transitions and are absent.
    *
    * Scale shape = [[bigramNll]]: ONE candidate-corpus exchange
    * (doc-id repartition), reference count tables are vocabulary-
    * bounded broadcasts, LEFT joins keep unseen grams, −ln S sums
    * through DECIMAL(30,6). λ = 0.4 per the paper. */
  def stupidBackoff(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String,
                    statsDf: org.apache.spark.sql.DataFrame,
                    statsTextCol: String,
                    lambda: Double = 0.4): org.apache.spark.sql.DataFrame = {
    val grams = df.repartition(col(idCol))
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(ngramsOfTokens(col("__toks"), 2)).as("g"))
      .withColumn("w1", element_at(split(col("g"), " "), 1))
      .withColumn("w2", element_at(split(col("g"), " "), 2))
    val c2 = statsDf.select(tokens(col(statsTextCol)).as("__toks"))
      .select(explode(ngramsOfTokens(col("__toks"), 2)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c2"))
    val c1 = statsDf.select(explode(tokens(col(statsTextCol))).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val total = statsDf.select(
      sum(size(tokens(col(statsTextCol)))).cast("double").as("__total"))
    val s = when(col("c2").isNotNull && col("c1").isNotNull,
                 col("c2").cast("double") / col("c1").cast("double"))
      .when(col("cw2").isNotNull,
            lit(lambda) * col("cw2").cast("double") / col("__total"))
      .otherwise(lit(lambda) * lit(0.5) / col("__total"))
    grams
      .join(broadcast(c2), Seq("g"), "left")
      .join(broadcast(c1), Seq("w1"), "left")
      .join(broadcast(c1.select(col("w1").as("w2"), col("c1").as("cw2"))),
            Seq("w2"), "left")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
           round(graft.util.Exact.exactSum(-log(s)) / count(lit(1)), 4)
             .as("mean_neg_ln_s"),
           sum(when(col("c2").isNull || col("c1").isNull, 1L).otherwise(0L))
             .as("n_backoff"))
  }

  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995; Chen &
    * Goodman 1999 §3) — the canonical n-gram smoothing, one step up
    * from [[stupidBackoff]]'s heuristic: absolute discount D off every
    * seen bigram, with the freed mass λ(w1) = D·N1+(w1 •)/c(w1)
    * re-spent on the CONTINUATION distribution
    * P_cont(w2) = N1+(• w2)/N1+(• •) — "how many contexts does w2
    * complete", the correction that stops frequent-but-context-bound
    * words (the "San Francisco" effect) from soaking up backoff mass:
    *
    *   P(w2|w1) = (max(c(w1 w2) − D, 0) + D·N1+(w1 •)·P_cont(w2))
    *              / c(w1)
    *
    * with c(w1) = Σ_w c(w1 w) (context totals, so rows sum to 1).
    * Bigrams with an UNSEEN context back off to P_cont alone; an
    * unseen continuation takes the 0.5/N1+(• •) floor (the
    * stupid-backoff floor precedent), so every branch is total.
    *
    * Scale shape: identical to [[stupidBackoff]] — all four model
    * frames (bigram counts, context totals+fanout, continuation
    * counts, the 1-row type total) are vocabulary-bounded aggregates
    * broadcast against the scoring grams; the corpus shuffles only
    * into its per-document fold.
    *
    * Determinism: the per-bigram probability is integer-ratio algebra
    * in a fixed factor order mirrored by the oracle; −ln terms sum
    * exactly through [[graft.util.Exact.exactSum]] and the per-doc
    * mean rounds to 4. Output: (id, n_bigrams, kn_nll, n_unseen_ctx). */
  def kneserNeyNll(df: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String,
                   statsDf: org.apache.spark.sql.DataFrame,
                   statsTextCol: String,
                   discount: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(discount > 0 && discount < 1,
      s"kneserNeyNll: need 0 < discount < 1, got $discount")
    val grams = df.repartition(col(idCol))
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(ngramsOfTokens(col("__toks"), 2)).as("g"))
      .withColumn("w1", element_at(split(col("g"), " "), 1))
      .withColumn("w2", element_at(split(col("g"), " "), 2))
    val c2 = statsDf.select(tokens(col(statsTextCol)).as("__toks"))
      .select(explode(ngramsOfTokens(col("__toks"), 2)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c2"))
    val ctx = c2.withColumn("w1", element_at(split(col("g"), " "), 1))
      .groupBy(col("w1"))
      .agg(sum(col("c2")).as("cctx"), count(lit(1)).as("fwd"))
    val bwd = c2.withColumn("w2", element_at(split(col("g"), " "), 2))
      .groupBy(col("w2")).agg(count(lit(1)).as("bwd"))
    val types = c2.agg(count(lit(1)).cast("double").as("__types"))
    val pcont = coalesce(col("bwd").cast("double") / col("__types"),
                         lit(0.5) / col("__types"))
    val p = when(col("cctx").isNotNull,
      (greatest(coalesce(col("c2"), lit(0L)).cast("double") - lit(discount),
                lit(0.0))
        + lit(discount) * col("fwd").cast("double") * pcont)
        / col("cctx").cast("double"))
      .otherwise(pcont)
    grams
      .join(broadcast(c2), Seq("g"), "left")
      .join(broadcast(ctx), Seq("w1"), "left")
      .join(broadcast(bwd), Seq("w2"), "left")
      .crossJoin(broadcast(types))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
           round(graft.util.Exact.exactSum(-log(p)) / count(lit(1)), 4)
             .as("kn_nll"),
           sum(when(col("cctx").isNull, 1L).otherwise(0L))
             .as("n_unseen_ctx"))
  }

  /** Jensen–Shannon divergence between the unigram distributions of
    * two corpus slices (Lin 1991) — the distribution-shift audit a
    * training pipeline runs between the held corpus and an incoming
    * batch (or between domains in a mixture): symmetric, bounded by
    * ln 2, and defined WITHOUT smoothing because the mixture
    * M = (P+Q)/2 is positive wherever either side is (the 0·ln 0
    * terms drop by convention).
    *
    *   JSD = ½ KL(P‖M) + ½ KL(Q‖M),  KL(P‖M) = Σ p ln(p/m)
    *
    * Scale shape: one token-count aggregate per side (map-side
    * combined), ONE vocabulary-bounded full-outer join, the two
    * 1-row totals broadcast — the corpus never shuffles except into
    * its count fold.
    *
    * Determinism: each KL is summed as Σ c·ln(p/m) (integer count ×
    * an O(1) log-ratio, exact under the DECIMAL(30,6) term
    * quantization of [[graft.util.Exact.exactSum]]) and divided by
    * the total count ONCE at the end — summing p·ln(p/m) directly
    * would quantize ~1e-5 terms to 6 decimals and lose the value.
    * Output 1 row: (vocab, n_tokens_a, n_tokens_b, kl_pm, kl_qm,
    * jsd), each rounded to 6. */
  def jsDivergence(dfA: org.apache.spark.sql.DataFrame,
                   dfB: org.apache.spark.sql.DataFrame,
                   textCol: String): org.apache.spark.sql.DataFrame = {
    def cnt(df: org.apache.spark.sql.DataFrame, out: String) =
      df.select(tokens(col(textCol)).as("__toks"))
        .select(explode(col("__toks")).as("__w"))
        .filter(length(col("__w")) > 0)
        .groupBy(col("__w")).agg(count(lit(1)).as(out))
    val j = cnt(dfA, "__ca").join(cnt(dfB, "__cb"), Seq("__w"), "full_outer")
      .select(coalesce(col("__ca"), lit(0L)).as("ca"),
              coalesce(col("__cb"), lit(0L)).as("cb"))
    val tot = j.agg(sum(col("ca")).as("ta"), sum(col("cb")).as("tb"))
    val withM = j.crossJoin(broadcast(tot))
      .withColumn("p", col("ca").cast("double") / col("ta").cast("double"))
      .withColumn("q", col("cb").cast("double") / col("tb").cast("double"))
      .withColumn("m", (col("p") + col("q")) / lit(2.0))
    withM.agg(
        count(lit(1)).as("vocab"), max(col("ta")).as("ta"),
        max(col("tb")).as("tb"),
        graft.util.Exact.exactSum(
          when(col("ca") > 0,
               col("ca").cast("double") * log(col("p") / col("m")))
            .otherwise(lit(0.0))).as("ka"),
        graft.util.Exact.exactSum(
          when(col("cb") > 0,
               col("cb").cast("double") * log(col("q") / col("m")))
            .otherwise(lit(0.0))).as("kb"))
      .select(col("vocab"), col("ta").as("n_tokens_a"),
              col("tb").as("n_tokens_b"),
              round(col("ka") / col("ta").cast("double"), 6).as("kl_pm"),
              round(col("kb") / col("tb").cast("double"), 6).as("kl_qm"),
              round((col("ka") / col("ta").cast("double") +
                     col("kb") / col("tb").cast("double")) / lit(2.0), 6)
                .as("jsd"))
  }

  /** Zipf rank–frequency fit (Zipf 1949): OLS of ln(freq) on ln(rank)
    * over the full vocabulary — slope ≈ −1 on natural language, and a
    * corpus whose slope drifts (template spam flattens it, boilerplate
    * steepens it) fails the curation gate.
    *
    * Rank shape: the fit consumes only the MULTISET of (rank, freq)
    * points, which is invariant to tie order — so ranking runs on the
    * distinct-FREQUENCY frame (O(√tokens) rows), not per word. A
    * per-word rank would put the hapax tie group (~half the vocabulary
    * under Zipf) into ONE window partition regardless of bucketing;
    * here [[graft.operators.OrderedStats.cumsumExclusive]] only
    * assigns each tie group its rank-range START, and the ranks
    * explode back in 64k chunks repartitioned by (freq, chunk) so the
    * hapax group's ln(rank) terms spread across tasks. The fit runs
    * the textbook closed form on exact decimal moment sums (order-
    * independent); every engine-vs-oracle double travels the identical
    * factor order. Output 1 row: (vocab, slope, intercept, r2), 6-dp. */
  def zipfFit(df: org.apache.spark.sql.DataFrame,
              textCol: String): org.apache.spark.sql.DataFrame = {
    val freq = df.select(tokens(col(textCol)).as("__toks"))
      .select(explode(col("__toks")).as("__w"))
      .filter(length(col("__w")) > 0)
      .groupBy(col("__w")).agg(count(lit(1)).as("__f"))
    val byF = freq.groupBy(col("__f")).agg(count(lit(1)).as("__cnt"))
      .withColumn("__negf", -col("__f"))
    val ranked = graft.operators.OrderedStats.cumsumExclusive(
      byF, "__negf", Seq.empty, "__cnt", "__r0")
    val ch = 65536L
    val pts = ranked
      .withColumn("__k",
        explode(sequence(lit(0L), expr(s"(__cnt - 1) div $ch"))))
      .repartition(col("__f"), col("__k"))
      .select(col("__f"),
        explode(sequence(col("__r0") + col("__k") * lit(ch) + lit(1L),
                         least(col("__r0") + col("__cnt"),
                               col("__r0") + (col("__k") + lit(1L)) * lit(ch))))
          .as("__r"))
      .select(log(col("__r").cast("double")).as("x"),
              log(col("__f").cast("double")).as("y"))
    val s = pts.agg(
      count(lit(1)).cast("double").as("n"),
      graft.util.Exact.exactSum(col("x")).as("sx"),
      graft.util.Exact.exactSum(col("y")).as("sy"),
      graft.util.Exact.exactSum(col("x") * col("x")).as("sxx"),
      graft.util.Exact.exactSum(col("x") * col("y")).as("sxy"),
      graft.util.Exact.exactSum(col("y") * col("y")).as("syy"))
    val cov = col("n") * col("sxy") - col("sx") * col("sy")
    val vx  = col("n") * col("sxx") - col("sx") * col("sx")
    val vy  = col("n") * col("syy") - col("sy") * col("sy")
    val slope = cov / vx
    s.select(col("n").cast("long").as("vocab"),
             round(slope, 6).as("slope"),
             round((col("sy") - slope * col("sx")) / col("n"), 6)
               .as("intercept"),
             round(cov * cov / (vx * vy), 6).as("r2"))
  }

  /** Corpus-wide adjacent character-pair frequencies — the statistic a
    * BPE tokenizer trainer maximizes at each merge step (the top pair
    * IS the next merge). Each word contributes its length-1 pairs;
    * counts combine map-side and only vocabulary-of-pairs-sized
    * partials shuffle; the top-k is TakeOrdered, never a full sort.
    * One iteration only: full BPE training re-tokenizes per merge,
    * which is a driver loop over this query with the merge table as a
    * broadcast literal. */
  def bpePairCounts(df: org.apache.spark.sql.DataFrame, textCol: String,
                    k: Int): org.apache.spark.sql.DataFrame =
    df.select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("w")) - 1),
                                i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(k)

  /** Document fingerprint: md5 over whitespace-normalized lowercase
    * text, truncated to 64 bits of hex — stable across engines (vs
    * xxhash64, which DuckDB lacks). */
  def fingerprint(c: Column): Column =
    substring(md5(lower(trim(regexp_replace(c, "\\s+", " ")))), 1, 16)

  /** Rolling (polynomial) hash over the normalized text, reduced mod
    * 2^31 at every step: never overflows a long (ANSI mode throws on
    * long overflow, so the classic wrapping h*31+c is a trap here),
    * and plain modular arithmetic keeps it SQL-mirrorable. */
  def rollingHash64(c: Column): Column = {
    val norm = lower(trim(regexp_replace(c, "\\s+", " ")))
    aggregate(
      split(norm, ""),
      lit(0L),
      (acc, ch) => (acc * 31L + coalesce(ascii(ch).cast("long"), lit(0L)))
        % 2147483648L)
  }

  /** Portable 56-bit hash of each k-token gram of a PRE-SPLIT token
    * array (first 14 md5 hex chars as a long — the NearDup
    * portable-twin arithmetic, so any SQL engine regenerates it).
    * Same staging contract as [[ngramsOfTokens]]: callers name this a
    * column before consuming it more than once. */
  def gramHashes(ws: Column, k: Int): Column =
    transform(ngramsOfTokens(ws, k),
      g => conv(substring(md5(g), 1, 14), 16, 10).cast("long"))

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken
    * 2003 — the MOSS local fingerprinting algorithm; a published
    * pattern, not from the reference) over a PRE-STAGED gram-hash
    * array: slide a w-hash window, keep each window's minimum, dedupe.
    * Guarantee: two documents sharing any token run of length
    * >= w+k-1 share at least one fingerprint, while expected density
    * falls to ~2/(w+1) of the grams — the knob that lets cross-doc
    * fingerprint joins move a FRACTION of the gram volume (contrast
    * [[NearDup.crossDocGramStats]], which keeps every gram). Fewer
    * than w hashes -> one window over what exists; empty -> empty.
    * Scan-local per-row, linear in document length, no shuffle. */
  def winnowFromHashes(hs: Column, w: Int): Column =
    when(size(hs) >= w,
         array_distinct(transform(sequence(lit(0), size(hs) - w),
           i => array_min(slice(hs, i + lit(1), lit(w))))))
      .when(size(hs) > 0, array(array_min(hs)))
      .otherwise(typedLit(Seq.empty[Long]))

  /** Collocation mining: top-k adjacent word pairs by pointwise mutual
    * information, PMI = ln(P(xy) / (P(x)·P(y))) — high when a bigram
    * occurs far more than its words' independent rates predict
    * ("machine learning", "New York"). `minCount` floors the bigram
    * count first: PMI's known pathology is that a pair seen once
    * between two rare words scores arbitrarily high.
    *
    * Shape: bigram and unigram counts are two map-side-combined
    * aggregations over the same scan-local explodes (gram strings,
    * the [[ngramsOfTokens]] kernel); unigram counts are a
    * vocabulary-sized broadcast (the q75 contract — swap to a shuffle
    * join past the broadcast ceiling); totals are 1-row crossJoins;
    * top-k is an orderBy+limit = TakeOrdered (per-partition heaps,
    * never a full sort). Counts are exact longs, so the PMI double is
    * a deterministic function of them in any engine. */
  def pmiCollocations(df: org.apache.spark.sql.DataFrame, textCol: String,
                      minCount: Long, k: Int): org.apache.spark.sql.DataFrame = {
    val toks = df.select(tokens(col(textCol)).as("__toks"))
    val uni = df.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val nTok = uni.agg(sum(col("c")).cast("double").as("nt"))
    val nBi = toks.select(
        greatest(size(col("__toks")) - 1, lit(0)).as("nb_doc"))
      .agg(sum(col("nb_doc")).cast("double").as("nb"))
    val bi = toks.select(explode(ngramsOfTokens(col("__toks"), 2)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= minCount)
      .withColumn("w1", element_at(split(col("g"), " "), 1))
      .withColumn("w2", element_at(split(col("g"), " "), 2))
    bi
      .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c1"))), "w1")
      .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c2"))), "w2")
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBi))
      .select(col("w1"), col("w2"), col("cxy"),
        round(log((col("cxy").cast("double") / col("nb")) /
                  ((col("c1").cast("double") / col("nt")) *
                   (col("c2").cast("double") / col("nt")))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }
}
