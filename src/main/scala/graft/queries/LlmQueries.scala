package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.llm.{AudioFixtures, Chunking, Dsir, ImageFixtures, Multimodal, NearDup, Packing, Quantize, Redact, Sampling, Similarity, TextStats}
import graft.queries.OracleSql.{lcgSql, toks}
import graft.util.Exact.exactSum
import graft.util.Pin._

/** LLM-training-data operators (driver mandate, SURVEY §7.4) over the
  * documents/embeddings tables. Oracle-matched where DuckDB can express
  * the same computation; hash-based ops (MinHash/SimHash/SRP use
  * xxhash64, absent in DuckDB) are rows-only with golden ScalaTest
  * coverage instead.
  *
  * Expensive pair-generating demos are bounded by doc_id so Bench stays
  * proportional at sf0.1 — the unbounded scale path is the LSH variant.
  */
object LlmQueries {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // Exact dedup: hash-groupBy on content hash.
    "q23_exact_dedup" -> ((s, d) => {
      NearDup.exactDupGroups(documents(s, d), "text", "doc_id")
    }),

    // Token counts / stopword-ratio quality stats per language.
    "q24_text_stats" -> ((s, d) => {
      documents(s, d)
        .select(col("lang"),
                TextStats.tokenCount(col("text")).as("n_tok"),
                TextStats.stopwordRatio(col("text"), Seq("the", "a", "of")).as("swr"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_tok")).as("sum_tokens"),
             round(sum(col("swr")) / count(lit(1)), 4).as("avg_stopword_ratio"))
    }),

    // Marker-word language ID vs the labeled lang column.
    "q25_langid" -> ((s, d) => {
      documents(s, d)
        .select(col("lang"), TextStats.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
    }),

    // Normalized-text fingerprint cardinality.
    "q26_fingerprint" -> ((s, d) => {
      documents(s, d)
        .select(TextStats.fingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("n_docs"), countDistinct(col("fp")).as("n_fp"))
    }),

    // Exact n-gram (token-set) Jaccard over bounded same-lang pairs —
    // the verification kernel of near-dup; LSH (q28) is the scale path
    // that avoids this O(n^2) shape.
    "q27_jaccard_pairs" -> ((s, d) => {
      val docs = documents(s, d).filter(col("doc_id") < 500)
      val tok = docs.select(col("doc_id"), col("lang"),
                            explode(NearDup.tokenSet(col("text"))).as("t"))
      val cnt = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val inter = tok.as("a").join(tok.as("b"),
          col("a.t") === col("b.t") && col("a.lang") === col("b.lang") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("b.doc_id") <= col("a.doc_id") + 25)
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("ni"))
      val j = col("ni").cast("double") /
        (col("ca.n") + col("cb.n") - col("ni")).cast("double")
      inter
        .join(cnt.as("ca"), col("id_a") === col("ca.doc_id"))
        .join(cnt.as("cb"), col("id_b") === col("cb.doc_id"))
        .filter(j >= 0.5)
        .select(col("id_a"), col("id_b"), round(j, 4).as("jaccard"))
    }),

    // MinHash + LSH near-dup via the native XXH64 scale path,
    // oracle-checked through INVARIANTS (q36's envelope pattern).
    // DuckDB can't recompute xxhash64, but it CAN recompute (1) the
    // exact token-set Jaccard of any pair and (2) the portable
    // pipeline (q57) at identical (bands, rows, maxBucket) — so the
    // query runs the native pipeline and emits one row of checked
    // claims: every native pair is >= threshold by TRUE Jaccard
    // (min observed IS 0.8 — exact, not approximate); the native set
    // recovers >= 95% of the portable pipeline's verified pairs
    // (measured 99.4% at sf0.001 and sf0.01); and its size is within
    // 5% of the portable count (measured <= 0.5%). A regression
    // anywhere in the native path — shingle hashing, fused signature,
    // banding, bucket join, Jaccard gate — flips a boolean and reds
    // the row. Unigram shingles make overlap visible in the synthetic
    // small-vocab corpus; maxBucket=300 is the skew guard (band
    // buckets above it are degenerate whole-vocabulary clusters — at
    // scale those are exact-dup mega-groups handled by q23, and
    // pairing them is O(bucket²) for no near-dup signal).
    "q28_minhash_pairs" -> ((s, d) => {
      val docs = documents(s, d).filter(col("doc_id") < 1000)
      // Both pipelines run with a NON-BINDING bucket cap: when the
      // skew cap actually bites, WHICH over-full buckets get dropped
      // depends on the hash family, so native-vs-portable recall is
      // no longer a property of the algorithm (measured at sf0.1:
      // recall 0.55 capped at 300, 0.99 uncapped, with counts within
      // 1% either way). The cap stays the production default on
      // nearDupPairs — it is a skew GUARD, not a sampler, and the
      // recall invariant is only meaningful where it is inactive.
      // Pin both pair frames and the token frame: `portable` feeds TWO
      // consumers (the recall left-join and the count aggregate),
      // `toks` both sides of the true-Jaccard join-back — unpinned,
      // each consumer re-ran a full LSH pipeline (shingle → signature
      // → banding → bucket join → verify), 28 parquet scans in the r14
      // plan. Pair frames are bounded by near-dup density (the q70
      // checkpoint precedent); at any scale they are tiny vs the
      // corpus.
      val native = NearDup.nearDupPairs(docs, "doc_id", "text",
        shingleSize = 1, threshold = 0.8, numBands = 8, rowsPerBand = 4,
        maxBucket = 100000).pin
      val portable = NearDup.portableNearDupPairs(docs, "doc_id", "text",
        threshold = 0.8, maxBucket = 100000).pin
      val toks = docs.select(col("doc_id").as("id"),
        array_sort(NearDup.tokenSet(col("text"))).as("toks"))
        .pin
      val trueJac = native
        .join(toks.select(col("id").as("id_a"), col("toks").as("t_a")), "id_a")
        .join(toks.select(col("id").as("id_b"), col("toks").as("t_b")), "id_b")
        .select(col("id_a"), col("id_b"),
          NearDup.sortedJaccard(s, col("t_a"), col("t_b")).as("true_jac"))
      val p = portable.select(col("id_a"), col("id_b"))
      val nativeAgg = trueJac
        .join(p.withColumn("__hit", lit(1)), Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_native"), sum(col("__hit")).as("n_hit"),
             min(col("true_jac")).as("min_jac"))
      nativeAgg.crossJoin(p.agg(count(lit(1)).as("n_portable_pairs")))
        .select(
          col("n_portable_pairs"),
          (col("min_jac") >= 0.8).as("native_pairs_all_ge_threshold"),
          (col("n_hit").cast("double") / col("n_portable_pairs") >= 0.95)
            .as("native_recall_of_portable_ge_95pct"),
          (abs(col("n_native") - col("n_portable_pairs")) <=
             col("n_portable_pairs") * 0.05)
            .as("native_count_within_5pct_of_portable"))
    }),

    // Native (xxhash64, 64-bit) SimHash, oracle-checked through
    // INVARIANTS like q28: the fused codegen signature must be
    // bit-identical to the interpreted HOF reference fold for EVERY
    // doc; over the oracle-known near-dup pairs (portable pipeline,
    // Jaccard >= 0.8) the native Hamming distance stays small (max
    // measured 20 of 64, mean ~9 — bounds 26/13); and the signatures
    // stay bit-balanced (mean popcount measured 26.0, window [22, 34]).
    // The algorithm itself is additionally hash-verified bit-for-bit
    // by its portable twin q58; this row pins the xxhash64 path that
    // twin can't see.
    "q29_simhash" -> ((s, d) => {
      val base = documents(s, d).filter(col("doc_id") < 500)
      // spread only the simhash input (the 64-bit vote folds are the
      // CPU-heavy part); the portable pair pipeline below keeps its
      // native partitioning (Tables.spreadSmall scaladoc)
      val docs = graft.Tables.spreadSmall(base).select(col("doc_id"),
        NearDup.tokenSet(col("text")).as("toks"))
      val nat = NearDup.simhash64(docs, "doc_id", col("toks"))
      val ref = NearDup.simhash64Hof(docs, "doc_id", col("toks"))
      val ham = NearDup.portableNearDupPairs(base, "doc_id", "text",
          threshold = 0.8)
        .join(nat.select(col("doc").as("id_a"), col("simhash").as("s_a")), "id_a")
        .join(nat.select(col("doc").as("id_b"), col("simhash").as("s_b")), "id_b")
        .select(NearDup.hamming64(col("s_a"), col("s_b")).as("h"))
        .agg(max(col("h")).as("max_h"), avg(col("h")).as("mean_h"))
      nat.as("n").join(ref.as("r"), "doc")
        .agg(count(lit(1)).as("n_docs"),
             sum(when(col("n.simhash") =!= col("r.simhash"), 1).otherwise(0))
               .as("n_mismatch"),
             avg(bit_count(col("n.simhash"))).as("mean_bits"))
        .crossJoin(ham)
        .select(
          col("n_docs"),
          (col("n_mismatch") === 0).as("native_matches_hof_reference"),
          (col("max_h") <= 26).as("neardup_max_hamming_le_26"),
          (col("mean_h") <= 13.0).as("neardup_mean_hamming_le_13"),
          (col("mean_bits") >= 22.0 && col("mean_bits") <= 34.0)
            .as("mean_bitcount_in_22_34"))
    }),

    // Hash-VERIFIED SimHash: md5-mod-P token hashes (the q57 hash) and
    // per-bit ±1 folds the DuckDB oracle recomputes bit-for-bit —
    // cross-validating q29's xxhash64 native path.
    "q58_simhash_portable" -> ((s, d) => {
      val docs = documents(s, d).filter(col("doc_id") < 500)
      NearDup.portableSimhash(
        docs.select(col("doc_id"), NearDup.tokenSet(col("text")).as("toks")),
        "doc_id", col("toks"), bits = 16)
    }),

    // Brute-force cosine top-k (the ANN baseline).
    "q30_cosine_topk" -> ((s, d) => {
      val e = embeddings(s, d)
      Similarity.cosineTopK(e, "vec_id", "embedding",
                            e.filter(col("vec_id") < 10), "vec_id", "embedding", 10)
        .select(col("qid"), col("cid"), round(col("cos_sim"), 4).as("cos_sim"))
    }),

    // Same as q30 but scored by the codegen'd native Catalyst
    // expression — bit-identical float path, so it shares q30's oracle.
    "q37_cosine_native" -> ((s, d) => {
      val e = embeddings(s, d)
      Similarity.cosineTopKNative(e, "vec_id", "embedding",
                                  e.filter(col("vec_id") < 10), "vec_id", "embedding", 10)
        .select(col("qid"), col("cid"), round(col("cos_sim"), 4).as("cos_sim"))
    }),

    // Per-label embedding norm stats.
    "q31_embed_norms" -> ((s, d) => {
      embeddings(s, d)
        .select(col("label"), Similarity.norm(col("embedding")).as("nrm"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
             round(sum(col("nrm")) / count(lit(1)), 4).as("avg_norm"))
    }),

    // SRP-bucketed ANN (rows-only; scale path for q30).
    "q32_ann_topk" -> ((s, d) => {
      val e = embeddings(s, d)
      Similarity.annTopK(e, "vec_id", "embedding",
                         e.filter(col("vec_id") < 10), "vec_id", "embedding",
                         k = 10, dim = 64, bits = 4)
        .select(col("qid"), col("cid"), round(col("cos_sim"), 4).as("cos_sim"))
    }),

    // IVF-flat ANN (rows-only): nProbe-cell rerank, the
    // partitioned-index scale path complementary to SRP-LSH (q32).
    "q40_ivf_topk" -> ((s, d) => {
      val e = embeddings(s, d)
      Similarity.ivfTopK(e, "vec_id", "embedding",
                         e.filter(col("vec_id") < 10), "vec_id", "embedding",
                         k = 10, nCentroids = 16, nProbe = 4)
        .select(col("qid"), col("cid"), round(col("cos_sim"), 4).as("cos_sim"))
    }),

    // PII redaction over deterministically injected spans (the corpus
    // has no natural PII): redacted text + per-doc PII counts.
    "q49_redact" -> ((s, d) => {
      val pii = when(col("doc_id") % 3 === 0,
          concat(lit("mail bob"), col("doc_id").cast("string"),
                 lit("@example.com or 10.0.0.1 ok")))
        .when(col("doc_id") % 3 === 1, lit("call 555-123-4567 now"))
        .otherwise(lit("clean text here"))
      documents(s, d).filter(col("doc_id") < 300)
        .select(col("doc_id"),
                Redact.redactPII(pii).as("redacted"),
                Redact.piiCount(pii).as("n_pii"))
    }),

    // Overlapping token-window chunking (20-token windows, stride 10).
    "q47_chunking" -> ((s, d) => {
      Chunking.chunkTokens(documents(s, d).filter(col("doc_id") < 200),
                           "doc_id", "text", size = 20, stride = 10)
    }),

    // Symmetric int8 quantization of embeddings; per-vector quantized
    // checksum keeps the output small while pinning every element.
    "q48_quantize" -> ((s, d) => {
      val e = embeddings(s, d)
        .withColumn("mx", Quantize.maxAbs(col("embedding")))
      e.select(col("vec_id"),
               aggregate(Quantize.quantizeInt8(col("embedding"), col("mx")),
                         lit(0L), (a, x) => a + x).as("sum_q"))
    }),

    // Multimodal plumbing surface: opaque binary column + metadata.
    "q33_binary_meta" -> ((s, d) => {
      documents(s, d).filter(col("doc_id") < 100)
        .select(col("doc_id"),
                length(col("text").cast("binary")).as("n_bytes"),
                md5(col("text")).as("content_md5"))
    }),

    // Embedding-cosine near-dup: SRP buckets (LCG-derived, so the
    // oracle recomputes them) + exact-cosine verification — the
    // embedding-space sibling of q28's MinHash-LSH.
    "q51_embed_neardup" -> ((s, d) => {
      NearDup.embedNearDupPairs(embeddings(s, d), "vec_id", "embedding",
                                dim = 64, bits = 4, threshold = 0.35)
        .select(col("id_a"), col("id_b"), round(col("cos_sim"), 4).as("cos_sim"))
    }),

    // Quality scoring per document: BPE-ish token estimate,
    // punctuation ratio, mean token length — all codegen'd regex/HOF
    // expressions, zero shuffle.
    "q52_quality" -> ((s, d) => {
      documents(s, d).filter(col("doc_id") < 200)
        .select(col("doc_id"),
                TextStats.bpeishTokens(col("text")).cast("bigint").as("n_bpeish"),
                round(TextStats.punctRatio(col("text")), 4).as("punct_ratio"),
                round(TextStats.avgTokenLen(col("text")), 4).as("avg_token_len"))
    }),

    // Gopher-style repetition quality filter: duplicate bigram/trigram
    // fractions + most-frequent-token share, per document. All per-row
    // HOFs over the once-split token array — scan-local, zero shuffle;
    // the keep flag applies fixed thresholds the oracle re-evaluates.
    // Staged projections: the token and gram arrays are named columns
    // used more than once downstream, so CollapseProject keeps each
    // stage separate and the regex split + gram builds run ONCE per
    // row (inlining them into every metric measured 27.8 s vs 1.5 s on
    // this query at sf0.1 — same results, 18× the work).
    "q74_repetition" -> ((s, d) => {
      val withTokens = graft.Tables.spreadSmall(documents(s, d))
        .select(col("doc_id"), TextStats.tokens(col("text")).as("ws"))
      val withGrams = withTokens.select(
        col("doc_id"), col("ws"),
        TextStats.ngramsOfTokens(col("ws"), 2).as("g2"),
        TextStats.ngramsOfTokens(col("ws"), 3).as("g3"))
      val metrics = withGrams.select(
        col("doc_id"),
        size(col("ws")).cast("bigint").as("n_tokens"),
        TextStats.duplicateFractionOfGrams(col("g2")).as("dup2"),
        TextStats.duplicateFractionOfGrams(col("g3")).as("dup3"),
        TextStats.topTokenFractionOfTokens(col("ws")).as("top"))
      metrics.select(
        col("doc_id"), col("n_tokens"),
        round(col("dup2"), 4).as("dup_bigram_frac"),
        round(col("dup3"), 4).as("dup_trigram_frac"),
        round(col("top"), 4).as("top_token_frac"),
        (col("dup2") <= 0.6 && col("top") <= 0.2).cast("bigint").as("keep"))
    }),

    // Quality-weighted importance sampling: keep probability = the
    // document's (1 - duplicate-bigram-fraction) quality score — the
    // per-row generalization of q62's per-domain rates. Score and keep
    // are scan-local expressions; the only exchange is the audit
    // aggregation.
    "q79_importance_sample" -> ((s, d) => {
      val withGrams = documents(s, d)
        .select(col("doc_id"), col("source"),
                TextStats.tokens(col("text")).as("ws"))
        .select(col("doc_id"), col("source"),
                TextStats.ngramsOfTokens(col("ws"), 2).as("g2"))
      val keep = Sampling.importanceKeep(
        col("doc_id"),
        lit(1.0) - TextStats.duplicateFractionOfGrams(col("g2")))
      withGrams
        .select(col("source"), col("doc_id"), keep.cast("long").as("keep"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("keep")).as("n_kept"),
             sum(when(col("keep") === 1, col("doc_id"))
                   .cast("decimal(38,0)")).cast("long")
               .as("kept_id_checksum"))
    }),

    // Character-entropy quality signal: gibberish / binary noise sits
    // above the natural-language band, repeated filler below. Count-
    // based (ln n − Σ c·ln c / n), one doc-partitioned exchange.
    "q85_char_entropy" -> ((s, d) =>
      TextStats.charEntropy(documents(s, d), "doc_id", "text")),

    // CCNet-style unigram LM quality score: per-doc mean NLL under the
    // corpus unigram distribution — the perplexity quality filter.
    "q83_unigram_nll" -> ((s, d) =>
      TextStats.unigramNll(documents(s, d), "doc_id", "text")),

    // BPE merge-selection statistic: top-10 adjacent character pairs
    // across the corpus (the argmax pair is the next BPE merge).
    // Map-side-combined pair counts; TakeOrdered top-k.
    "q82_bpe_pairs" -> ((s, d) =>
      TextStats.bpePairCounts(documents(s, d), "text", k = 10)),

    // Per-document top-3 TF-IDF terms: map-side-combinable tf groupBy,
    // vocabulary-sized doc-freq aggregate broadcast back, bounded
    // per-doc window — the canonical distributed tf-idf shape.
    "q75_tfidf" -> ((s, d) =>
      TextStats.tfidfTopTerms(documents(s, d), "doc_id", "text", k = 3)),

    // Deterministic train/val/test split: assignment is a pure LCG
    // function of doc_id — reproducible across runs/engines/
    // partitionings, zero shuffle before the count.
    "q54_split" -> ((s, d) => {
      documents(s, d)
        .select(col("doc_id"), Sampling.assignSplit(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_checksum"))
    }),

    // Sequence packing, contiguous-chunking contract: bin =
    // floor(exclusive cumsum / budget), one window cumsum per
    // deterministic shard (the shard bounds the window so nothing
    // serializes globally); bins may overflow by one doc's tokens.
    "q55_packing" -> ((s, d) => {
      val docs = documents(s, d).select(
        col("doc_id"), TextStats.tokenCount(col("text")).cast("long").as("n_tokens"))
      Packing.packBins(docs, "doc_id", "n_tokens", budget = 512, nShards = 8,
                       Seq(col("doc_id").asc))
    }),

    // Sequence packing, STRICT first-fit: a bin closes when the next
    // doc would overflow it (needs a running reset — a sequential
    // per-shard fold, not a window; the oracle recomputes it with a
    // recursive CTE advancing all shards in lockstep).
    "q59_firstfit_packing" -> ((s, d) => {
      val docs = documents(s, d).select(
        col("doc_id"), TextStats.tokenCount(col("text")).cast("long").as("n_tokens"))
      Packing.packBinsFirstFit(docs, "doc_id", "n_tokens", budget = 512,
                               nShards = 8, Seq(col("doc_id").asc))
    }),

    // Vocabulary: top-20 tokens, deterministic tiebreak, TakeOrdered
    // (no full sort).
    "q56_vocab" -> ((s, d) =>
      TextStats.topTokens(documents(s, d), "text", 20)),

    // Length-bucketed inference batching: fixed-count batches over
    // length-sorted docs per shard, with padding waste as a queryable
    // metric (the serving-side complement of q55/q59 packing).
    "q69_length_batches" -> ((s, d) => {
      val docs = documents(s, d).select(
        col("doc_id"), TextStats.tokenCount(col("text")).cast("long").as("n_tokens"))
      Packing.lengthBatches(docs, "doc_id", "n_tokens",
                            batchSize = 32, nShards = 8)
    }),

    // Mixture sampling: per-source deterministic keep rates (corpus
    // re-weighting across domains) — a pure LCG function of doc_id,
    // zero shuffle before the audit aggregation.
    "q62_mixture_sample" -> ((s, d) => {
      val keep = Sampling.mixtureKeep(
        col("doc_id"), col("source"),
        Seq("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25), defaultRate = 0.1)
      documents(s, d)
        .select(col("source"), keep.cast("long").as("keep"), col("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("keep")).as("n_kept"),
             sum(when(col("keep") === 1, col("doc_id"))
                   .cast("decimal(38,0)")).cast("long")
               .as("kept_id_checksum"))
    }),

    // Hash-VERIFIED MinHash-LSH: the portable-arithmetic twin of q28 —
    // md5/modular hashes the oracle recomputes exactly, so banding,
    // bucketing, candidate generation and Jaccard verification are all
    // externally checked (q28 keeps the XXH64 native scale path).
    "q57_minhash_portable" -> ((s, d) => {
      NearDup.portableNearDupPairs(documents(s, d).filter(col("doc_id") < 1000),
                                   "doc_id", "text", threshold = 0.8)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    }),

    // Dedup GROUPS: connected components over the q57 near-dup pair
    // graph (min-label propagation + pointer jumping), one row per
    // group with the surviving representative — the step that turns
    // verified pairs into an actual dedup decision. Oracle recomputes
    // the components with a recursive reachability CTE over the SAME
    // edge SQL q57 hash-matches.
    "q60_dedup_groups" -> ((s, d) => {
      val pairs = NearDup.portableNearDupPairs(
        documents(s, d).filter(col("doc_id") < 1000), "doc_id", "text",
        threshold = 0.8)
      graft.llm.Components.dedupGroups(pairs, "id_a", "id_b")
    }),

    // q60's groups with a QUALITY survivor: per component keep the
    // longest member (token count desc, id asc) — the production
    // dedup policy, over the same oracle-verified edge set.
    "q84_dedup_survivors" -> ((s, d) => {
      val docs = documents(s, d).filter(col("doc_id") < 1000)
      val pairs = NearDup.portableNearDupPairs(docs, "doc_id", "text",
                                               threshold = 0.8)
      val quality = docs.select(
        col("doc_id"), TextStats.tokenCount(col("text")).cast("long")
          .as("n_tokens"))
      graft.llm.Components.dedupSurvivors(pairs, "id_a", "id_b",
                                          quality, "doc_id", "n_tokens")
    }),

    // Product-quantization ANN (ADC): corpus encoded to 8 one-byte
    // codes (32x compression), queries scan codes via per-query
    // distance-table lookups — codebooks are the LCG-selected vectors
    // the oracle recomputes, so codes, distances and ranking are all
    // hash-checked.
    "q63_pq_ann" -> ((s, d) => {
      val e = embeddings(s, d)
      Similarity.pqTopK(e, "vec_id", "embedding",
                        e.filter(col("vec_id") < 10), "vec_id", "embedding",
                        k = 10)
        .select(col("qid"), col("cid"), round(col("adc_dist"), 4).as("adc_dist"))
    }),

    // IVFADC: IVF cell pruning (q40's machinery) composed with PQ
    // codes (q63's) — candidates come only from probed cells AND are
    // scored from their 8-byte codes. The composition the two
    // building blocks exist for; every stage oracle-recomputed.
    "q65_ivfadc" -> ((s, d) => {
      val e = embeddings(s, d)
      Similarity.ivfPqTopK(e, "vec_id", "embedding",
                           e.filter(col("vec_id") < 10), "vec_id", "embedding",
                           k = 10)
        .select(col("qid"), col("cid"), round(col("adc_dist"), 4).as("adc_dist"))
    }),

    // Fixed-count per-group sampling: exactly 5 docs per language by
    // deterministic LCG priority (the eval-set construction knob; q62
    // is the rate-based form).
    "q66_priority_sample" -> ((s, d) => {
      Sampling.prioritySample(documents(s, d), Seq("lang"), col("doc_id"), 5)
        .select(col("lang"), col("doc_id"))
    }),

    // Decontamination: training docs near-duplicating a benchmark/eval
    // doc (the q66 sample standing in for a held-out benchmark) must
    // be dropped before training. Composes the verified q57 pair SQL
    // with the benchmark membership — a pair with exactly one endpoint
    // in the benchmark marks its other endpoint contaminated.
    "q68_contamination" -> ((s, d) => {
      val docs = documents(s, d).filter(col("doc_id") < 1000)
      val bench = Sampling.prioritySample(docs, Seq("lang"), col("doc_id"), 5)
        .select(col("doc_id").as("bench_id"))
      val pairs = NearDup.portableNearDupPairs(docs, "doc_id", "text",
                                               threshold = 0.8)
      val flagged = pairs
        .join(broadcast(bench.withColumnRenamed("bench_id", "__ba")),
              col("id_a") === col("__ba"), "left")
        .join(broadcast(bench.withColumnRenamed("bench_id", "__bb")),
              col("id_b") === col("__bb"), "left")
        .filter(col("__ba").isNotNull =!= col("__bb").isNotNull)
        .select(
          when(col("__ba").isNotNull, col("id_b")).otherwise(col("id_a"))
            .as("train_id"),
          when(col("__ba").isNotNull, col("id_a")).otherwise(col("id_b"))
            .as("bench_id"))
      flagged.groupBy(col("train_id"))
        .agg(count(lit(1)).as("n_bench_hits"),
             min(col("bench_id")).as("first_bench_id"))
    }),

    // CAPSTONE — the full corpus build as one verified pipeline:
    // quality gate → near-dup groups (keep each component's
    // representative) → hold out a benchmark sample and drop both it
    // and everything contaminated by it → per-source mixture sampling
    // → train/val/test split → token-budget packing per (split,
    // shard). Every stage is an operator verified on its own query
    // (q52/q57/q60/q66/q68/q62/q54/q59); this proves they COMPOSE,
    // hash-exact end to end.
    "q70_corpus_build" -> ((s, d) => {
      val base = documents(s, d).filter(col("doc_id") < 1000)
        .withColumn("n_tok", TextStats.tokenCount(col("text")).cast("long"))
      val quality = base.filter(col("n_tok") >= 5)
      // The LSH pair pipeline feeds TWO consumers (the dedup-group
      // components and the contamination sweep); materialize it once
      // (eager local checkpoint, same lineage-truncation Components
      // uses internally) instead of re-running shingling + banding +
      // bucket join per consumer. The pair set is bounded by near-dup
      // density, tiny relative to the corpus, so checkpoint storage is
      // negligible at any scale.
      val pairs = NearDup.portableNearDupPairs(quality, "doc_id", "text",
                                               threshold = 0.8).pin
      val nonRep = graft.llm.Components
        .connectedComponents(pairs, "id_a", "id_b")
        .filter(col("node") =!= col("label"))
        .select(col("node").as("doc_id"))
      val deduped = quality.join(nonRep, Seq("doc_id"), "left_anti")
      val bench = Sampling.prioritySample(quality, Seq("lang"), col("doc_id"), 5)
        .select(col("doc_id"))
      // Both orientations of every pair in ONE pass over the (costly)
      // LSH pipeline — a union of two semi-joins would evaluate the
      // whole pair subtree once per branch (the Components explode
      // lesson).
      val contaminated = pairs
        .select(explode(array(
          struct(col("id_a").as("tid"), col("id_b").as("other")),
          struct(col("id_b").as("tid"), col("id_a").as("other")))).as("e"))
        .select(col("e.tid"), col("e.other"))
        .join(broadcast(bench.withColumnRenamed("doc_id", "__b")),
              col("other") === col("__b"), "left_semi")
        .select(col("tid").as("doc_id"))
        .distinct()
      val clean = deduped
        .join(bench, Seq("doc_id"), "left_anti")
        .join(contaminated, Seq("doc_id"), "left_anti")
      val sampled = clean.filter(Sampling.mixtureKeep(
        col("doc_id"), col("source"), Seq("src0" -> 1.0, "src1" -> 0.25),
        defaultRate = 0.5))
      val withSplit = sampled.withColumn("split",
        Sampling.assignSplit(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
      // STRICT first-fit packing (q59's operator): production bins
      // must respect the token budget, not overflow it by a straddling
      // document — a bin closes when the next document wouldn't fit.
      Packing
        .assignBinsFirstFit(withSplit, "doc_id", "n_tok", budget = 512,
                            nShards = 8, order = Seq(col("doc_id").asc),
                            extraKeys = Seq(col("split")))
        .groupBy(col("split"), col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_tok")).as("sum_tokens"),
             sum(col("doc_id")).as("id_checksum"))
    }),

    // One Lloyd k-means refinement over the embeddings: spherical
    // assignment to the 8 LCG-seeded centroids (q40's cells), then
    // exact per-dimension means — the step that turns the
    // deterministic seed into FITTED centroids. Every assignment and
    // every mean is oracle-recomputed.
    "q71_kmeans_step" -> ((s, d) => {
      Similarity.lloydStep(embeddings(s, d), "vec_id", "embedding",
                           nCentroids = 8)
    }),

    // Reproducible corpus shuffle: every document's (shard, pos)
    // training-order coordinate, a pure function of doc_id — the
    // decorrelated-but-auditable read order a trainer consumes.
    "q73_corpus_shuffle" -> ((s, d) => {
      Sampling.shuffleOrder(documents(s, d), "doc_id", nShards = 8)
        .select(col("shard"), col("pos"), col("doc_id"))
    }),

    // The ITERATED k-means fit (not just q71's single step): two full
    // Lloyd rounds from the LCG seed — round-2 assignment runs against
    // round-1's UNROUNDED exact means, with the empty-cell
    // retain-previous-centroid fallback — plus the iteration count the
    // convergence loop actually took. The oracle recomputes both
    // rounds as chained CTEs (centroids are k·dim values, so round
    // 1's means rebuild into round 2's centroid vectors in SQL).
    // tol=0 pins "iterate while anything moves", so n_iters = maxIter
    // unless the fit truly converges — which the oracle would catch.
    "q89_kmeans_fit" -> ((s, d) => {
      val (stats, iters) = Similarity.kmeansFit(
        embeddings(s, d), "vec_id", "embedding",
        nCentroids = 8, maxIter = 2, tol = 0.0)
      stats.withColumn("n_iters", lit(iters))
    }),

    // SemDeDup (Abbas et al. 2023): cluster-then-pairwise semantic
    // dedup — the k-means cells bound the quadratic pair stage the way
    // LSH bands bound MinHash. Composes the oracle-verified k-means
    // fit (q89) with the verified threshold-cosine pair kernel (q51);
    // the oracle replays both Lloyd rounds as chained CTEs, reassigns
    // under the FINAL centroids, and recomputes the within-cell pair
    // set, the keep-lowest-id rule, and both checksums exactly.
    "q90_semantic_dedup" -> ((s, d) => {
      Similarity.semanticDedup(embeddings(s, d), "vec_id", "embedding",
                               nCentroids = 8, maxIter = 2, tau = 0.35)
    }),

    // Cross-document exact-substring duplication at 8-token
    // granularity (Lee et al. 2022): a gram duplicated iff it occurs
    // in >= 2 distinct docs; per-doc instance counts + duplicated
    // fraction. Grams reduce to md5 digests before any exchange; the
    // oracle regenerates every gram by list-slicing the same token
    // arrays and recomputes the distinct-doc counts exactly.
    "q91_kgram_dedup" -> ((s, d) => {
      NearDup.crossDocGramStats(documents(s, d), "doc_id", "text", k = 8)
    }),

    // PDF text extraction, gated sample-exact: fixture PDFs built
    // from REAL document text (two pages, Flate streams, indirect
    // /Length, a WinAnsi high-byte line through octal escapes),
    // walked back through xref → page tree → content-stream
    // interpreter. The oracle reconstructs every page's text
    // symbolically — chr() for the non-ASCII — so an xref, Flate,
    // escape, encoding or line-contract bug breaks the hash. The
    // 50-row collect builds the FIXTURE, not the result.
    "q278_pdf_extract" -> ((s, d) => {
      import graft.llm.PdfText
      val sess = s
      import sess.implicits._
      val rows = documents(s, d).filter(col("doc_id") < 50)
        .select(col("doc_id"), col("text")).collect()
        .sortBy(_.getLong(0))
        .map { r =>
          val id = r.getLong(0)
          (id, PdfText.fixture(Seq(
            Seq(s"doc $id", r.getString(1), "café — fin"),
            Seq(s"page two of doc $id"))))
        }.toSeq
      PdfText.extract(rows.toDF("doc_id", "pdf"), "doc_id", "pdf")
        .select(col("id").as("doc_id"), col("n_pages"), col("text"))
    }),

    // PDF 1.5 layout through the same extractor: cross-reference
    // STREAM (PNG-Up-predicted /W rows), /Type/ObjStm object streams
    // holding the catalog/pages/font/page dicts (type-2 entries) —
    // what modern PDF writers actually emit. Same oracle shape as
    // q278: a predictor, xref-width, ObjStm-offset or type-2 bug
    // breaks the hash.
    "q280_pdf15_extract" -> ((s, d) => {
      import graft.llm.PdfText
      val sess = s
      import sess.implicits._
      val rows = documents(s, d).filter(col("doc_id") < 50)
        .select(col("doc_id"), col("text")).collect()
        .sortBy(_.getLong(0))
        .map { r =>
          val id = r.getLong(0)
          (id, PdfText.fixture15(Seq(
            Seq(s"doc $id", r.getString(1), "café — fin"),
            Seq(s"page two of doc $id"))))
        }.toSeq
      PdfText.extract(rows.toDF("doc_id", "pdf"), "doc_id", "pdf")
        .select(col("id").as("doc_id"), col("n_pages"), col("text"))
    }),

    // Composite (Type0/CID) fonts — the layout Word/LaTeX-Unicode/
    // CJK writers actually emit: /Identity-H 2-byte codes through a
    // Flate-compressed /ToUnicode CMap (ASCII via ONE bfrange,
    // non-ASCII via bfchar blocks — both operator forms exercised by
    // construction). The oracle reconstructs every page symbolically
    // with the CJK/symbol line via chr(), so a code-width, CMap
    // bfchar/bfrange, or UTF-16BE bug breaks the hash.
    "q281_pdf_type0" -> ((s, d) => {
      import graft.llm.PdfText
      val sess = s
      import sess.implicits._
      val rows = documents(s, d).filter(col("doc_id") < 50)
        .select(col("doc_id"), col("text")).collect()
        .sortBy(_.getLong(0))
        .map { r =>
          val id = r.getLong(0)
          (id, PdfText.fixtureType0(Seq(
            Seq(s"doc $id", r.getString(1), "汉字 — ☃ fin"),
            Seq(s"page two of doc $id"))))
        }.toSeq
      PdfText.extract(rows.toDF("doc_id", "pdf"), "doc_id", "pdf")
        .select(col("id").as("doc_id"), col("n_pages"), col("text"))
    }),

    // The PDF filter matrix through ONE extractor: LZWDecode (the
    // TIFF early-change convention), ASCIIHexDecode, ASCII85Decode,
    // RunLengthDecode, and the [A85, Flate] CHAIN — each content
    // stream encoded by the fixture-side encoder, decoded back by
    // the chain walker. Identical expected text to q278: the filter
    // must be invisible to extraction; the filter_used column pins
    // which variant each row exercised.
    "q282_pdf_filters" -> ((s, d) => {
      import graft.llm.PdfText
      val sess = s
      import sess.implicits._
      val variants = Seq(
        Seq("LZWDecode"), Seq("ASCIIHexDecode"), Seq("ASCII85Decode"),
        Seq("RunLengthDecode"), Seq("ASCII85Decode", "FlateDecode"))
      val rows = documents(s, d).filter(col("doc_id") < 50)
        .select(col("doc_id"), col("text")).collect()
        .sortBy(_.getLong(0))
        .map { r =>
          val id = r.getLong(0)
          val fs = variants((id % 5).toInt)
          (id, PdfText.fixtureFiltered(Seq(
            Seq(s"doc $id", r.getString(1), "café — fin"),
            Seq(s"page two of doc $id")), fs))
        }.toSeq
      val names = typedLit(variants.map(_.mkString("+")))
      PdfText.extract(rows.toDF("doc_id", "pdf"), "doc_id", "pdf")
        .select(col("id").as("doc_id"),
          element_at(names, (col("id") % 5 + 1).cast("int"))
            .as("filter_used"),
          col("n_pages"), col("text"))
    }),

    // Form XObjects: page content draws the body then invokes a
    // /Subtype/Form XObject (the letterhead/stamp layout) whose text
    // previously would have been LOST silently — `Do` now executes
    // the Form recursively at its invocation point with the Form's
    // own resources. Oracle replays body + stamp symbolically.
    "q286_pdf_form_xobject" -> ((s, d) => {
      import graft.llm.PdfText
      val sess = s
      import sess.implicits._
      val rows = documents(s, d).filter(col("doc_id") < 50)
        .select(col("doc_id"), col("text")).collect()
        .sortBy(_.getLong(0))
        .map { r =>
          val id = r.getLong(0)
          (id, PdfText.fixtureWithForm(
            Seq(s"doc $id", r.getString(1)),
            Seq(s"stamp for doc $id — café")))
        }.toSeq
      PdfText.extract(rows.toDF("doc_id", "pdf"), "doc_id", "pdf")
        .select(col("id").as("doc_id"), col("n_pages"), col("text"))
    }),

    // PDF /Info document metadata — what curation pipelines filter
    // and dedup on before touching page text. Titles go out as
    // UTF-16BE-BOM hex strings (the §7.9.2.2 shape real writers
    // emit for non-ASCII), authors as escaped literals; the oracle
    // replays both, CJK/accents via chr().
    "q289_pdf_info" -> ((s, d) => {
      import graft.llm.PdfText
      val sess = s
      import sess.implicits._
      val rows = documents(s, d).filter(col("doc_id") < 50)
        .select(col("doc_id"), col("text")).collect()
        .sortBy(_.getLong(0))
        .map { r =>
          val id = r.getLong(0)
          (id, PdfText.fixtureWithInfo(
            Seq(Seq(s"doc $id", r.getString(1))),
            Seq("Title" -> s"Résumé $id — 完了",
                "Author" -> s"author ($id)",
                "Producer" -> "graft")))
        }.toSeq
      PdfText.extractInfo(rows.toDF("doc_id", "pdf"), "doc_id", "pdf")
        .select(col("id").as("doc_id"), col("title"), col("author"),
          col("subject"), col("producer"))
    }),

    // MacRomanEncoding simple fonts — the pre-2005 Mac-authored PDF
    // default (Appendix D's third table). The title line exercises
    // the high half where MacRoman DIVERGES from WinAnsi (é at 0x8E
    // not 0xE9, em-dash at 0xD1, the fi ligature, ÷, ƒ, and ¤ at
    // 0xDB — the slot Mac OS Roman later gave to €): a WinAnsi
    // table applied to these bytes produces different characters
    // and breaks the hash.
    "q295_pdf_macroman" -> ((s, d) => {
      import graft.llm.PdfText
      val sess = s
      import sess.implicits._
      val rows = documents(s, d).filter(col("doc_id") < 50)
        .select(col("doc_id"), col("text")).collect()
        .sortBy(_.getLong(0))
        .map { r =>
          val id = r.getLong(0)
          (id, PdfText.fixture(
            Seq(Seq(s"Résumé — ﬁn ÷ ƒ ¤ doc $id", r.getString(1))),
            encoding = "MacRomanEncoding"))
        }.toSeq
      PdfText.extract(rows.toDF("doc_id", "pdf"), "doc_id", "pdf")
        .select(col("id").as("doc_id"), col("n_pages"), col("text"))
    }),

    // Crawl-delay surfacing: the de-facto scheduler directive,
    // group-scoped with the SAME named-beats-* selection as the
    // rules — a named group without a delay yields null, never a
    // fall-through; junk/negative/parked-forever values null. The
    // oracle replays the per-host branch formulas.
    "q287_crawl_delay" -> ((s, d) => {
      import graft.llm.RobotsTxt
      val sess = s
      import sess.implicits._
      val robots = (0 until 12).map { i =>
        val content = (i % 4) match {
          case 0 => s"User-agent: graftbot\nCrawl-delay: $i.5\n" +
            "Disallow: /x\n\nUser-agent: *\nCrawl-delay: 99\n"
          case 1 => s"User-agent: *\nCrawl-delay: $i\nDisallow: /\n"
          case 2 => "User-agent: graftbot\nDisallow: /a\n\n" +
            "User-agent: *\nCrawl-delay: 42\n"
          case _ => "User-agent: *\nCrawl-delay: soon\n"
        }
        (s"h$i.com", content)
      }.toDF("host", "content")
      RobotsTxt.crawlDelayFrame(robots, "host", "content", "graftbot")
    }),

    // DOCX footnotes/endnotes: real notes surface (paragraphs joined
    // within a note, notes joined with a blank line), Word's
    // separator/continuationSeparator pseudo-notes excluded. The
    // oracle replays both notes symbolically.
    "q288_docx_footnotes" -> ((s, d) => {
      import graft.llm.DocxText
      val sess = s
      import sess.implicits._
      val rows = documents(s, d).filter(col("doc_id") < 50)
        .select(col("doc_id"), col("text")).collect()
        .sortBy(_.getLong(0))
        .map { r =>
          val id = r.getLong(0)
          (id, DocxText.fixture(Seq(s"doc $id", r.getString(1)),
            footnotes = Seq(s"note one for doc $id",
              "second note — café ☃")))
        }.toSeq
      rows.toDF("doc_id", "docx").as[(Long, Array[Byte])]
        .map { case (id, b) =>
          val ns = DocxText.notes(b)
          (id, ns.length, ns.mkString("\n\n"))
        }
        .toDF("doc_id", "n_notes", "notes_text")
    }),

    // DOCX text extraction, gated sample-exact: fixture packages
    // built from REAL document text (three paragraphs, each split
    // into two runs the reader must rejoin, a CJK/symbol paragraph,
    // preserved whitespace), walked back through the JDK zip + DOM
    // path. The oracle reconstructs every paragraph symbolically —
    // chr() for the non-ASCII — so a zip-walk, run-joining or
    // escaping bug breaks the hash.
    "q283_docx_extract" -> ((s, d) => {
      import graft.llm.DocxText
      val sess = s
      import sess.implicits._
      val rows = documents(s, d).filter(col("doc_id") < 50)
        .select(col("doc_id"), col("text")).collect()
        .sortBy(_.getLong(0))
        .map { r =>
          val id = r.getLong(0)
          (id, DocxText.fixture(Seq(
            s"doc $id", r.getString(1), "汉字 — café ☃ fin")))
        }.toSeq
      DocxText.extract(rows.toDF("doc_id", "docx"), "doc_id", "docx")
        .select(col("id").as("doc_id"), col("n_paragraphs"), col("text"))
    }),

    // PPTX slide-deck extraction: fixture decks built from REAL
    // document text (two slides — title+body then a CJK/symbol
    // slide — each paragraph split into two a:r runs the reader
    // must rejoin), walked back through the one-pass zip + DOM
    // path. Slides are numbered and stored in REVERSE zip order;
    // part-number ordering is spec-gated with 12-slide decks. The
    // oracle reconstructs every slide symbolically.
    "q292_pptx_extract" -> ((s, d) => {
      import graft.llm.PptxText
      val sess = s
      import sess.implicits._
      val rows = documents(s, d).filter(col("doc_id") < 50)
        .select(col("doc_id"), col("text")).collect()
        .sortBy(_.getLong(0))
        .map { r =>
          val id = r.getLong(0)
          (id, PptxText.fixture(Seq(
            Seq(s"deck $id", r.getString(1)),
            Seq("汉字 — café ☃ fin"))))
        }.toSeq
      PptxText.extract(rows.toDF("doc_id", "pptx"), "doc_id", "pptx")
        .select(col("id").as("doc_id"), col("n_slides"), col("text"))
    }),

    // EPUB book extraction: container.xml → nested OPF → spine
    // reading order (chapters stored in REVERSE zip order; a spine
    // cover image and a linear="no" notes item must skip), each
    // XHTML chapter through the HtmlText pipeline. The oracle
    // replays both chapters with the whitespace-collapse convention.
    "q294_epub_extract" -> ((s, d) => {
      import graft.llm.EpubText
      val sess = s
      import sess.implicits._
      val rows = documents(s, d).filter(col("doc_id") < 50)
        .select(col("doc_id"), col("text")).collect()
        .sortBy(_.getLong(0))
        .map { r =>
          val id = r.getLong(0)
          (id, EpubText.fixture(Seq(
            Seq(s"book $id", r.getString(1)),
            Seq("fin — café ☃"))))
        }.toSeq
      EpubText.extract(rows.toDF("doc_id", "epub"), "doc_id", "epub")
        .select(col("id").as("doc_id"), col("n_chapters"), col("text"))
    }),

    // The intake's content-type dispatch, FOUR ways: one WARC
    // archive carrying text/html, application/pdf, and BOTH OOXML
    // document types (wordprocessing + presentation); one record
    // walk, dispatch inside it. Oracle replays all four branches.
    "q293_crawl_branch4" -> ((s, d) => {
      import graft.sources.Warc
      import graft.llm.{DocxText, HtmlText, PdfText, PptxText}
      val sess = s
      import sess.implicits._
      val DocxType = "application/vnd.openxmlformats-officedocument" +
        ".wordprocessingml.document"
      val PptxType = "application/vnd.openxmlformats-officedocument" +
        ".presentationml.presentation"
      val pages = documents(s, d).filter(col("doc_id") < 80)
        .select(col("doc_id"), col("text")).collect()
        .sortBy(_.getLong(0))
        .map { r =>
          val id = r.getLong(0)
          (id % 4) match {
            case 0 =>
              Warc.RawPage(s"http://example.com/doc$id.pdf",
                PdfText.fixture(Seq(Seq(s"doc $id", r.getString(1)))),
                contentType = "application/pdf")
            case 1 =>
              val enc = r.getString(1).replace("&", "&amp;")
                .replace("<", "&lt;").replace(">", "&gt;")
              Warc.RawPage(s"http://example.com/doc$id.html",
                s"<html><body><p>$enc</p></body></html>"
                  .getBytes(java.nio.charset.StandardCharsets.UTF_8),
                contentType = "text/html; charset=utf-8")
            case 2 =>
              Warc.RawPage(s"http://example.com/doc$id.docx",
                DocxText.fixture(Seq(s"doc $id", r.getString(1))),
                contentType = DocxType)
            case _ =>
              Warc.RawPage(s"http://example.com/doc$id.pptx",
                PptxText.fixture(Seq(Seq(s"doc $id", r.getString(1)))),
                contentType = PptxType)
          }
        }.toSeq
      val warc = Warc.fixtureRaw(pages, gzipPerRecord = true)
      Seq(("mixed4.warc.gz", warc)).toDS()
        .flatMap { case (n, b) =>
          Warc.responses(n, new java.io.ByteArrayInputStream(b)).map { r =>
            val (kind, text) =
              if (r.contentType.startsWith("text/html"))
                ("html", HtmlText.extractText(r.body))
              else if (r.contentType == DocxType)
                ("docx", DocxText.extractText(r.bodyBytes))
              else if (r.contentType == PptxType)
                ("pptx", PptxText.extractText(r.bodyBytes))
              else ("pdf", PdfText.extractText(r.bodyBytes))
            (r.targetUri, kind, text)
          }
        }
        .toDF("uri", "kind", "text")
        .select(regexp_extract(col("uri"), "/doc(\\d+)\\.", 1)
          .cast("long").as("doc_id"), col("kind"), col("text"))
    }),

    // Crawl content-type branch, THREE ways: one WARC archive
    // carrying text/html, application/pdf AND the OOXML wordprocessing
    // type (per-record gzip members); html rides the charset ladder
    // into HtmlText, pdf bytes into PdfText, docx bytes into DocxText —
    // the full dispatch a real intake runs. Oracle replays all three
    // branches from the documents table.
    "q284_crawl_docx_branch" -> ((s, d) => {
      import graft.sources.Warc
      import graft.llm.{DocxText, HtmlText, PdfText}
      val sess = s
      import sess.implicits._
      val DocxType = "application/vnd.openxmlformats-officedocument" +
        ".wordprocessingml.document"
      val pages = documents(s, d).filter(col("doc_id") < 60)
        .select(col("doc_id"), col("text")).collect()
        .sortBy(_.getLong(0))
        .map { r =>
          val id = r.getLong(0)
          (id % 3) match {
            case 0 =>
              Warc.RawPage(s"http://example.com/doc$id.pdf",
                PdfText.fixture(Seq(Seq(s"doc $id", r.getString(1)))),
                contentType = "application/pdf")
            case 1 =>
              val enc = r.getString(1).replace("&", "&amp;")
                .replace("<", "&lt;").replace(">", "&gt;")
              Warc.RawPage(s"http://example.com/doc$id.html",
                s"<html><body><p>$enc</p></body></html>"
                  .getBytes(java.nio.charset.StandardCharsets.UTF_8),
                contentType = "text/html; charset=utf-8")
            case _ =>
              Warc.RawPage(s"http://example.com/doc$id.docx",
                DocxText.fixture(Seq(s"doc $id", r.getString(1))),
                contentType = DocxType)
          }
        }.toSeq
      val warc = Warc.fixtureRaw(pages, gzipPerRecord = true)
      // ONE record walk with the dispatch INSIDE it (the extractBatch
      // shape): three filtered DataFrame branches would gunzip and
      // header-walk the whole archive three times per execution
      Seq(("mixed3.warc.gz", warc)).toDS()
        .flatMap { case (n, b) =>
          Warc.responses(n, new java.io.ByteArrayInputStream(b)).map { r =>
            val (kind, text) =
              if (r.contentType.startsWith("text/html"))
                ("html", HtmlText.extractText(r.body))
              else if (r.contentType == DocxType)
                ("docx", DocxText.extractText(r.bodyBytes))
              else ("pdf", PdfText.extractText(r.bodyBytes))
            (r.targetUri, kind, text)
          }
        }
        .toDF("uri", "kind", "text")
        .select(regexp_extract(col("uri"), "/doc(\\d+)\\.", 1)
          .cast("long").as("doc_id"), col("kind"), col("text"))
    }),

    // Crawl content-type branch: one WARC archive carrying BOTH
    // text/html and application/pdf responses (per-record gzip
    // members); html bodies ride the charset ladder into HtmlText,
    // pdf bodies stay raw bytes into PdfText — the dispatch a real
    // intake runs. Oracle replays both branches from the documents
    // table.
    "q279_crawl_pdf_branch" -> ((s, d) => {
      import graft.sources.Warc
      import graft.llm.{HtmlText, PdfText}
      val sess = s
      import sess.implicits._
      val pages = documents(s, d).filter(col("doc_id") < 40)
        .select(col("doc_id"), col("text")).collect()
        .sortBy(_.getLong(0))
        .map { r =>
          val id = r.getLong(0)
          if (id % 2 == 0)
            Warc.RawPage(s"http://example.com/doc$id.pdf",
              PdfText.fixture(Seq(Seq(s"doc $id", r.getString(1)))),
              contentType = "application/pdf")
          else {
            val enc = r.getString(1).replace("&", "&amp;")
              .replace("<", "&lt;").replace(">", "&gt;")
            Warc.RawPage(s"http://example.com/doc$id.html",
              s"<html><body><p>$enc</p></body></html>"
                .getBytes(java.nio.charset.StandardCharsets.UTF_8),
              contentType = "text/html; charset=utf-8")
          }
        }.toSeq
      val warc = Warc.fixtureRaw(pages, gzipPerRecord = true)
      val parsed = Seq(("mixed.warc.gz", warc)).toDS()
        .flatMap { case (n, b) =>
          Warc.responses(n, new java.io.ByteArrayInputStream(b)) }.toDF()
        .select(regexp_extract(col("targetUri"), "/doc(\\d+)\\.", 1)
          .cast("long").as("doc_id"),
          col("contentType"), col("body"), col("bodyBytes"))
      val htmlSide = HtmlText.extract(
          parsed.filter(col("contentType").startsWith("text/html"))
            .select(col("doc_id"), col("body")), "doc_id", "body")
        .select(col("id").as("doc_id"), lit("html").as("kind"),
          col("text"))
      val pdfSide = PdfText.extract(
          parsed.filter(col("contentType") === "application/pdf")
            .select(col("doc_id"), col("bodyBytes")), "doc_id", "bodyBytes")
        .select(col("id").as("doc_id"), lit("pdf").as("kind"), col("text"))
      htmlSide.unionByName(pdfSide)
    }),

    // Syndication feeds as sitemaps (sitemaps.org's third format
    // family): RSS 2.0 <item><link> and Atom <entry><link href>
    // both parse to url entries — rel="self" plumbing links skip
    // (absent rel defaults to alternate per RFC 4287), linkless
    // items drop, pubDate/updated surface verbatim as lastmod.
    // Even ids ship RSS, odd ids Atom; the oracle replays every
    // entry symbolically.
    "q291_feed_sitemap" -> ((s, d) => {
      import graft.sources.Sitemap
      val sess = s
      import sess.implicits._
      val docs = (0 until 30).map { i =>
        val urls = (0 until 5).map { j =>
          (s"http://h$i.com/post/${i * 10 + j}",
           if (j % 2 == 0) Some(f"2026-03-${j + 1}%02d") else None)
        }
        (i.toLong,
         if (i % 2 == 0) Sitemap.rssFixture(urls)
         else Sitemap.atomFixture(urls))
      }
      Sitemap.entries(docs.toDF("id", "xml"), "id", "xml")
    }),

    // Crawl-frontier composition: robots Sitemap: directives seed a
    // sitemapindex walk (child urlsets, a self-referencing cycle cut
    // by the visited set, an unfetched child dropped, a GZIPPED
    // child — sitemaps.org's .xml.gz form — gunzipped by magic),
    // terminal URL entries canonicalize (utm/click-id strip, param
    // sort, www./:80 strip), relative <loc> junk drops, and the rest
    // dedup with the min-(url,source) keeper, every kept URL
    // carrying the RFC 9309 decision for the agent. The oracle
    // reconstructs the whole frontier from the id formulas.
    "q277_crawl_frontier" -> ((s, d) => {
      import graft.sources.{Frontier, Sitemap}
      val sess = s
      import sess.implicits._
      val aRobots = "User-agent: *\nDisallow: /sec3\nCrawl-delay: 1.5\n" +
        "Sitemap: http://a.com/smi.xml\n"
      val bRobots = "User-agent: graftbot\nDisallow: /sec1\n" +
        "Crawl-delay: 0.5\n\n" +
        "User-agent: *\nDisallow: /\nCrawl-delay: 99\n" +
        "Sitemap: http://b.com/sm0.xml\n"
      val robots = Seq(("a.com", aRobots), ("b.com", bRobots))
        .toDF("rhost", "content")
      def urlset(ids: Range, host: String) = Sitemap.fixture(
        ids.map { id =>
          (s"http://$host/sec${id % 7}/doc$id?b=2&a=1&utm_x=1",
           if (id % 4 != 1) Some(f"2026-02-${id % 28 + 1}%02d") else None,
           None,
           if (id % 5 != 0) Some((id % 10) / 10.0) else None)
        })
      def bareset(ids: Range, host: String) = Sitemap.fixture(
        ids.map { id =>
          (s"http://$host/sec${id % 7}/doc$id",
           if (id % 4 != 1) Some(f"2026-02-${id % 28 + 1}%02d") else None,
           None,
           if (id % 5 != 0) Some((id % 10) / 10.0) else None)
        })
      val smi = Sitemap.fixture(Seq(
        ("http://a.com/sm1.xml", None, None, None),
        ("http://a.com/sm2.xml", None, None, None),
        ("http://a.com/sm3.xml.gz", None, None, None), // gzipped child
        ("http://a.com/feed.xml", None, None, None), // RSS child
        ("http://a.com/smi.xml", None, None, None), // cycle: must be cut
        ("http://a.com/missing.xml", None, None, None)), // never fetched
        index = true)
      // sitemaps.org permits syndication feeds as sitemap formats:
      // this child is RSS 2.0 — <item><link> locations, <pubDate>
      // as lastmod, no priority, plus a linkless item the parser
      // must drop
      val feed = Sitemap.rssFixture(
        (140 until 160).map { id =>
          (s"http://a.com/sec${id % 7}/doc$id",
           if (id % 4 != 1) Some(f"2026-02-${id % 28 + 1}%02d") else None)
        })
      // sm2 carries pages 40-79, re-lists pages 0-9 under noisy
      // spellings (www. prefix, :80 port, a utm param AND a click
      // id — the canonical dedup must fold those onto sm1's rows),
      // and lists one RELATIVE loc the walk must drop
      val sm2 = Sitemap.fixture(
        (40 until 80).map { id =>
          (s"http://a.com/sec${id % 7}/doc$id?b=2&a=1&utm_x=1",
           if (id % 4 != 1) Some(f"2026-02-${id % 28 + 1}%02d") else None,
           Option.empty[String],
           if (id % 5 != 0) Some((id % 10) / 10.0) else None)
        } ++ (0 until 10).map { id =>
          (s"http://www.a.com:80/sec${id % 7}/doc$id" +
            s"?a=1&b=2&utm_y=2&fbclid=IwAR99",
           Option.empty[String], Option.empty[String], Option.empty[Double])
        } ++ Seq(("/relative/doc999", // no scheme://authority: dropped
          Option.empty[String], Option.empty[String], Option.empty[Double])))
      // the gzipped child ships as raw .gz bytes; the string column
      // carries them ISO-8859-1-decoded (byte-transparent)
      val sm3 = new String(
        Sitemap.gzipped(bareset(120 until 140, "a.com")),
        java.nio.charset.StandardCharsets.ISO_8859_1)
      val fetched = Seq(
        ("http://a.com/smi.xml", smi),
        ("http://a.com/sm1.xml", urlset(0 until 40, "a.com")),
        ("http://a.com/sm2.xml", sm2),
        ("http://a.com/sm3.xml.gz", sm3),
        ("http://a.com/feed.xml", feed),
        ("http://b.com/sm0.xml", bareset(80 until 120, "b.com")))
        .toDF("url", "xml")
      Frontier.build(robots, "rhost", "content",
          fetched, "url", "xml", "graftbot")
        .select(col("host"), col("url"), col("canonical_url"),
          col("source_sitemap"), col("lastmod"), col("priority"),
          col("allowed"), col("crawl_delay"))
    }),

    // The crawl pipeline END-TO-END in one plan: documents → WARC
    // archive (per-record gzip members) → record parse with the
    // charset ladder → boilerplate-stripped extraction → RFC 9309
    // robots decision on the synthesized host/path — the composition
    // a user of this library actually runs, gated as one row. Every
    // stage reuses the individually-proven kernels (q267/q268/q272),
    // and the oracle recomputes the whole chain symbolically.
    "q276_crawl_pipeline" -> ((s, d) => {
      import graft.sources.Warc
      import graft.llm.{HtmlText, RobotsTxt}
      val sess = s
      import sess.implicits._
      val hosts = Seq("a.com", "b.com", "c.com")
      val pages = documents(s, d).filter(col("doc_id") < 120)
        .select(col("doc_id"), col("text")).collect()
        .sortBy(_.getLong(0))
        .map { r =>
          val id = r.getLong(0)
          val enc = r.getString(1).replace("&", "&amp;")
            .replace("<", "&lt;").replace(">", "&gt;")
          (s"http://${hosts((id % 3).toInt)}/sec${id % 7}/doc$id",
           s"<html><head><title>doc $id</title><script>var x=1;" +
             s"</script></head><body><p>$enc</p><div>" +
             "<a href=\"/x\">more link text here</a></div>" +
             "<!-- footer --></body></html>")
        }.toSeq
      val warc = Warc.fixture(pages, gzipPerRecord = true)
      val parsed = Seq(("crawl.warc.gz", warc)).toDS()
        .flatMap { case (n, b) => Warc.parseFile(n, b) }.toDF()
        .filter(col("httpStatus") === 200)
        .select(
          regexp_extract(col("targetUri"), "/doc(\\d+)$", 1)
            .cast("long").as("doc_id"),
          regexp_extract(col("targetUri"), "^http://([^/]+)", 1).as("host"),
          regexp_extract(col("targetUri"), "^http://[^/]+(/.*)$", 1)
            .as("path"),
          col("body"))
      val extracted = HtmlText.extract(parsed, "doc_id", "body")
        .select(col("id").as("doc_id"), col("text"), col("link_density"))
        .join(parsed.select(col("doc_id"), col("host"), col("path")),
          Seq("doc_id"))
      val robots = Seq(
        ("a.com", "User-agent: *\nDisallow: /sec1\nAllow: /sec1/doc4*\n"),
        ("b.com", "User-agent: graftbot\nDisallow: /sec5\n" +
          "User-agent: *\nDisallow: /\n")).toDF("rhost", "content")
      RobotsTxt.withAllowed(extracted, "host", "path", robots,
          "rhost", "content", "graftbot")
        .select(col("doc_id"), col("host"), col("allowed"),
          length(col("text")).as("n_chars"), col("link_density"))
    }),

    // Charset-resolution ladder over crawl bytes: BOMs (UTF-8/16LE/
    // 16BE), the HTTP charset param, the meta prescan, strict-UTF-8
    // content sniff, windows-1252 fallback — each branch staged with
    // bytes that DISTINGUISH it (0xE9 is invalid UTF-8 but é in
    // latin-1; 0x93/0x94 are cp1252 curly quotes). The oracle builds
    // the expected Unicode strings via chr() codepoints, so a ladder-
    // order or mapping bug changes the text hash.
    "q275_charset_decode" -> ((s, d) => {
      import graft.llm.Charsets
      val sess = s
      import sess.implicits._
      def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
      val rows = Seq(
        (1L, b(0xEF, 0xBB, 0xBF) ++ "doc1 ☃".getBytes("UTF-8"), ""),
        (2L, b(0xFF, 0xFE) ++ "doc2 wide".getBytes("UTF-16LE"), ""),
        (3L, "doc3 café".getBytes("ISO-8859-1"),
          "text/html; charset=ISO-8859-1"),
        (4L, "<meta charset='ISO-8859-1'>doc4 caf".getBytes("US-ASCII")
          ++ b(0xE9), "text/html"),
        (5L, "doc5 plain ☃".getBytes("UTF-8"), "text/html"),
        (6L, "doc6 ".getBytes("US-ASCII") ++ b(0x93) ++
          "q".getBytes("US-ASCII") ++ b(0x94), "text/html"))
      Charsets.decodeFrame(rows.toDF("doc_id", "body", "ctype"),
          "doc_id", "body", "ctype")
        .select(col("id").as("doc_id"), col("charset"), col("text"))
    }),

    // sitemaps.org frontier parse: five urlset documents built from
    // doc_id formulas (optional lastmod/changefreq/priority fields
    // masked per entry, XML-escaped locs), flatMapped back through
    // the XXE-hardened DOM parse. The oracle reconstructs every
    // field symbolically — a field-masking, escaping or locality bug
    // breaks the hash. SitemapSpec covers sitemapindex, hostile
    // DOCTYPE refusal and junk-priority nulling.
    "q273_sitemap_parse" -> ((s, d) => {
      import graft.sources.Sitemap
      val sess = s
      import sess.implicits._
      val freq = Seq("daily", "weekly", "monthly")
      val sites = (0 until 5).map { site =>
        val urls = (site * 40 until (site + 1) * 40).map { id =>
          (s"http://example.com/doc/$id?a=1&b=2",
           if (id % 4 != 1) Some(f"2026-01-${id % 28 + 1}%02d") else None,
           if (id % 3 != 2) Some(freq(id % 3)) else None,
           if (id % 5 != 0) Some((id % 10) / 10.0) else None)
        }
        (site.toLong, Sitemap.fixture(urls))
      }
      Sitemap.entries(sites.toDF("site_id", "xml"), "site_id", "xml")
        .select(col("id").as("site_id"), col("kind"), col("loc"),
                col("lastmod"), col("changefreq"), col("priority"))
    }),

    // robots.txt (RFC 9309) crawl-permission filter: named-agent
    // group selection over the * fallback, wildcard + $-anchored
    // rules, longest-match with the Allow tie-break, ruleless hosts
    // allowing everything — over URLs synthesized from doc_ids so
    // every branch is hit. The rule frame broadcasts; the oracle
    // hardcodes the same rules WITH their regex translations and
    // replays the decision as max(2*len + allow) parity.
    "q272_robots_filter" -> ((s, d) => {
      import graft.llm.RobotsTxt
      val aRobots = "User-agent: *\nDisallow: /sec1\n" +
        "Allow: /sec1/page1*\nDisallow: /sec2/*3$\n"
      val bRobots = "User-agent: graftbot\nDisallow: /sec5\n" +
        "User-agent: *\nDisallow: /\n"
      val sess = s
      import sess.implicits._
      val robots = Seq(("a.com", aRobots), ("b.com", bRobots))
        .toDF("rhost", "content")
      val urls = documents(s, d).filter(col("doc_id") < 400)
        .select(col("doc_id"),
          concat(lit(""), element_at(
            typedLit(Seq("a.com", "b.com", "c.com")),
            (col("doc_id") % 3 + 1).cast("int"))).as("host"),
          concat(lit("/sec"), col("doc_id") % 7, lit("/page"),
            col("doc_id") % 13).as("path"))
      RobotsTxt.withAllowed(urls, "host", "path", robots,
          "rhost", "content", "graftbot")
        .select(col("doc_id"), col("host"), col("path"), col("allowed"))
    }),

    // WARC (ISO 28500) parse — the Common Crawl container. A fixture
    // archive is built from REAL document text (entity-encoded into
    // HTML pages, one gzip member per record, warcinfo + request
    // records interleaved so the reader must skip them), then walked
    // back through the record parser with the HTTP envelope split
    // off. The oracle reconstructs every page byte-for-byte from the
    // documents table. The 60-row collect builds the FIXTURE, not
    // the result — WarcHtmlSpec covers the distributed binaryFile
    // scan path.
    "q267_warc_parse" -> ((s, d) => {
      import s.implicits._
      import graft.sources.Warc
      val pages = documents(s, d).filter(col("doc_id") < 60)
        .select(col("doc_id"), col("text")).collect()
        .sortBy(_.getLong(0))
        .map { r =>
          val id = r.getLong(0)
          val enc = r.getString(1).replace("&", "&amp;")
            .replace("<", "&lt;").replace(">", "&gt;")
          (s"http://example.com/doc/$id",
           s"<html><head><title>doc $id</title><script>var x=1;" +
             s"</script></head><body><p>$enc</p><div>" +
             "<a href=\"/x\">more link text here</a></div>" +
             "<!-- footer --></body></html>")
        }.toSeq
      val warc = Warc.fixture(pages, gzipPerRecord = true)
      Seq(("fixture.warc.gz", warc)).toDS()
        .flatMap { case (n, b) => Warc.parseFile(n, b) }.toDF()
        .select(col("targetUri").as("target_uri"),
                col("httpStatus").as("http_status"),
                col("contentType").as("content_type"), col("body"),
                col("payloadDigest").as("payload_digest"))
    }),

    // WARC revisit records + payload digests: odd ids crawl as
    // `WARC-Type: revisit` carrying the ORIGINAL (id-1 page's)
    // payload digest and an empty body — the Common Crawl dedup
    // shape, letting consumers skip re-hashing unchanged pages. The
    // oracle replays both record kinds AND the md5 digests from the
    // documents table (DuckDB md5 over the identical reconstructed
    // page bytes).
    "q285_warc_revisit" -> ((s, d) => {
      import s.implicits._
      import graft.sources.Warc
      def html(id: Long, text: String): Array[Byte] = {
        val enc = text.replace("&", "&amp;")
          .replace("<", "&lt;").replace(">", "&gt;")
        (s"<html><head><title>doc $id</title></head><body><p>$enc" +
          "</p></body></html>")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      }
      val docs = documents(s, d).filter(col("doc_id") < 40)
        .select(col("doc_id"), col("text")).collect()
        .sortBy(_.getLong(0))
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val pages = docs.keys.toSeq.sorted.map { id =>
        if (id % 2 == 0)
          Warc.RawPage(s"http://example.com/doc/$id", html(id, docs(id)),
            contentType = "text/html; charset=utf-8")
        else // unchanged since the even sibling: a revisit of ITS page
          Warc.RawPage(s"http://example.com/doc/$id",
            html(id - 1, docs(id - 1)),
            contentType = "text/html; charset=utf-8", revisit = true)
      }
      val warc = Warc.fixtureRaw(pages, gzipPerRecord = true)
      Seq(("revisit.warc.gz", warc)).toDS()
        .flatMap { case (n, b) => Warc.parseFile(n, b) }.toDF()
        .select(regexp_extract(col("targetUri"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          col("warcType").as("warc_type"),
          col("payloadDigest").as("payload_digest"),
          length(col("body")).as("n_body_chars"))
    }),

    // HTTP wire encodings inside the WARC walker: raw Heritrix/wget
    // archives keep the wire bytes, so the reader must de-chunk and
    // inflate Content-Encoding BEFORE the charset ladder — without
    // it a gzip-encoded page surfaces as mojibake "text" (the
    // silent-wrong path this closes; br refuses loudly, spec-gated).
    // id % 5 routes identity / gzip / deflate / chunked /
    // chunked+gzip; every body must round-trip byte-exact.
    "q290_warc_wire_decode" -> ((s, d) => {
      import s.implicits._
      import graft.sources.Warc
      val pages = documents(s, d).filter(col("doc_id") < 60)
        .select(col("doc_id"), col("text")).collect()
        .sortBy(_.getLong(0))
        .map { r =>
          val id = r.getLong(0)
          val bytes = r.getString(1)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val (ce, ch) = (id % 5) match {
            case 0 => ("", false)
            case 1 => ("gzip", false)
            case 2 => ("deflate", false)
            case 3 => ("", true)
            case _ => ("gzip", true)
          }
          Warc.RawPage(s"http://example.com/doc/$id", bytes,
            contentType = "text/plain; charset=utf-8",
            contentEncoding = ce, chunked = ch)
        }.toSeq
      val warc = Warc.fixtureRaw(pages, gzipPerRecord = true)
      Seq(("wire.warc.gz", warc)).toDS()
        .flatMap { case (n, b) => Warc.parseFile(n, b) }.toDF()
        .select(regexp_extract(col("targetUri"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"), col("body"))
        .withColumn("wire", element_at(
          array(lit("identity"), lit("gzip"), lit("deflate"),
            lit("chunked"), lit("chunked+gzip")),
          (col("doc_id") % 5 + 1).cast("int")))
        .select(col("doc_id"), col("wire"), col("body"))
    }),

    // Per-RECORD wire-decode failure domain: a body whose declared
    // coding cannot be undone (br — no JDK decoder) surfaces with
    // decodeFailure set, body null and the RAW bytes retained —
    // loud at record grain WITHOUT losing the rest of the archive
    // (the other half of the records must still extract). Oracle
    // replays both halves.
    "q296_warc_decode_failure" -> ((s, d) => {
      import s.implicits._
      import graft.sources.Warc
      val pages = documents(s, d).filter(col("doc_id") < 40)
        .select(col("doc_id"), col("text")).collect()
        .sortBy(_.getLong(0))
        .map { r =>
          val id = r.getLong(0)
          Warc.RawPage(s"http://example.com/doc/$id",
            r.getString(1)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8),
            contentType = "text/plain; charset=utf-8",
            contentEncoding = if (id % 2 == 1) "br" else "")
        }.toSeq
      val warc = Warc.fixtureRaw(pages, gzipPerRecord = true)
      Seq(("brmix.warc.gz", warc)).toDS()
        .flatMap { case (n, b) => Warc.parseFile(n, b) }.toDF()
        .select(regexp_extract(col("targetUri"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          (col("decodeFailure") =!= "").as("failed"),
          col("body"),
          length(col("bodyBytes")).as("n_raw_bytes"))
    }),

    // WARC → HTML → training text, composed end-to-end: parse the
    // q267 archive, strip boilerplate (script subtree, comment,
    // block tags), decode entities back to the ORIGINAL document
    // text, measure link density. The oracle replays the expected
    // extraction symbolically from the documents table — title word,
    // the round-tripped text, the anchor chrome, and the link-char
    // fraction.
    "q268_html_extract" -> ((s, d) => {
      import s.implicits._
      import graft.sources.Warc
      import graft.llm.HtmlText
      val pages = documents(s, d).filter(col("doc_id") < 60)
        .select(col("doc_id"), col("text")).collect()
        .sortBy(_.getLong(0))
        .map { r =>
          val id = r.getLong(0)
          val enc = r.getString(1).replace("&", "&amp;")
            .replace("<", "&lt;").replace(">", "&gt;")
          (s"http://example.com/doc/$id",
           s"<html><head><title>doc $id</title><script>var x=1;" +
             s"</script></head><body><p>$enc</p>" +
             "<p>caf&eacute; &mdash; fin&hellip;</p><div>" +
             "<a href=\"/x\">more link text here</a></div>" +
             "<!-- footer --></body></html>")
        }.toSeq
      val warc = Warc.fixture(pages, gzipPerRecord = true)
      val parsed = Seq(("fixture.warc.gz", warc)).toDS()
        .flatMap { case (n, b) => Warc.parseFile(n, b) }.toDF()
        .select(regexp_extract(col("targetUri"), "/doc/(\\d+)$", 1)
                  .cast("long").as("doc_id"),
                col("body"))
      HtmlText.extract(parsed, "doc_id", "body")
        .select(col("id").as("doc_id"), col("text").as("extracted"),
                col("link_density"))
    }),

    // DSIR (arXiv:2302.03169): importance-resample raw docs toward a
    // target profile — hashed unigram+bigram multinomials with
    // add-one smoothing, per-doc log-likelihood-ratio scores on the
    // exact-decimal grid, deterministic top-k through the bounded-
    // buffer aggregator (no global window sort). The oracle refits
    // the whole model from first principles in SQL: bucket hashing,
    // smoothing, score quantization and the (score DESC, id ASC)
    // selection order all must agree.
    "q265_dsir" -> ((s, d) => {
      val docs = documents(s, d)
      Dsir.selectTopK(
        docs.filter(col("doc_id") >= 40 && col("doc_id") < 340),
        docs.filter(col("doc_id") < 40),
        "doc_id", "text", buckets = 256, k = 50)
        .select(col("rank"), col("id").as("doc_id"), col("score"))
    }),

    // Byte-distribution Shannon entropy over a binary column — the
    // no-decoder corruption/noise signal for multimodal blobs (random
    // bytes -> ~ln 256, padded/truncated blobs far below). Byte tokens
    // via hex pairs; q85's count-based exact-decimal formulation.
    "q98_byte_entropy" -> ((s, d) => {
      Multimodal.byteEntropy(
        documents(s, d).filter(col("doc_id") < 300)
          .select(col("doc_id"), col("text").cast("binary").as("blob")),
        "doc_id", "blob")
    }),

    // Per-domain embedding-centroid outliers: exact decimal-quantized
    // domain means (the Lloyd arithmetic), broadcast back, narrow
    // cosine, bottom-10 per domain — the embedding-space mislabeled/
    // noise filter. Rank ties break on the 6-decimal score then id.
    "q96_domain_outliers" -> ((s, d) => {
      val emb = embeddings(s, d)
      val src = documents(s, d).select(col("doc_id"), col("source"))
      val joined = emb.join(src, emb("vec_id") === src("doc_id"))
        .select(col("vec_id"), col("source"), col("embedding"))
      Similarity.domainOutliers(joined, "vec_id", "embedding", "source",
                                k = 10)
    }),

    // Hybrid retrieval: reciprocal-rank fusion of the DENSE embedding
    // ranking (q30 kernel) and the SPARSE TF-IDF ranking (q110
    // kernel) over the shared 0..299 id space — ranks, not raw
    // scores, so the two systems need not be commensurable.
    "q116_rrf_fusion" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = embeddings(s, d).filter(col("vec_id") < 300)
      val dense = Similarity.cosineTopK(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 10)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("cos_sim").desc, col("cid").asc)))
        .select(col("qid"), col("cid"), col("rn"))
      // query-restricted retrieval mode: the pair join is |Q|-sided
      // (Σ_q df over the 10 query docs' tokens) instead of ranking the
      // full 300×300 similarity matrix and discarding 97% of it
      val sparse = TextStats.sparseCosineTopKFor(
          documents(s, d).filter(col("doc_id") < 300), "doc_id", "text",
          queryFilter = col("id") < 10, k = 10)
        .select(col("id_a").as("qid"), col("id_b").as("cid"), col("rn"))
      Similarity.rrfFuse(Seq(dense, sparse), k = 60, topN = 10)
    }),

    // Mixed-language detection: 20-token chunks through the verified
    // langid kernel, per-doc dominant language + fraction + flag.
    "q115_mixed_lang" -> ((s, d) => {
      TextStats.mixedLanguage(documents(s, d), "doc_id", "text",
                              chunkSize = 20)
    }),

    // Curriculum order: unigram-NLL difficulty (q83's verified score)
    // banded into quintiles by broadcast percentile cutpoints, then
    // easy-first per-shard training positions.
    "q114_curriculum" -> ((s, d) => {
      val nll = TextStats.unigramNll(documents(s, d), "doc_id", "text")
      Sampling.curriculumOrder(nll, "doc_id", "nll", nBuckets = 5,
                               nShards = 8)
        .withColumnRenamed("id", "doc_id")
    }),

    // Prefix-filtered EXACT Jaccard join (PPJoin): candidates only
    // from rare-token prefixes, yet provably lossless — the oracle is
    // the brute-force all-pairs SQL, so the hash gate proves the
    // filter dropped nothing.
    "q113_prefix_join" -> ((s, d) => {
      NearDup.prefixFilterJaccardPairs(
        documents(s, d).filter(col("doc_id") < 300), "doc_id", "text",
        threshold = 0.6)
        .select(col("id_a"), col("id_b"),
                round(col("jaccard"), 4).as("jaccard"))
    }),

    // Sparse TF-IDF cosine: lexical document similarity via the
    // inverted-index join (work = sum of df^2, the q27 kernel
    // economics), per-term products decimal-quantized. Top-3 partners
    // per document over docs < 300.
    "q110_sparse_cosine" -> ((s, d) => {
      TextStats.sparseCosineTopK(
        documents(s, d).filter(col("doc_id") < 300), "doc_id", "text",
        k = 3)
    }),

    // PageRank over the verified near-dup graph (q57's edge set): two
    // damped power iterations, contributions quantized to 1e-15 and
    // decimal-summed so the only order-sensitive reduction is exact.
    // The link-graph quality signal of web-crawl curation, on the
    // engine's own pair output; edges pinned once for the
    // degree pass + both iterations (the q70 pattern).
    "q105_pagerank" -> ((s, d) => {
      val pairs = NearDup.portableNearDupPairs(
        documents(s, d).filter(col("doc_id") < 1000), "doc_id", "text",
        threshold = 0.8).pin
      graft.operators.Graph.pageRank(pairs, "id_a", "id_b",
                                     iterations = 2, damping = 0.85)
    }),

    // Triplet mining for contrastive training: anchor -> nearest
    // neighbor (positive) + most-similar row under the 0.3 ceiling
    // (hard negative), both picked by conditional max(struct) in one
    // aggregation pass over the broadcast-scored corpus.
    "q102_triplets" -> ((s, d) => {
      val e = embeddings(s, d)
      Similarity.tripletMine(e, "vec_id", "embedding",
                             e.filter(col("vec_id") < 50), "vec_id",
                             "embedding", negCeiling = 0.3)
    }),

    // Temperature-scaled domain mixture (XLM-R/GPT-3 multinomial
    // curation): w_d = n_d^0.5 / Z, integer allocation floor(200·w_d),
    // filled in deterministic (lcg, id) priority order. The oracle
    // replays weights, integer division, ranks, and checksums exactly.
    "q101_temperature_mix" -> ((s, d) => {
      Sampling.temperatureMix(documents(s, d), "doc_id", "source",
                              alpha = 0.5, budget = 200L)
    }),

    // Per-dimension embedding moments (whitening table): count, exact
    // decimal mean, population variance (E[x²]−E[x]²), min/max — one
    // map-side-combined aggregation to 64 rows however large the
    // corpus. The drift/standardization companion to q71's means.
    "q100_dim_stats" -> ((s, d) => {
      Similarity.dimStats(embeddings(s, d), "embedding")
    }),

    // Bigram-LM NLL (CCNet-style LM quality filter, one order above
    // q83's unigram): mean -ln P(w_i | w_{i-1}) with add-0.5 smoothing
    // on the corpus's own bigram/unigram counts. One corpus exchange;
    // count tables broadcast; -ln P sums through DECIMAL(30,6).
    "q95_bigram_nll" -> ((s, d) => {
      TextStats.bigramNll(documents(s, d), "doc_id", "text", alpha = 0.5)
    }),

    // Winnowing fingerprints (Schleimer et al. 2003 / MOSS): hash
    // every 4-token gram, keep each 4-window's minimum hash, dedupe —
    // per-doc fingerprint count + order-independent XOR checksum. The
    // guarantee (shared runs >= w+k-1 tokens always share a
    // fingerprint at ~2/(w+1) density) is what lets cross-doc matching
    // move a fraction of the gram volume. All stages scan-local
    // per-row; the oracle regenerates hashes, windows, minima and the
    // XOR fold from the same token arrays.
    "q94_winnowing" -> ((s, d) => {
      documents(s, d)
        .select(col("doc_id"), TextStats.tokens(col("text")).as("__toks"))
        .select(col("doc_id"), TextStats.gramHashes(col("__toks"), 4).as("__hs"))
        .select(col("doc_id"), size(col("__hs")).as("n_grams"),
                TextStats.winnowFromHashes(col("__hs"), 4).as("__fp"))
        .select(col("doc_id"), col("n_grams"), size(col("__fp")).as("n_fp"),
                aggregate(col("__fp"), lit(0L),
                          (a, x) => a.bitwiseXOR(x)).as("fp_xor"))
    }),

    // Exact n-gram (trigram-shingle) Jaccard pairs — the q27 inverted-
    // index kernel over SHINGLE sets instead of token sets (the
    // mandate's "n-gram Jaccard" as a first-class query; the same
    // kernel LSH banding approximates at scale). One explode + one
    // gram-keyed equi-join; the id-window bounds the candidate space
    // exactly as q27.
    "q93_ngram_jaccard" -> ((s, d) => {
      val docs = documents(s, d).filter(col("doc_id") < 500)
        .select(col("doc_id"), TextStats.tokens(col("text")).as("__toks"))
        .select(col("doc_id"),
                array_distinct(TextStats.ngramsOfTokens(col("__toks"), 3))
                  .as("g"))
        // three consumers (both self-join sides + the size frame)
        // otherwise re-run the regex split + trigram build each
        .pin
      val e = docs.select(col("doc_id"), explode(col("g")).as("t"))
      val cnt = docs.select(col("doc_id"), size(col("g")).as("n"))
      val inter = e.as("a").join(e.as("b"),
          col("a.t") === col("b.t") && col("a.doc_id") < col("b.doc_id") &&
          col("b.doc_id") <= col("a.doc_id") + 25)
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("ni"))
      val j = col("ni").cast("double") /
        (col("ca.n") + col("cb.n") - col("ni")).cast("double")
      inter
        .join(cnt.as("ca"), col("id_a") === col("ca.doc_id"))
        .join(cnt.as("cb"), col("id_b") === col("cb.doc_id"))
        .filter(j >= 0.02)
        .select(col("id_a"), col("id_b"), round(j, 4).as("jaccard"))
    }),

    // REAL multimodal metadata: container format + pixel dimensions
    // parsed from raw image bytes (PNG IHDR / JPEG SOFn walk / GIF
    // screen descriptor) by the dependency-free ImageMeta expression —
    // a pure per-row header inspection, zero shuffle, no codec
    // library. Staged fixture bytes with known dimensions (the q22
    // VALUES-table pattern); every parser branch is covered, including
    // a truncated file and non-image bytes.
    "q88_image_meta" -> ((s, d) => {
      import s.implicits._
      val df = ImageFixtures.all.toDF("img_id", "bytes")
      df.select(col("img_id"),
          graft.plans.ImageMetaNative.imageMeta(s, col("bytes")).as("m"))
        .select(col("img_id"), col("m.format").as("format"),
                col("m.width").as("width"), col("m.height").as("height"))
    }),

    // Audio sibling of q88: WAV (RIFF chunk walk, incl. a skipped
    // odd-sized LIST chunk), FLAC (STREAMINFO packed bit fields),
    // MP3/AIFF/AU headers, and OGG (Vorbis/Opus identification
    // headers + final-page granule for total samples — page-header
    // walk, no packet decode; Opus granules are 48 kHz minus
    // pre-skip) — all from raw bytes by the dependency-free
    // AudioMeta expression; duration derives from frames/rate in
    // BOTH engines, proving the parsed numbers compose.
    "q92_audio_meta" -> ((s, d) => {
      import s.implicits._
      val df = AudioFixtures.all.toDF("audio_id", "bytes")
      df.select(col("audio_id"),
          graft.plans.AudioMetaNative.audioMeta(s, col("bytes")).as("m"))
        .select(col("audio_id"), col("m.format").as("format"),
                col("m.sample_rate").as("sample_rate"),
                col("m.channels").as("channels"),
                col("m.bits_per_sample").as("bits_per_sample"),
                col("m.n_frames").as("n_frames"))
        .withColumn("duration_ms",
          round(col("n_frames") * lit(1000.0) / col("sample_rate"), 0)
            .cast("long"))
    }),

    // Chunk-level corpus dedup (CCNet-style boilerplate pass): 10-token
    // spans recurring across >= 2 distinct docs are dropped; per-doc
    // audit + cleaned text rebuilt in offset order.
    "q117_chunk_dedup" -> ((s, d) => {
      graft.llm.SpanDedup.chunkDupStats(documents(s, d), "doc_id", "text",
                                        size = 10)
    }),

    // Hashing-trick vectorization: portable md5-bucket sparse
    // bag-of-words — engine-reproducible fixed feature space.
    "q120_feature_hash" -> ((s, d) => {
      graft.llm.FeatureHash.hashedBow(
        documents(s, d).filter(col("doc_id") < 50), "doc_id", "text",
        nBuckets = 64)
    }),

    // Leakage-free grouped split audit: users (not events) are split
    // 80/10/10 by the pure-LCG assignment; every event inherits its
    // user's split, and leak_free proves no user straddles splits.
    "q121_split_audit" -> ((s, d) => {
      Sampling.splitAudit(events(s, d), "user_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    }),

    // Collocation mining: top-20 adjacent word pairs by PMI with a
    // min-count floor of 5 (PMI's rare-pair pathology).
    "q122_pmi" -> ((s, d) =>
      TextStats.pmiCollocations(documents(s, d), "text", minCount = 5L,
                                k = 20)),

    // Asymmetric containment pairs (quote/subset detection): |A∩B|/|A|
    // over the q27 bounded-window kernel; either direction >= 0.9.
    "q123_containment" -> ((s, d) =>
      NearDup.containmentPairs(documents(s, d).filter(col("doc_id") < 500),
        "doc_id", "text", "lang", threshold = 0.9, windowAhead = 25)),

    // Quantization recall audit: int8-quantize (q48's verified
    // arithmetic), dequantize, re-rank, and measure top-10 overlap
    // against the full-precision ranking — the decision input for
    // shipping compressed vectors (32x smaller index vs recall loss),
    // quantified per query rather than assumed.
    "q141_quant_recall" -> ((s, d) => {
      val e = embeddings(s, d)
      val full = Similarity.cosineTopK(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 10)
        .select(col("qid"), col("cid"))
      val dq = e.withColumn("mx", Quantize.maxAbs(col("embedding")))
        .filter(col("mx") > 0)
        .withColumn("v",
          transform(Quantize.quantizeInt8(col("embedding"), col("mx")),
                    q => q.cast("double") * col("mx") / lit(127.0)))
        .select(col("vec_id"), col("v"))
      val quant = Similarity.cosineTopK(dq, "vec_id", "v",
          dq.filter(col("vec_id") < 10), "vec_id", "v", k = 10)
        .select(col("qid").as("__q"), col("cid").as("__c"))
      val overlap = full
        .join(quant, col("qid") === col("__q") && col("cid") === col("__c"))
        .groupBy(col("qid")).agg(count(lit(1)).as("n_overlap"))
      full.select(col("qid")).distinct()
        .join(overlap, Seq("qid"), "left")
        .select(col("qid"),
                coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
                round(coalesce(col("n_overlap"), lit(0L)).cast("double") /
                      lit(10.0), 4).as("recall_at_10"))
    }),

    // Per-node triangle participation over the kNN similarity graph
    // (top-3 lexical neighbors canonicalized to undirected edges) —
    // the clustering-coefficient numerator. The kNN graph bounds
    // degree ≤ 2k, so triangles can't combinatorially explode the way
    // they do on near-clique near-dup clusters (1.9M triangles on the
    // q57 edge set vs tens here).
    "q127_knn_triangles" -> ((s, d) => {
      val knn = TextStats.sparseCosineTopK(
        documents(s, d).filter(col("doc_id") < 300), "doc_id", "text", k = 3)
      val edges = knn.select(
          least(col("id_a"), col("id_b")).as("src"),
          greatest(col("id_a"), col("id_b")).as("dst"))
        .distinct().pin
      graft.operators.Graph.triangles(edges, "src", "dst")
        .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    }),

    // The SAME triangle statistic through the degree-oriented
    // enumeration (O(m^1.5) wedges, hub-proof) — hash-equal to q127
    // by construction, so the oracle doubles as the proof that the
    // power-law hardening preserves the output set exactly.
    "q142_triangles_oriented" -> ((s, d) => {
      val knn = TextStats.sparseCosineTopK(
        documents(s, d).filter(col("doc_id") < 300), "doc_id", "text", k = 3)
      val edges = knn.select(
          least(col("id_a"), col("id_b")).as("src"),
          greatest(col("id_a"), col("id_b")).as("dst"))
        .distinct().pin
      graft.operators.Graph.trianglesOriented(edges, "src", "dst")
        .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    })
  )

  private val cosSql =
    "list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))"

  // One Lloyd round as chained CTEs (assign under `cents`, then exact
  // decimal means and rebuilt centroid vectors): the q89 pattern,
  // factored so q90 can chain rounds and reassign under the final
  // centroids without hand-copying the blocks. Emits ca$n/a$n (the
  // assignment), and m$n/f$n (unrounded means, list-form centroids).
  private val cosCentSql =
    "list_dot_product(v, cent_v) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cent_v, cent_v)))"
  private def kmRoundSql(cents: String, n: Int): String =
    s"""ca$n AS (SELECT e.vec_id, e.v, cent_id,
       |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |    $cosCentSql DESC, cent_id) AS cr
       |  FROM e CROSS JOIN $cents),
       |a$n AS (SELECT vec_id, v, cent_id AS cell FROM ca$n WHERE cr = 1),
       |ex$n AS (SELECT cell, i AS dim,
       |  CAST(round(v[i + 1] * 1e6) AS BIGINT) AS xq
       |  FROM a$n CROSS JOIN range(64) t(i)),
       |m$n AS (SELECT cell, dim,
       |  CAST(SUM(xq) AS DOUBLE) / (1e6 * COUNT(*)) AS cv
       |  FROM ex$n GROUP BY cell, dim),
       |f$n AS (SELECT cell AS cent_id, list(cv ORDER BY dim) AS cent_v
       |  FROM m$n GROUP BY cell)""".stripMargin

  // Full portable MinHash-LSH pair SQL, shared by several oracles: q57
  // hash-checks the pairs themselves; q60 builds its component closure
  // over the same verified edge set; q68/q70 reuse it against the
  // benchmark sample. `extraWhere` narrows the input corpus (q70 runs
  // the pipeline on the quality-filtered subset).
  private def portablePairsSql(extraWhere: String,
                               maxBucket: Int = 300): String = {
    val P = "2147483647"
    val nBands = 8; val rowsPerBand = 4
    val minCols = (0 until nBands * rowsPerBand).map(j =>
      s"list_min(list_transform(hs, x -> (x*${2 * j + 1}+$j)%$P)) AS m$j")
      .mkString(", ")
    val bandSelects = (0 until nBands).map { b =>
      val fold = (1 until rowsPerBand)
        .foldLeft(s"m${b * rowsPerBand}")((acc, r) =>
          s"(($acc*8191+m${b * rowsPerBand + r})%$P)")
      s"SELECT doc_id, $b AS band, $fold AS band_hash FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH d AS (SELECT doc_id,
       |  list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS toks
       |  FROM documents WHERE doc_id < 1000$extraWhere),
       |h AS (SELECT doc_id, list_transform(toks, t ->
       |  CAST(CONCAT('0x', substr(md5(t), 1, 14)) AS BIGINT) % $P) AS hs FROM d),
       |sig AS (SELECT doc_id, $minCols FROM h),
       |bands AS ($bandSelects),
       |pruned AS (SELECT doc_id, band, band_hash FROM (
       |  SELECT *, COUNT(*) OVER (PARTITION BY band, band_hash) AS bn FROM bands)
       |  WHERE bn <= $maxBucket),
       |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM pruned x JOIN pruned y
       |  ON x.band = y.band AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id),
       |scored AS (SELECT id_a, id_b,
       |  CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
       |    (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jac
       |  FROM cand JOIN d a ON id_a = a.doc_id JOIN d b ON id_b = b.doc_id)
       |SELECT id_a, id_b, ROUND(jac, 4) AS jaccard FROM scored
       |WHERE jac >= 0.8""".stripMargin
  }

  private val q57Sql: String = portablePairsSql("")

  // The q110 sparse TF-IDF top-3 kernel, factored so q127 can build
  // its kNN graph from the same verified SQL.
  private val sparseTopkSql: String =
    s"""WITH tf AS (
       |  SELECT doc_id AS id, token, COUNT(*) AS tf
       |  FROM (SELECT doc_id, unnest($toks) AS token FROM documents
       |        WHERE doc_id < 300)
       |  GROUP BY doc_id, token),
       |dfreq AS (SELECT token, COUNT(*) AS doc_freq FROM tf GROUP BY token),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents WHERE doc_id < 300),
       |wt AS (SELECT id, tf.token AS token,
       |    ROUND(tf * ln(CAST(n_docs AS DOUBLE) / doc_freq), 6) AS w
       |  FROM tf JOIN dfreq USING (token) CROSS JOIN n),
       |nrm AS (SELECT id,
       |    sqrt(CAST(SUM(CAST(round(w * w * 1e9) AS BIGINT)) AS DOUBLE) / 1e9)
       |      AS nrm
       |  FROM wt GROUP BY id),
       |dots AS (SELECT a.id AS id_a, b.id AS id_b,
       |    CAST(SUM(CAST(round(a.w * b.w * 1e9) AS BIGINT)) AS DOUBLE) / 1e9
       |      AS dot
       |  FROM wt a JOIN wt b ON a.token = b.token AND a.id < b.id
       |  GROUP BY a.id, b.id),
       |scored AS (SELECT id_a, id_b, dot / (na.nrm * nb.nrm) AS cos
       |  FROM dots JOIN nrm na ON id_a = na.id JOIN nrm nb ON id_b = nb.id),
       |sym AS (SELECT id_a, id_b, cos FROM scored
       |        UNION ALL SELECT id_b, id_a, cos FROM scored),
       |ranked AS (SELECT *, row_number() OVER (
       |    PARTITION BY id_a ORDER BY cos DESC, id_b ASC) AS rn
       |  FROM sym)
       |SELECT id_a, id_b, ROUND(cos, 4) AS cos_sim, rn
       |FROM ranked WHERE rn <= 3""".stripMargin

  val oracles: Map[String, String] = Map(

    // SRP-LSH: signature bit b = sign of <v, h_b>, h_b[i] = +-1 from
    // bit 16 of lcg(b*64+i); bucket = 4-bit prefix; exact rerank
    // within bucket. Mirrors Similarity.annTopK(bits=4, dim=64).
    "q32_ann_topk" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |sig AS (SELECT vec_id, v,
         |  list_aggregate(list_transform(range(0, 4), b -> CAST(CASE WHEN
         |    list_sum(list_transform(range(0, 64), i ->
         |      CASE WHEN ((${lcgSql("b*64+i")})>>16)&1 = 0 THEN v[i+1] ELSE -v[i+1] END)) > 0
         |    THEN 1 ELSE 0 END AS VARCHAR)), 'string_agg', '') AS bucket
         |  FROM e),
         |q AS (SELECT vec_id AS qid, v AS qv, bucket FROM sig WHERE vec_id < 10),
         |c AS (SELECT vec_id AS cid, v AS cv, bucket FROM sig),
         |scored AS (SELECT qid, cid, $cosSql AS cos
         |  FROM q JOIN c USING (bucket) WHERE qid <> cid)
         |SELECT qid, cid, ROUND(cos, 4) AS cos_sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
         |  FROM scored)
         |WHERE rn <= 10""".stripMargin,

    // same LCG-derived buckets as q32; pairs bucket-locally, exact
    // cosine gate at 0.35.
    "q51_embed_neardup" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |sig AS (SELECT vec_id, v,
         |  list_aggregate(list_transform(range(0, 4), b -> CAST(CASE WHEN
         |    list_sum(list_transform(range(0, 64), i ->
         |      CASE WHEN ((${lcgSql("b*64+i")})>>16)&1 = 0 THEN v[i+1] ELSE -v[i+1] END)) > 0
         |    THEN 1 ELSE 0 END AS VARCHAR)), 'string_agg', '') AS bucket
         |  FROM e),
         |pairs AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b,
         |  list_dot_product(x.v, y.v)
         |    / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) AS cos
         |  FROM sig x JOIN sig y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
         |SELECT id_a, id_b, ROUND(cos, 4) AS cos_sim FROM pairs
         |WHERE cos >= 0.35""".stripMargin,

    "q57_minhash_portable" -> q57Sql,

    // q28's invariant row: the pair count is the portable pipeline's
    // (recomputed in full), the booleans are claims the Spark side
    // CHECKS and the oracle expects to hold (q36's envelope pattern —
    // a native-path regression flips one and reds the row).
    "q28_minhash_pairs" ->
      s"""WITH pairs AS (${portablePairsSql("", maxBucket = 100000)})
         |SELECT COUNT(*) AS n_portable_pairs,
         |  TRUE AS native_pairs_all_ge_threshold,
         |  TRUE AS native_recall_of_portable_ge_95pct,
         |  TRUE AS native_count_within_5pct_of_portable
         |FROM pairs""".stripMargin,

    // q29's invariant row: doc count recomputed exactly (the q58
    // nonempty-token predicate), booleans expected TRUE as in q28.
    "q29_simhash" ->
      s"""SELECT COUNT(*) AS n_docs,
         |  TRUE AS native_matches_hof_reference,
         |  TRUE AS neardup_max_hamming_le_26,
         |  TRUE AS neardup_mean_hamming_le_13,
         |  TRUE AS mean_bitcount_in_22_34
         |FROM documents
         |WHERE doc_id < 500
         |  AND len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) > 0""".stripMargin,

    // Recursive reachability closure over the q57 edge set: walk(node,
    // reach) grows one hop per iteration with UNION dedup until the
    // fixpoint, then label = MIN(reach) — the same minimum-id-per-
    // component contract as Components.connectedComponents.
    "q60_dedup_groups" ->
      s"""WITH RECURSIVE edges AS ($q57Sql),
         |sym AS (SELECT id_a AS node, id_b AS nbr FROM edges
         |        UNION ALL SELECT id_b, id_a FROM edges),
         |walk AS (
         |  SELECT node, node AS reach FROM (SELECT DISTINCT node FROM sym)
         |  UNION
         |  SELECT w.node, s.nbr AS reach FROM walk w JOIN sym s ON s.node = w.reach),
         |lab AS (SELECT node, MIN(reach) AS label FROM walk GROUP BY node)
         |SELECT label AS group_rep, COUNT(*) AS n_docs,
         |  CAST(SUM(node) AS BIGINT) AS id_checksum, MAX(node) AS max_id
         |FROM lab GROUP BY label""".stripMargin,

    // same component closure, survivor = argmax (n_tokens, node asc)
    "q84_dedup_survivors" ->
      s"""WITH RECURSIVE edges AS ($q57Sql),
         |sym AS (SELECT id_a AS node, id_b AS nbr FROM edges
         |        UNION ALL SELECT id_b, id_a FROM edges),
         |walk AS (
         |  SELECT node, node AS reach FROM (SELECT DISTINCT node FROM sym)
         |  UNION
         |  SELECT w.node, s.nbr AS reach FROM walk w JOIN sym s ON s.node = w.reach),
         |lab AS (SELECT node, MIN(reach) AS label FROM walk GROUP BY node),
         |t AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens
         |      FROM documents WHERE doc_id < 1000),
         |m AS (SELECT label, node, n_tokens, row_number() OVER (
         |  PARTITION BY label ORDER BY n_tokens DESC, node ASC) AS rn
         |  FROM lab JOIN t ON node = doc_id)
         |SELECT label AS group_rep, COUNT(*) AS n_docs,
         |  MAX(CASE WHEN rn = 1 THEN node END) AS survivor_id,
         |  MAX(CASE WHEN rn = 1 THEN n_tokens END) AS survivor_quality
         |FROM m GROUP BY label""".stripMargin,

    // PQ-ADC: codebook c of subspace s = slice of the rank-c vector
    // under the (lcg, id) order (same centroid choice as q40 IVF);
    // code = first-minimum argmin; adc = 8 ordered table lookups.
    // Every double sum folds in the same index order as the Spark
    // expressions, so distances are bit-identical.
    // IVFADC = q40's cell CTEs ∘ q63's code CTEs, joined on cell.
    "q65_ivfadc" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |cent AS (SELECT vec_id AS cent_id, v AS cent_v FROM e
         |  ORDER BY ${lcgSql("vec_id")}, vec_id LIMIT 16),
         |ca AS (SELECT e.vec_id, cent_id,
         |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |    list_dot_product(v, cent_v)
         |      / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cent_v, cent_v)))
         |    DESC, cent_id) AS cr
         |  FROM e CROSS JOIN cent),
         |assigned AS (SELECT vec_id AS cid, cent_id AS cell FROM ca WHERE cr = 1),
         |probed AS (SELECT vec_id AS qid, cent_id AS cell FROM ca
         |  WHERE vec_id < 10 AND cr <= 4),
         |cidx AS (SELECT row_number() OVER (ORDER BY ${lcgSql("vec_id")}, vec_id) - 1
         |    AS c, v AS cv
         |  FROM e ORDER BY ${lcgSql("vec_id")}, vec_id LIMIT 16),
         |cb AS (SELECT c, s, list_slice(cv, s*8+1, s*8+8) AS cw
         |  FROM cidx, range(0, 8) t(s)),
         |dist AS (SELECT vec_id, s, c,
         |  list_sum(list_transform(range(1, 9), i ->
         |    (v[s*8+i]-cw[i])*(v[s*8+i]-cw[i]))) AS dd
         |  FROM e CROSS JOIN cb),
         |code AS (SELECT vec_id, s, c AS code FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY dd, c) AS rn
         |  FROM dist) WHERE rn = 1),
         |codesl AS (SELECT vec_id AS ccid, list(code ORDER BY s) AS codes
         |  FROM code GROUP BY vec_id),
         |dtq AS (SELECT vec_id AS dqid, list(dd ORDER BY s, c) AS dt
         |  FROM dist WHERE vec_id < 10 GROUP BY vec_id),
         |pairs AS (SELECT qid, cid,
         |  list_sum(list_transform(range(0, 8), s -> dt[s*16 + codes[s+1] + 1]))
         |    AS dist
         |  FROM probed JOIN assigned USING (cell)
         |    JOIN codesl ON cid = ccid JOIN dtq ON qid = dqid
         |  WHERE qid <> cid)
         |SELECT qid, cid, ROUND(dist, 4) AS adc_dist FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dist, cid) AS rn
         |  FROM pairs)
         |WHERE rn <= 10""".stripMargin,

    "q66_priority_sample" ->
      s"""SELECT lang, doc_id FROM (
         |  SELECT lang, doc_id, row_number() OVER (
         |    PARTITION BY lang ORDER BY ${lcgSql("doc_id")}, doc_id) AS rn
         |  FROM documents)
         |WHERE rn <= 5""".stripMargin,

    // One WITH-RECURSIVE chain mirroring every pipeline stage: the
    // parameterized pair SQL runs on the quality-filtered corpus, the
    // reachability closure picks survivors, bench/contamination/
    // mixture/split/packing reuse the per-stage oracle fragments.
    "q70_corpus_build" -> {
      val qualWhere = s" AND len($toks) >= 5"
      s"""WITH RECURSIVE pairs AS (${portablePairsSql(qualWhere)}),
         |q AS (SELECT doc_id, lang, source,
         |  CAST(len($toks) AS BIGINT) AS n_tok
         |  FROM documents WHERE doc_id < 1000$qualWhere),
         |sym AS (SELECT id_a AS node, id_b AS nbr FROM pairs
         |        UNION ALL SELECT id_b, id_a FROM pairs),
         |walk AS (
         |  SELECT node, node AS reach FROM (SELECT DISTINCT node FROM sym)
         |  UNION
         |  SELECT w.node, s.nbr AS reach FROM walk w JOIN sym s ON s.node = w.reach),
         |lab AS (SELECT node, MIN(reach) AS label FROM walk GROUP BY node),
         |nonrep AS (SELECT node AS doc_id FROM lab WHERE node <> label),
         |bench AS (SELECT doc_id FROM (
         |  SELECT doc_id, row_number() OVER (
         |    PARTITION BY lang ORDER BY ${lcgSql("doc_id")}, doc_id) AS rn
         |  FROM q) WHERE rn <= 5),
         |cont AS (
         |  SELECT id_a AS doc_id FROM pairs
         |    WHERE id_b IN (SELECT doc_id FROM bench)
         |  UNION
         |  SELECT id_b AS doc_id FROM pairs
         |    WHERE id_a IN (SELECT doc_id FROM bench)),
         |clean AS (SELECT * FROM q
         |  WHERE doc_id NOT IN (SELECT doc_id FROM nonrep)
         |    AND doc_id NOT IN (SELECT doc_id FROM bench)
         |    AND doc_id NOT IN (SELECT doc_id FROM cont)),
         |sampled AS (SELECT * FROM clean
         |  WHERE CAST((${lcgSql("doc_id")})>>16 AS DOUBLE)/32768.0 <
         |    CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.25
         |                ELSE 0.5 END),
         |sp AS (SELECT doc_id, n_tok,
         |  CASE WHEN frac < 0.8 THEN 'train' WHEN frac < 0.9 THEN 'val'
         |       ELSE 'test' END AS split,
         |  (${lcgSql("doc_id")})%8 AS shard FROM (
         |  SELECT *, CAST((${lcgSql("doc_id")})>>16 AS DOUBLE)/32768.0 AS frac
         |  FROM sampled)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY split, shard
         |  ORDER BY doc_id) AS rn FROM sp),
         |f AS (
         |  SELECT split, shard, rn, doc_id, n_tok,
         |    CAST(0 AS BIGINT) AS bin, n_tok AS fill
         |  FROM r WHERE rn = 1
         |  UNION ALL
         |  SELECT r.split, r.shard, r.rn, r.doc_id, r.n_tok,
         |    CASE WHEN f.fill > 0 AND f.fill + r.n_tok > 512
         |         THEN f.bin + 1 ELSE f.bin END,
         |    CASE WHEN f.fill > 0 AND f.fill + r.n_tok > 512
         |         THEN r.n_tok ELSE f.fill + r.n_tok END
         |  FROM f JOIN r ON r.split = f.split AND r.shard = f.shard
         |              AND r.rn = f.rn + 1)
         |SELECT split, shard, bin,
         |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
         |  CAST(SUM(doc_id) AS BIGINT) AS id_checksum
         |FROM f GROUP BY 1, 2, 3""".stripMargin
    },

    "q68_contamination" ->
      s"""WITH pairs AS ($q57Sql),
         |bench AS (SELECT doc_id AS bench_id FROM (
         |  SELECT doc_id, row_number() OVER (
         |    PARTITION BY lang ORDER BY ${lcgSql("doc_id")}, doc_id) AS rn
         |  FROM documents WHERE doc_id < 1000) WHERE rn <= 5),
         |f AS (SELECT id_a, id_b,
         |  id_a IN (SELECT bench_id FROM bench) AS a_in,
         |  id_b IN (SELECT bench_id FROM bench) AS b_in FROM pairs),
         |c AS (SELECT
         |  CASE WHEN a_in THEN id_b ELSE id_a END AS train_id,
         |  CASE WHEN a_in THEN id_a ELSE id_b END AS bench_id
         |  FROM f WHERE a_in <> b_in)
         |SELECT train_id, COUNT(*) AS n_bench_hits,
         |  MIN(bench_id) AS first_bench_id
         |FROM c GROUP BY train_id""".stripMargin,

    "q63_pq_ann" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |cidx AS (SELECT row_number() OVER (ORDER BY ${lcgSql("vec_id")}, vec_id) - 1
         |    AS c, v AS cv
         |  FROM e ORDER BY ${lcgSql("vec_id")}, vec_id LIMIT 16),
         |cb AS (SELECT c, s, list_slice(cv, s*8+1, s*8+8) AS cw
         |  FROM cidx, range(0, 8) t(s)),
         |dist AS (SELECT vec_id, s, c,
         |  list_sum(list_transform(range(1, 9), i ->
         |    (v[s*8+i]-cw[i])*(v[s*8+i]-cw[i]))) AS dd
         |  FROM e CROSS JOIN cb),
         |code AS (SELECT vec_id, s, c AS code FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY dd, c) AS rn
         |  FROM dist) WHERE rn = 1),
         |codesl AS (SELECT vec_id AS cid, list(code ORDER BY s) AS codes
         |  FROM code GROUP BY vec_id),
         |dt AS (SELECT vec_id AS qid, list(dd ORDER BY s, c) AS dt
         |  FROM dist WHERE vec_id < 10 GROUP BY vec_id),
         |pairs AS (SELECT qid, cid,
         |  list_sum(list_transform(range(0, 8), s -> dt[s*16 + codes[s+1] + 1]))
         |    AS dist
         |  FROM dt CROSS JOIN codesl WHERE qid <> cid)
         |SELECT qid, cid, ROUND(dist, 4) AS adc_dist FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dist, cid) AS rn
         |  FROM pairs)
         |WHERE rn <= 10""".stripMargin,

    // Same LCG shard + in-shard (lcg, id) rank as Sampling.shuffleOrder.
    "q73_corpus_shuffle" ->
      s"""SELECT (${lcgSql("doc_id")}) % 8 AS shard,
         |row_number() OVER (PARTITION BY (${lcgSql("doc_id")}) % 8
         |  ORDER BY ${lcgSql("doc_id")}, doc_id) AS pos,
         |doc_id
         |FROM documents""".stripMargin,

    "q54_split" ->
      s"""WITH s AS (SELECT doc_id,
         |  CASE WHEN frac < 0.8 THEN 'train' WHEN frac < 0.9 THEN 'val'
         |       ELSE 'test' END AS split
         |  FROM (SELECT doc_id,
         |    CAST((${lcgSql("doc_id")})>>16 AS DOUBLE)/32768.0 AS frac
         |    FROM documents))
         |SELECT split, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_checksum
         |FROM s GROUP BY split""".stripMargin,

    "q55_packing" ->
      s"""WITH d AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens,
         |  (${lcgSql("doc_id")})%8 AS shard FROM documents),
         |c AS (SELECT *, SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cum
         |  FROM d)
         |SELECT shard, CAST(FLOOR(CAST(cum AS DOUBLE)/512) AS BIGINT) AS bin,
         |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM c GROUP BY 1, 2""".stripMargin,

    // Per-bit ±1 folds over the q57 md5-mod-P token hashes — the
    // oracle recomputes every signature bit.
    "q58_simhash_portable" -> {
      val bitTerms = (0 until 16).map(b =>
        s"(CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN (x>>$b)&1=1 " +
          s"THEN 1 ELSE -1 END)) > 0 THEN ${1L << b} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH d AS (SELECT doc_id,
         |  list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS toks
         |  FROM documents WHERE doc_id < 500),
         |h AS (SELECT doc_id, list_transform(toks, t ->
         |  CAST(CONCAT('0x', substr(md5(t), 1, 14)) AS BIGINT) % 2147483647) AS hs
         |  FROM d WHERE len(toks) > 0)
         |SELECT doc_id AS doc, CAST($bitTerms AS BIGINT) AS simhash FROM h""".stripMargin
    },

    // First-fit is a sequential fold: the recursive CTE carries
    // (bin, fill) per shard, advancing every shard one document per
    // iteration (rn joins rn+1) — the exact mirror of the Scala
    // per-shard iterator fold.
    "q59_firstfit_packing" ->
      s"""WITH RECURSIVE d AS (
         |  SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens,
         |    (${lcgSql("doc_id")})%8 AS shard FROM documents),
         |r AS (SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
         |  FROM d),
         |f AS (
         |  SELECT shard, rn, doc_id, n_tokens,
         |    CAST(0 AS BIGINT) AS bin, n_tokens AS fill
         |  FROM r WHERE rn = 1
         |  UNION ALL
         |  SELECT r.shard, r.rn, r.doc_id, r.n_tokens,
         |    CASE WHEN f.fill > 0 AND f.fill + r.n_tokens > 512
         |         THEN f.bin + 1 ELSE f.bin END,
         |    CASE WHEN f.fill > 0 AND f.fill + r.n_tokens > 512
         |         THEN r.n_tokens ELSE f.fill + r.n_tokens END
         |  FROM f JOIN r ON r.shard = f.shard AND r.rn = f.rn + 1)
         |SELECT shard, bin, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM f GROUP BY 1, 2""".stripMargin,

    "q56_vocab" ->
      s"""SELECT t AS token, COUNT(*) AS freq
         |FROM (SELECT unnest($toks) AS t FROM documents)
         |GROUP BY t ORDER BY freq DESC, token ASC LIMIT 20""".stripMargin,

    "q69_length_batches" ->
      s"""WITH d AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens,
         |  (${lcgSql("doc_id")})%8 AS shard FROM documents),
         |r AS (SELECT *, row_number() OVER (PARTITION BY shard
         |  ORDER BY n_tokens, doc_id) AS rn FROM d)
         |SELECT shard, CAST(FLOOR(CAST(rn - 1 AS DOUBLE) / 32) AS BIGINT) AS batch,
         |  COUNT(*) AS n_docs, MAX(n_tokens) AS max_len,
         |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
         |  CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT) AS padding
         |FROM r GROUP BY 1, 2""".stripMargin,

    "q62_mixture_sample" ->
      s"""WITH t AS (SELECT source, doc_id,
         |  CASE WHEN CAST((${lcgSql("doc_id")})>>16 AS DOUBLE)/32768.0 <
         |    CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
         |                WHEN 'src2' THEN 0.25 ELSE 0.1 END
         |  THEN 1 ELSE 0 END AS keep FROM documents)
         |SELECT source, COUNT(*) AS n_docs, CAST(SUM(keep) AS BIGINT) AS n_kept,
         |  CAST(SUM(CASE WHEN keep = 1 THEN doc_id END) AS BIGINT)
         |    AS kept_id_checksum
         |FROM t GROUP BY source""".stripMargin,

    "q52_quality" ->
      s"""SELECT doc_id,
         |len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpeish,
         |ROUND(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
         |  / GREATEST(length(text), 1), 4) AS punct_ratio,
         |ROUND(CAST(list_sum(list_transform($toks, t -> length(t))) AS DOUBLE)
         |  / GREATEST(len($toks), 1), 4) AS avg_token_len
         |FROM documents WHERE doc_id < 200""".stripMargin,

    // Repetition filter: n-gram lists rebuilt with list_transform over
    // generate_series (empty below n tokens, matching wordNgrams' guard);
    // top-token share via the same O(tokens × distinct) count-per-
    // distinct-token shape the Spark HOF uses.
    "q74_repetition" ->
      s"""WITH d AS (SELECT doc_id, $toks AS ws FROM documents),
         |g AS (SELECT doc_id, ws,
         |  list_transform(generate_series(1, len(ws)-1),
         |    i -> ws[i] || ' ' || ws[i+1]) AS g2,
         |  list_transform(generate_series(1, len(ws)-2),
         |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS g3,
         |  CAST(COALESCE(list_max(list_transform(list_distinct(ws),
         |    w -> len(list_filter(ws, x -> x = w)))), 0) AS DOUBLE)
         |    / GREATEST(len(ws), 1) AS top_frac
         |  FROM d),
         |m AS (SELECT *,
         |  CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE)
         |    / GREATEST(len(g2), 1) AS dup2_frac FROM g)
         |SELECT doc_id,
         |  CAST(len(ws) AS BIGINT) AS n_tokens,
         |  ROUND(dup2_frac, 4) AS dup_bigram_frac,
         |  ROUND(CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)
         |    / GREATEST(len(g3), 1), 4) AS dup_trigram_frac,
         |  ROUND(top_frac, 4) AS top_token_frac,
         |  CAST(dup2_frac <= 0.6 AND top_frac <= 0.2 AS BIGINT) AS keep
         |FROM m""".stripMargin,

    // Importance sampling: the oracle recomputes the LCG fraction
    // (bits 16..30 / 2^15 — exact dyadic arithmetic on both engines)
    // and the duplicate-bigram score, then the same strict-< keep.
    "q79_importance_sample" ->
      s"""WITH d AS (SELECT doc_id, source, $toks AS ws FROM documents),
         |g AS (SELECT doc_id, source,
         |  list_transform(generate_series(1, len(ws)-1),
         |    i -> ws[i] || ' ' || ws[i+1]) AS g2 FROM d),
         |s AS (SELECT doc_id, source,
         |  1.0 - CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE)
         |    / GREATEST(len(g2), 1) AS score FROM g),
         |k AS (SELECT source, doc_id,
         |  CASE WHEN CAST((${lcgSql("doc_id")}) >> 16 AS DOUBLE) / 32768.0
         |       < score THEN 1 ELSE 0 END AS keep FROM s)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(keep) AS BIGINT) AS n_kept,
         |  CAST(SUM(CASE WHEN keep = 1 THEN doc_id END) AS BIGINT)
         |    AS kept_id_checksum
         |FROM k GROUP BY source""".stripMargin,

    // unigram NLL: identical -ln(c/N) per token on both engines, summed
    // through DECIMAL(30,6) so partition order can't move the hash.
    "q83_unigram_nll" ->
      s"""WITH t AS (SELECT doc_id, unnest($toks) AS token FROM documents),
         |v AS (SELECT token, COUNT(*) AS c FROM t GROUP BY token),
         |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS corpus_n FROM t)
         |SELECT doc_id, COUNT(*) AS n_tokens,
         |  ROUND(CAST(SUM(CAST(-ln(c / corpus_n) AS DECIMAL(30,6)))
         |    AS DOUBLE) / COUNT(*), 4) AS nll
         |FROM t JOIN v USING (token) CROSS JOIN n
         |GROUP BY doc_id""".stripMargin,

    // entropy from counts: identical c·ln(c) terms on both engines,
    // summed through DECIMAL(30,6) (partition/order-independent).
    "q85_char_entropy" ->
      s"""WITH u AS (SELECT doc_id,
         |  unnest(list_filter(regexp_split_to_array(text, ''), x -> x <> ''))
         |    AS ch FROM documents),
         |c AS (SELECT doc_id, ch, COUNT(*) AS c FROM u GROUP BY doc_id, ch)
         |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chars,
         |  ROUND(ln(CAST(SUM(c) AS DOUBLE))
         |    - CAST(SUM(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
         |        AS DECIMAL(30,6))) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 4)
         |    AS char_entropy
         |FROM c GROUP BY doc_id""".stripMargin,

    "q82_bpe_pairs" ->
      s"""WITH w AS (SELECT unnest($toks) AS w FROM documents),
         |p AS (SELECT unnest(list_transform(generate_series(1, length(w)-1),
         |  i -> substr(w, i, 2))) AS pair FROM w WHERE length(w) >= 2)
         |SELECT pair, COUNT(*) AS n FROM p GROUP BY pair
         |ORDER BY n DESC, pair ASC LIMIT 10""".stripMargin,

    // TF-IDF: same two-phase aggregation; the score is rounded to 6
    // decimals BEFORE ranking so mathematically-equal scores reached by
    // different float routes tie identically on both engines.
    "q75_tfidf" ->
      s"""WITH tf AS (
         |  SELECT doc_id, token, COUNT(*) AS tf
         |  FROM (SELECT doc_id, unnest($toks) AS token FROM documents)
         |  GROUP BY doc_id, token),
         |dfreq AS (SELECT token, COUNT(*) AS doc_freq FROM tf GROUP BY token),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT doc_id, tf.token AS token, tf, doc_freq,
         |    ROUND(tf * ln(CAST(n_docs AS DOUBLE) / doc_freq), 6) AS tfidf
         |  FROM tf JOIN dfreq USING (token) CROSS JOIN n),
         |ranked AS (SELECT *, ROW_NUMBER() OVER (
         |  PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rn FROM scored)
         |SELECT doc_id, token, tf, doc_freq, tfidf, rn FROM ranked
         |WHERE rn <= 3""".stripMargin,

    // IVF-flat: centroids = 16 smallest lcg(vec_id); every vector joins
    // its argmax-cosine cell; queries probe their 4 nearest cells and
    // exact-rerank. Mirrors Similarity.ivfTopK(nCentroids=16, nProbe=4).
    "q40_ivf_topk" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |cent AS (SELECT vec_id AS cent_id, v AS cent_v FROM e
         |  ORDER BY ${lcgSql("vec_id")}, vec_id LIMIT 16),
         |ca AS (SELECT e.vec_id, e.v, cent_id,
         |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |    list_dot_product(v, cent_v)
         |      / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cent_v, cent_v)))
         |    DESC, cent_id) AS cr
         |  FROM e CROSS JOIN cent),
         |assigned AS (SELECT vec_id AS cid, v AS cv, cent_id AS cell FROM ca WHERE cr = 1),
         |probed AS (SELECT vec_id AS qid, v AS qv, cent_id AS cell FROM ca
         |  WHERE vec_id < 10 AND cr <= 4),
         |scored AS (SELECT qid, cid, $cosSql AS cos
         |  FROM probed JOIN assigned USING (cell) WHERE qid <> cid)
         |SELECT qid, cid, ROUND(cos, 4) AS cos_sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
         |  FROM scored)
         |WHERE rn <= 10""".stripMargin,
    // RRF: dense ranks (q30 kernel, corpus < 300) + sparse ranks
    // (q110 kernel, k=10) fused by sum of 1/(60+rank); a 2-term IEEE
    // sum is commutative, so no decimal routing is needed.
    "q116_rrf_fusion" ->
      s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
         |  FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
         |  FROM embeddings WHERE vec_id < 300),
         |dscored AS (SELECT qid, cid,
         |  list_dot_product(qv, cv)
         |    / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
         |  FROM q, c WHERE qid <> cid),
         |dense AS (SELECT qid, cid, rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
         |  FROM dscored) WHERE rn <= 10),
         |tf AS (SELECT doc_id AS id, token, COUNT(*) AS tf
         |  FROM (SELECT doc_id, unnest($toks) AS token FROM documents
         |        WHERE doc_id < 300)
         |  GROUP BY doc_id, token),
         |dfreq AS (SELECT token, COUNT(*) AS doc_freq FROM tf GROUP BY token),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents WHERE doc_id < 300),
         |wt AS (SELECT id, tf.token AS token,
         |    ROUND(tf * ln(CAST(n_docs AS DOUBLE) / doc_freq), 6) AS w
         |  FROM tf JOIN dfreq USING (token) CROSS JOIN n),
         |nrm AS (SELECT id,
         |    sqrt(CAST(SUM(CAST(round(w * w * 1e9) AS BIGINT)) AS DOUBLE) / 1e9)
         |      AS nrm
         |  FROM wt GROUP BY id),
         |dots AS (SELECT a.id AS id_a, b.id AS id_b,
         |    CAST(SUM(CAST(round(a.w * b.w * 1e9) AS BIGINT)) AS DOUBLE) / 1e9
         |      AS dot
         |  FROM wt a JOIN wt b ON a.token = b.token AND a.id < b.id
         |  GROUP BY a.id, b.id),
         |sscored AS (SELECT id_a, id_b, dot / (na.nrm * nb.nrm) AS cos
         |  FROM dots JOIN nrm na ON id_a = na.id JOIN nrm nb ON id_b = nb.id),
         |ssym AS (SELECT id_a, id_b, cos FROM sscored
         |         UNION ALL SELECT id_b, id_a, cos FROM sscored),
         |sparse AS (SELECT id_a AS qid, id_b AS cid, rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY cos DESC, id_b) AS rn
         |  FROM ssym) WHERE rn <= 10 AND id_a < 10),
         |u AS (SELECT * FROM dense UNION ALL SELECT * FROM sparse),
         |f AS (SELECT qid, cid,
         |    SUM(CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(rn AS DOUBLE)))
         |      AS rrf,
         |    COUNT(*) AS n_systems
         |  FROM u GROUP BY qid, cid)
         |SELECT qid, cid, ROUND(rrf, 6) AS rrf, n_systems, fused_rank
         |FROM (SELECT *, row_number() OVER (
         |    PARTITION BY qid ORDER BY rrf DESC, cid) AS fused_rank FROM f)
         |WHERE fused_rank <= 10""".stripMargin,

    // Mixed-language: chunk starts via range(0, len, 20), the q25
    // marker-count langid per chunk slice, min(struct) argmax rollup.
    "q115_mixed_lang" ->
      s"""WITH d AS (SELECT doc_id, $toks AS tk FROM documents),
         |ch AS (SELECT doc_id,
         |    list_slice(tk, cs + 1, cs + 20) AS ct
         |  FROM (SELECT doc_id, tk, unnest(range(0, len(tk), 20)) AS cs
         |        FROM d)),
         |scored AS (SELECT doc_id,
         |    len(list_filter(ct, t -> t IN ('the','a','of','and'))) AS en_n,
         |    len(list_filter(ct, t -> t IN ('der','die','das','und'))) AS de_n,
         |    len(list_filter(ct, t -> t IN ('le','la','et','les'))) AS fr_n
         |  FROM ch),
         |lab AS (SELECT doc_id,
         |    CASE WHEN en_n + de_n + fr_n = 0 THEN 'und'
         |         WHEN en_n >= de_n AND en_n >= fr_n THEN 'en'
         |         WHEN de_n >= fr_n THEN 'de' ELSE 'fr' END AS chunk_lang
         |  FROM scored),
         |c AS (SELECT doc_id, chunk_lang, COUNT(*) AS c FROM lab
         |  GROUP BY doc_id, chunk_lang),
         |agg AS (SELECT doc_id, SUM(c) AS n_chunks,
         |    MIN(struct_pack(nc := -c, l := chunk_lang)) AS d,
         |    COUNT(DISTINCT CASE WHEN chunk_lang <> 'und'
         |                        THEN chunk_lang END) AS nl
         |  FROM c GROUP BY doc_id)
         |SELECT doc_id, CAST(n_chunks AS BIGINT) AS n_chunks,
         |  d.l AS dominant_lang,
         |  ROUND(CAST(-d.nc AS DOUBLE) / CAST(n_chunks AS DOUBLE), 4)
         |    AS dominant_frac,
         |  (nl > 1) AS is_mixed
         |FROM agg""".stripMargin,

    // Curriculum: q83's NLL kernel -> quantile_cont quintile cuts ->
    // indicator-sum banding -> per-shard (band, lcg, id) positions.
    "q114_curriculum" ->
      s"""WITH t AS (SELECT doc_id, unnest($toks) AS token FROM documents),
         |v AS (SELECT token, COUNT(*) AS c FROM t GROUP BY token),
         |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS corpus_n FROM t),
         |nll AS (SELECT doc_id,
         |    ROUND(CAST(SUM(CAST(-ln(c / corpus_n) AS DECIMAL(30,6)))
         |      AS DOUBLE) / COUNT(*), 4) AS difficulty
         |  FROM t JOIN v USING (token) CROSS JOIN n GROUP BY doc_id),
         |cuts AS (SELECT
         |    ROUND(quantile_cont(difficulty, 0.2), 4) AS c0,
         |    ROUND(quantile_cont(difficulty, 0.4), 4) AS c1,
         |    ROUND(quantile_cont(difficulty, 0.6), 4) AS c2,
         |    ROUND(quantile_cont(difficulty, 0.8), 4) AS c3
         |  FROM nll),
         |b AS (SELECT doc_id, difficulty,
         |    (CASE WHEN difficulty > c0 THEN 1 ELSE 0 END +
         |     CASE WHEN difficulty > c1 THEN 1 ELSE 0 END +
         |     CASE WHEN difficulty > c2 THEN 1 ELSE 0 END +
         |     CASE WHEN difficulty > c3 THEN 1 ELSE 0 END) AS bucket,
         |    (${lcgSql("doc_id")}) % 8 AS shard
         |  FROM nll CROSS JOIN cuts)
         |SELECT shard,
         |  row_number() OVER (PARTITION BY shard
         |    ORDER BY bucket, ${lcgSql("doc_id")}, doc_id) AS pos,
         |  doc_id, bucket, difficulty
         |FROM b""".stripMargin,

    // Prefix join: brute-force all-pairs ground truth — equality
    // proves the prefix filter is lossless at this threshold.
    "q113_prefix_join" ->
      s"""WITH d AS (SELECT doc_id AS id,
         |    list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS toks
         |  FROM documents WHERE doc_id < 300),
         |nz AS (SELECT * FROM d WHERE len(toks) > 0),
         |pairs AS (SELECT a.id AS id_a, b.id AS id_b,
         |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
         |      (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
         |      AS jac
         |  FROM nz a JOIN nz b ON a.id < b.id)
         |SELECT id_a, id_b, ROUND(jac, 4) AS jaccard
         |FROM pairs WHERE jac >= 0.6""".stripMargin,

    // Sparse cosine: same tf/df/N arithmetic as q75's anchor, weights
    // rounded to 6, per-term products quantized at 1e-9 into HUGEINT
    // sums — dot and norm identical bit-for-bit before the final round.
    "q110_sparse_cosine" -> sparseTopkSql,

    // PageRank: both damped rounds replayed CTE-by-CTE over the q57
    // edge set. (1 - 0.85) is computed as a DOUBLE SUBTRACTION (not
    // the literal 0.15) to match Spark's Scala-side arithmetic bit
    // for bit; contributions quantize at 1e-15 like the Spark side.
    "q105_pagerank" ->
      s"""WITH edges AS ($q57Sql),
         |sym AS (SELECT id_a AS src, id_b AS dst FROM edges
         |        UNION ALL SELECT id_b, id_a FROM edges),
         |deg AS (SELECT src AS node, COUNT(*) AS degree FROM sym GROUP BY src),
         |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
         |pr0 AS (SELECT node, degree, CAST(1 AS DOUBLE) / n AS pr FROM deg, nn),
         |it1 AS (SELECT s.dst AS node,
         |    SUM(CAST(round(p.pr / p.degree * 1e15) AS BIGINT)) AS q
         |  FROM pr0 p JOIN sym s ON p.node = s.src GROUP BY s.dst),
         |pr1 AS (SELECT d.node, d.degree,
         |    (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n
         |      + CAST(0.85 AS DOUBLE) * (CAST(q AS DOUBLE) / 1e15) AS pr
         |  FROM deg d JOIN it1 USING (node), nn),
         |it2 AS (SELECT s.dst AS node,
         |    SUM(CAST(round(p.pr / p.degree * 1e15) AS BIGINT)) AS q
         |  FROM pr1 p JOIN sym s ON p.node = s.src GROUP BY s.dst),
         |pr2 AS (SELECT d.node, d.degree,
         |    (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n
         |      + CAST(0.85 AS DOUBLE) * (CAST(q AS DOUBLE) / 1e15) AS pr
         |  FROM deg d JOIN it2 USING (node), nn)
         |SELECT node, degree, ROUND(pr, 6) AS pagerank FROM pr2""".stripMargin,

    // Triplets: argmax / conditional-argmax over the same unrounded
    // cosine as q30 (bit-identical folds), replayed as two
    // row_number picks per anchor.
    "q102_triplets" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 50),
        |c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |scored AS (SELECT qid, cid,
        |  list_dot_product(qv, cv)
        |    / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
        |  FROM q, c WHERE qid <> cid),
        |pos AS (SELECT qid, cid AS pos_id, cos AS pos_cos FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
        |  FROM scored) WHERE rn = 1),
        |neg AS (SELECT qid, cid AS neg_id, cos AS neg_cos FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
        |  FROM scored WHERE cos < 0.3) WHERE rn = 1)
        |SELECT pos.qid AS anchor_id, pos_id, ROUND(pos_cos, 4) AS pos_cos,
        |  neg_id, ROUND(neg_cos, 4) AS neg_cos,
        |  ROUND(pos_cos - neg_cos, 4) AS margin
        |FROM pos LEFT JOIN neg ON pos.qid = neg.qid""".stripMargin,

    // Temperature mixture: n^0.5 quantized to 1e-6 (the q71 decimal
    // trick), Z as exact integer sum, allocation by integer division,
    // selection replayed through the same LCG priority rank as q66.
    "q101_temperature_mix" ->
      s"""WITH cnt AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
         |w AS (SELECT source, n_docs,
         |  CAST(round(pow(CAST(n_docs AS DOUBLE), 0.5) * 1e6) AS BIGINT) AS wq
         |  FROM cnt),
         |wz AS (SELECT *, SUM(wq) OVER () AS z FROM w),
         |t AS (SELECT source, n_docs, wq, z,
         |  (200 * wq) // z AS n_target FROM wz),
         |r AS (SELECT source, doc_id,
         |  row_number() OVER (PARTITION BY source
         |    ORDER BY ${lcgSql("doc_id")}, doc_id) AS rn
         |  FROM documents),
         |k AS (SELECT r.source, COUNT(*) AS n_kept, SUM(r.doc_id) AS ck
         |  FROM r JOIN t USING (source) WHERE rn <= n_target
         |  GROUP BY r.source)
         |SELECT t.source, t.n_docs,
         |  ROUND(CAST(wq AS DOUBLE) / CAST(z AS DOUBLE), 6) AS weight,
         |  CAST(n_target AS BIGINT) AS n_target,
         |  COALESCE(n_kept, 0) AS n_kept,
         |  CAST(ck AS BIGINT) AS kept_id_checksum
         |FROM t LEFT JOIN k USING (source)""".stripMargin,

    // Per-dim moments over the same 1e-6 quantization as q71: HUGEINT
    // sums in DuckDB ↔ DECIMAL(38,0) in Spark, so mean and the
    // E[x²]−E[x]² variance are exact-identical before the final round.
    "q100_dim_stats" ->
      """WITH ex AS (
        |  SELECT i AS dim,
        |         CAST(round(CAST(embedding AS DOUBLE[])[i + 1] * 1e6) AS BIGINT) AS xq
        |  FROM embeddings CROSS JOIN range(64) t(i))
        |SELECT dim, COUNT(*) AS n,
        |  ROUND(CAST(SUM(xq) AS DOUBLE) / (1e6 * COUNT(*)), 4) AS mean,
        |  ROUND(CAST(SUM(xq * xq) AS DOUBLE) / (1e12 * COUNT(*))
        |        - (CAST(SUM(xq) AS DOUBLE) / (1e6 * COUNT(*)))
        |          * (CAST(SUM(xq) AS DOUBLE) / (1e6 * COUNT(*))), 4) AS var_pop,
        |  ROUND(CAST(MIN(xq) AS DOUBLE) / 1e6, 6) AS min_x,
        |  ROUND(CAST(MAX(xq) AS DOUBLE) / 1e6, 6) AS max_x
        |FROM ex GROUP BY dim""".stripMargin,

    // One Lloyd step: same centroid seed + argmax-cosine assignment as
    // q40 (k=8), then exact per-dim means over 1e-6-quantized elements
    // (HUGEINT sum in DuckDB ↔ DECIMAL(38,0) sum in Spark — both
    // exact, so the mean is order-independent in both engines).
    "q71_kmeans_step" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |cent AS (SELECT vec_id AS cent_id, v AS cent_v FROM e
         |  ORDER BY ${lcgSql("vec_id")}, vec_id LIMIT 8),
         |ca AS (SELECT e.vec_id, e.v, cent_id,
         |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |    list_dot_product(v, cent_v)
         |      / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cent_v, cent_v)))
         |    DESC, cent_id) AS cr
         |  FROM e CROSS JOIN cent),
         |assigned AS (SELECT vec_id, v, cent_id AS cell FROM ca WHERE cr = 1),
         |ex AS (SELECT cell, i AS dim,
         |  CAST(round(v[i + 1] * 1e6) AS BIGINT) AS xq
         |  FROM assigned CROSS JOIN range(64) t(i))
         |SELECT cell, dim,
         |  ROUND(CAST(SUM(xq) AS DOUBLE) / (1e6 * COUNT(*)), 4) AS centroid_val,
         |  COUNT(*) AS n_members
         |FROM ex GROUP BY cell, dim""".stripMargin,

    // Both Lloyd rounds of q89, chained: round-1 means stay UNROUNDED
    // (CAST(SUM..) AS DOUBLE / (1e6*COUNT) — bit-identical to the
    // doubles Spark's fit carries between iterations), rebuild into
    // DOUBLE[] centroid vectors via list(.. ORDER BY dim), and a LEFT
    // JOIN against the seed keeps the retain-previous-centroid
    // fallback for member-less cells. Output = round-2 means rounded
    // to 4, member counts, and the literal iteration count.
    "q89_kmeans_fit" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |cent AS (SELECT vec_id AS cent_id, v AS cent_v FROM e
         |  ORDER BY ${lcgSql("vec_id")}, vec_id LIMIT 8),
         |ca AS (SELECT e.vec_id, e.v, cent_id,
         |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |    list_dot_product(v, cent_v)
         |      / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cent_v, cent_v)))
         |    DESC, cent_id) AS cr
         |  FROM e CROSS JOIN cent),
         |assigned AS (SELECT vec_id, v, cent_id AS cell FROM ca WHERE cr = 1),
         |ex AS (SELECT cell, i AS dim,
         |  CAST(round(v[i + 1] * 1e6) AS BIGINT) AS xq
         |  FROM assigned CROSS JOIN range(64) t(i)),
         |m1 AS (SELECT cell, dim,
         |  CAST(SUM(xq) AS DOUBLE) / (1e6 * COUNT(*)) AS cv
         |  FROM ex GROUP BY cell, dim),
         |fit1 AS (SELECT cell AS cent_id, list(cv ORDER BY dim) AS cent_v
         |  FROM m1 GROUP BY cell),
         |cent2 AS (SELECT c.cent_id, COALESCE(f.cent_v, c.cent_v) AS cent_v
         |  FROM cent c LEFT JOIN fit1 f USING (cent_id)),
         |ca2 AS (SELECT e.vec_id, e.v, cent_id,
         |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |    list_dot_product(v, cent_v)
         |      / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cent_v, cent_v)))
         |    DESC, cent_id) AS cr
         |  FROM e CROSS JOIN cent2),
         |assigned2 AS (SELECT vec_id, v, cent_id AS cell FROM ca2 WHERE cr = 1),
         |ex2 AS (SELECT cell, i AS dim,
         |  CAST(round(v[i + 1] * 1e6) AS BIGINT) AS xq
         |  FROM assigned2 CROSS JOIN range(64) t(i))
         |SELECT cell, dim,
         |  ROUND(CAST(SUM(xq) AS DOUBLE) / (1e6 * COUNT(*)), 4) AS centroid_val,
         |  COUNT(*) AS n_members, 2 AS n_iters
         |FROM ex2 GROUP BY cell, dim""".stripMargin,

    // SemDeDup: replay the 2-round Lloyd fit (q89's machinery via
    // kmRoundSql), reassign every vector under the FINAL
    // fallback-applied centroids, recompute the within-cell pair set
    // at tau=0.35 and the keep-lowest-id rule, and check the per-cell
    // member/drop counts and id checksums exactly.
    "q90_semantic_dedup" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |cent AS (SELECT vec_id AS cent_id, v AS cent_v FROM e
         |  ORDER BY ${lcgSql("vec_id")}, vec_id LIMIT 8),
         |${kmRoundSql("cent", 1)},
         |c2 AS (SELECT c.cent_id, COALESCE(f.cent_v, c.cent_v) AS cent_v
         |  FROM cent c LEFT JOIN f1 f USING (cent_id)),
         |${kmRoundSql("c2", 2)},
         |c3 AS (SELECT c.cent_id, COALESCE(f.cent_v, c.cent_v) AS cent_v
         |  FROM c2 c LEFT JOIN f2 f USING (cent_id)),
         |ca3 AS (SELECT e.vec_id, e.v, cent_id,
         |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |    $cosCentSql DESC, cent_id) AS cr
         |  FROM e CROSS JOIN c3),
         |a3 AS (SELECT vec_id, v, cent_id AS cell FROM ca3 WHERE cr = 1),
         |drops AS (SELECT DISTINCT x.cell, y.vec_id AS drop_id
         |  FROM a3 x JOIN a3 y ON x.cell = y.cell AND x.vec_id < y.vec_id
         |  WHERE list_dot_product(x.v, y.v)
         |    / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v)))
         |    >= 0.35),
         |mem AS (SELECT cell, COUNT(*) AS n_members, SUM(vec_id) AS id_sum
         |  FROM a3 GROUP BY cell),
         |dr AS (SELECT cell, COUNT(*) AS n_dropped, SUM(drop_id) AS drop_sum
         |  FROM drops GROUP BY cell)
         |SELECT m.cell, m.n_members,
         |  COALESCE(dr.n_dropped, 0) AS n_dropped,
         |  CAST(m.id_sum - COALESCE(dr.drop_sum, 0) AS BIGINT) AS kept_id_checksum
         |FROM mem m LEFT JOIN dr USING (cell)""".stripMargin,

    // Every 8-token gram regenerated by list-slicing the same token
    // arrays; a gram is duplicated iff it occurs in >= 2 distinct
    // docs. md5 digests only (never gram text) cross the aggregations,
    // exactly as the Spark side computes.
    // q278: every page's text reconstructs symbolically — the title
    // line, the raw document text (PDF extraction does NOT collapse
    // whitespace, so the oracle uses text verbatim), the WinAnsi
    // line via chr(), and the page separator chr(10)||chr(10).
    "q278_pdf_extract" ->
      """SELECT doc_id, CAST(2 AS INT) AS n_pages,
        |  'doc ' || doc_id || chr(10) || text || chr(10) ||
        |  'caf' || chr(233) || ' ' || chr(8212) || ' fin' ||
        |  chr(10) || chr(10) || 'page two of doc ' || doc_id AS text
        |FROM documents WHERE doc_id < 50""".stripMargin,

    // q280: identical expected text to q278 — the 1.5 container
    // layout must be invisible to extraction.
    "q280_pdf15_extract" ->
      """SELECT doc_id, CAST(2 AS INT) AS n_pages,
        |  'doc ' || doc_id || chr(10) || text || chr(10) ||
        |  'caf' || chr(233) || ' ' || chr(8212) || ' fin' ||
        |  chr(10) || chr(10) || 'page two of doc ' || doc_id AS text
        |FROM documents WHERE doc_id < 50""".stripMargin,

    // q281: identical page shape to q278, but the third line is
    // CJK/symbols only a composite font can carry — 汉(27721)
    // 字(23383) em-dash(8212) snowman(9731) via chr(). The Identity-H
    // code path and the CMap must reproduce it exactly.
    "q281_pdf_type0" ->
      """SELECT doc_id, CAST(2 AS INT) AS n_pages,
        |  'doc ' || doc_id || chr(10) || text || chr(10) ||
        |  chr(27721) || chr(23383) || ' ' || chr(8212) || ' ' ||
        |  chr(9731) || ' fin' ||
        |  chr(10) || chr(10) || 'page two of doc ' || doc_id AS text
        |FROM documents WHERE doc_id < 50""".stripMargin,

    // q282: expected text identical to q278 (the filter must be
    // invisible); filter_used replays the doc_id % 5 variant cycle.
    "q282_pdf_filters" ->
      """SELECT doc_id,
        |  CASE doc_id % 5 WHEN 0 THEN 'LZWDecode'
        |       WHEN 1 THEN 'ASCIIHexDecode' WHEN 2 THEN 'ASCII85Decode'
        |       WHEN 3 THEN 'RunLengthDecode'
        |       ELSE 'ASCII85Decode+FlateDecode' END AS filter_used,
        |  CAST(2 AS INT) AS n_pages,
        |  'doc ' || doc_id || chr(10) || text || chr(10) ||
        |  'caf' || chr(233) || ' ' || chr(8212) || ' fin' ||
        |  chr(10) || chr(10) || 'page two of doc ' || doc_id AS text
        |FROM documents WHERE doc_id < 50""".stripMargin,

    // q286: the Form XObject's stamp line appends at the Do
    // invocation point, after the body's line contract.
    "q286_pdf_form_xobject" ->
      """SELECT doc_id, CAST(1 AS INT) AS n_pages,
        |  'doc ' || doc_id || chr(10) || text || chr(10) ||
        |  'stamp for doc ' || doc_id || ' ' || chr(8212) || ' caf' ||
        |  chr(233) AS text
        |FROM documents WHERE doc_id < 50""".stripMargin,

    // q289: title replays with é(233), —(8212), 完(23436), 了(20102)
    // via chr(); subject is absent → null.
    "q289_pdf_info" ->
      """SELECT doc_id,
        |  'R' || chr(233) || 'sum' || chr(233) || ' ' || doc_id ||
        |    ' ' || chr(8212) || ' ' || chr(23436) || chr(20102) AS title,
        |  'author (' || doc_id || ')' AS author,
        |  CAST(NULL AS VARCHAR) AS subject,
        |  'graft' AS producer
        |FROM documents WHERE doc_id < 50""".stripMargin,

    // q295: the MacRoman title replays via chr() — é(233),
    // em-dash(8212), ﬁ(64257), ÷(247), ƒ(402), ¤(164).
    "q295_pdf_macroman" ->
      """SELECT doc_id, CAST(1 AS INT) AS n_pages,
        |  'R' || chr(233) || 'sum' || chr(233) || ' ' || chr(8212) ||
        |  ' ' || chr(64257) || 'n ' || chr(247) || ' ' || chr(402) ||
        |  ' ' || chr(164) || ' doc ' || doc_id || chr(10) || text AS text
        |FROM documents WHERE doc_id < 50""".stripMargin,

    // q287: the per-host delay replays the i % 4 branch — named
    // group's own value, * fallback, named-without-delay null (no
    // fall-through), junk null.
    "q287_crawl_delay" ->
      """WITH ids AS (SELECT unnest(range(12)) AS i)
        |SELECT 'h' || i || '.com' AS host,
        |  CASE i % 4 WHEN 0 THEN i + 0.5
        |       WHEN 1 THEN CAST(i AS DOUBLE) END AS crawl_delay
        |FROM ids""".stripMargin,

    // q288: two real notes per document — the id-bearing note and
    // the symbol note via chr() — joined by a blank line; the
    // separator pseudo-notes contribute rows ONLY if the w:type
    // exclusion fails, which would break the hash.
    "q288_docx_footnotes" ->
      """SELECT doc_id, CAST(2 AS INT) AS n_notes,
        |  'note one for doc ' || doc_id || chr(10) || chr(10) ||
        |  'second note ' || chr(8212) || ' caf' || chr(233) || ' ' ||
        |  chr(9731) AS notes_text
        |FROM documents WHERE doc_id < 50""".stripMargin,

    // q283: paragraphs join with chr(10); the CJK/symbol paragraph
    // replays via chr() — 汉(27721) 字(23383) em-dash(8212) é(233)
    // snowman(9731).
    "q283_docx_extract" ->
      """SELECT doc_id, CAST(3 AS INT) AS n_paragraphs,
        |  'doc ' || doc_id || chr(10) || text || chr(10) ||
        |  chr(27721) || chr(23383) || ' ' || chr(8212) || ' caf' ||
        |  chr(233) || ' ' || chr(9731) || ' fin' AS text
        |FROM documents WHERE doc_id < 50""".stripMargin,

    // q292: two slides — "deck N" + verbatim text paragraphs joined
    // with chr(10), a blank line between slides, then the CJK/symbol
    // slide via chr() — 汉(27721) 字(23383) em-dash(8212) é(233)
    // snowman(9731).
    "q292_pptx_extract" ->
      """SELECT doc_id, CAST(2 AS INT) AS n_slides,
        |  'deck ' || doc_id || chr(10) || text || chr(10) || chr(10) ||
        |  chr(27721) || chr(23383) || ' ' || chr(8212) || ' caf' ||
        |  chr(233) || ' ' || chr(9731) || ' fin' AS text
        |FROM documents WHERE doc_id < 50""".stripMargin,

    // q294: two chapters in spine order, each through the HtmlText
    // whitespace-collapse (title word "ch" + paragraphs), a blank
    // line between chapters; the cover image and the linear="no"
    // notes item contribute text ONLY if a spine guard fails —
    // which would break the hash.
    "q294_epub_extract" ->
      """SELECT doc_id, CAST(2 AS INT) AS n_chapters,
        |  trim(regexp_replace('ch book ' || doc_id || ' ' || text,
        |    '[ \t\r\n]+', ' ', 'g')) || chr(10) || chr(10) ||
        |  'ch fin ' || chr(8212) || ' caf' || chr(233) || ' ' ||
        |  chr(9731) AS text
        |FROM documents WHERE doc_id < 50""".stripMargin,

    // q293: id % 4 routed pdf / html / docx / pptx; pdf, docx and
    // pptx replay the title-line + raw-text shape, html the entity
    // round-trip (whitespace-collapsed).
    "q293_crawl_branch4" ->
      """SELECT doc_id, 'pdf' AS kind,
        |  'doc ' || doc_id || chr(10) || text AS text
        |FROM documents WHERE doc_id < 80 AND doc_id % 4 = 0
        |UNION ALL
        |SELECT doc_id, 'html' AS kind,
        |  trim(regexp_replace(text, '[ \t\r\n]+', ' ', 'g')) AS text
        |FROM documents WHERE doc_id < 80 AND doc_id % 4 = 1
        |UNION ALL
        |SELECT doc_id, 'docx' AS kind,
        |  'doc ' || doc_id || chr(10) || text AS text
        |FROM documents WHERE doc_id < 80 AND doc_id % 4 = 2
        |UNION ALL
        |SELECT doc_id, 'pptx' AS kind,
        |  'doc ' || doc_id || chr(10) || text AS text
        |FROM documents WHERE doc_id < 80 AND doc_id % 4 = 3""".stripMargin,

    // q284: id % 3 routed pdf / html / docx; pdf and docx replay the
    // title-line + raw-text shape, html the entity round-trip
    // (whitespace-collapsed).
    "q284_crawl_docx_branch" ->
      """SELECT doc_id, 'pdf' AS kind,
        |  'doc ' || doc_id || chr(10) || text AS text
        |FROM documents WHERE doc_id < 60 AND doc_id % 3 = 0
        |UNION ALL
        |SELECT doc_id, 'html' AS kind,
        |  trim(regexp_replace(text, '[ \t\r\n]+', ' ', 'g')) AS text
        |FROM documents WHERE doc_id < 60 AND doc_id % 3 = 1
        |UNION ALL
        |SELECT doc_id, 'docx' AS kind,
        |  'doc ' || doc_id || chr(10) || text AS text
        |FROM documents WHERE doc_id < 60 AND doc_id % 3 = 2""".stripMargin,

    // q279: even ids went out as PDFs (title line + raw text),
    // odd ids as HTML (entity round-trip, whitespace-collapsed).
    "q279_crawl_pdf_branch" ->
      """SELECT doc_id, 'pdf' AS kind,
        |  'doc ' || doc_id || chr(10) || text AS text
        |FROM documents WHERE doc_id < 40 AND doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, 'html' AS kind,
        |  trim(regexp_replace(text, '[ \t\r\n]+', ' ', 'g')) AS text
        |FROM documents WHERE doc_id < 40 AND doc_id % 2 = 1""".stripMargin,

    // q291: both feed dialects replay from the (i, j) grid — same
    // links/timestamps whether the wire form was RSS or Atom.
    "q291_feed_sitemap" ->
      """WITH g AS (SELECT i, j FROM unnest(range(30)) AS t(i),
        |                          unnest(range(5)) AS u(j))
        |SELECT i AS id, 'url' AS kind,
        |  'http://h' || i || '.com/post/' || (i * 10 + j) AS loc,
        |  CASE WHEN j % 2 = 0
        |       THEN '2026-03-' || lpad(CAST(j + 1 AS VARCHAR), 2, '0')
        |  END AS lastmod,
        |  CAST(NULL AS VARCHAR) AS changefreq,
        |  CAST(NULL AS DOUBLE) AS priority
        |FROM g""".stripMargin,

    // q277: the frontier reconstructs entirely from the id formulas —
    // a.com ids 0-79 with query strings (ids 0-9's noisy re-listings
    // fold onto sm1's rows: min-(url,source) keeper) plus BARE ids
    // 120-139 from the gzipped child and 140-159 from the RSS feed
    // child (pubDate → lastmod, no priority), b.com ids 80-119;
    // canonical = utm/click-id params stripped + params sorted;
    // allowed replays the * group for a.com (graftbot unnamed there)
    // and the named group for b.com; crawl_delay rides along under
    // the same group selection (a.com * 1.5, b.com named 0.5 — the
    // * group's 99 must NOT leak through). The cycle, the unfetched
    // child, the relative loc and the linkless feed item contribute
    // rows ONLY if a guard fails — which would break the hash.
    "q277_crawl_frontier" ->
      """WITH ids AS (SELECT unnest(range(160)) AS id)
        |SELECT 'a.com' AS host,
        |  'http://a.com/sec' || (id % 7) || '/doc' || id ||
        |    (CASE WHEN id < 80 THEN '?b=2&a=1&utm_x=1' ELSE '' END) AS url,
        |  'http://a.com/sec' || (id % 7) || '/doc' || id ||
        |    (CASE WHEN id < 80 THEN '?a=1&b=2' ELSE '' END)
        |    AS canonical_url,
        |  CASE WHEN id < 40 THEN 'http://a.com/sm1.xml'
        |       WHEN id < 80 THEN 'http://a.com/sm2.xml'
        |       WHEN id < 140 THEN 'http://a.com/sm3.xml.gz'
        |       ELSE 'http://a.com/feed.xml' END AS source_sitemap,
        |  CASE WHEN id % 4 != 1
        |       THEN '2026-02-' || lpad(CAST(id % 28 + 1 AS VARCHAR), 2, '0')
        |  END AS lastmod,
        |  CASE WHEN id % 5 != 0 AND id < 140 THEN (id % 10) / 10.0
        |  END AS priority,
        |  (id % 7) != 3 AS allowed,
        |  1.5 AS crawl_delay
        |FROM ids WHERE id < 80 OR id >= 120
        |UNION ALL
        |SELECT 'b.com' AS host,
        |  'http://b.com/sec' || (id % 7) || '/doc' || id AS url,
        |  'http://b.com/sec' || (id % 7) || '/doc' || id AS canonical_url,
        |  'http://b.com/sm0.xml' AS source_sitemap,
        |  CASE WHEN id % 4 != 1
        |       THEN '2026-02-' || lpad(CAST(id % 28 + 1 AS VARCHAR), 2, '0')
        |  END AS lastmod,
        |  CASE WHEN id % 5 != 0 THEN (id % 10) / 10.0 END AS priority,
        |  (id % 7) != 1 AS allowed,
        |  0.5 AS crawl_delay
        |FROM ids WHERE id >= 80 AND id < 120""".stripMargin,

    // q276: the chain recomputed symbolically — extraction length
    // from the q268 round-trip expression, link density as the
    // 19-char anchor fraction, and the robots decision replayed as
    // per-host CASE logic (graftbot gets a.com's * group and b.com's
    // named group; c.com has no robots).
    "q276_crawl_pipeline" ->
      """WITH x AS (SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'a.com' WHEN 1 THEN 'b.com'
        |         ELSE 'c.com' END AS host,
        |    trim(regexp_replace('doc ' || doc_id || ' ' || text ||
        |      ' more link text here', '[ \t\r\n]+', ' ', 'g')) AS extracted
        |  FROM documents WHERE doc_id < 120)
        |SELECT doc_id, host,
        |  CASE host
        |    WHEN 'a.com' THEN CASE WHEN doc_id % 7 = 1
        |      THEN starts_with(CAST(doc_id AS VARCHAR), '4') ELSE TRUE END
        |    WHEN 'b.com' THEN doc_id % 7 != 5
        |    ELSE TRUE END AS allowed,
        |  CAST(len(extracted) AS INT) AS n_chars,
        |  round(19.0 / len(extracted), 4) AS link_density
        |FROM x""".stripMargin,

    // q275: expected strings assemble from chr() codepoints (9731 ☃,
    // 233 é, 8220/8221 curly quotes) so both engines compare
    // identical Unicode, never bytes.
    "q275_charset_decode" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'utf-8', 'doc1 ' || chr(9731)),
        |  (CAST(2 AS BIGINT), 'utf-16le', 'doc2 wide'),
        |  (CAST(3 AS BIGINT), 'iso-8859-1', 'doc3 caf' || chr(233)),
        |  (CAST(4 AS BIGINT), 'iso-8859-1',
        |   '<meta charset=''ISO-8859-1''>doc4 caf' || chr(233)),
        |  (CAST(5 AS BIGINT), 'utf-8', 'doc5 plain ' || chr(9731)),
        |  (CAST(6 AS BIGINT), 'windows-1252',
        |   'doc6 ' || chr(8220) || 'q' || chr(8221)))
        |t(doc_id, charset, text)""".stripMargin,

    // q273: every sitemap entry reconstructs from the id formulas —
    // field masks, the zero-padded lastmod, the frequency cycle and
    // the exact k/10 priority double all must agree.
    "q273_sitemap_parse" ->
      """WITH ids AS (SELECT unnest(range(200)) AS id)
        |SELECT CAST(id // 40 AS BIGINT) AS site_id, 'url' AS kind,
        |  'http://example.com/doc/' || id || '?a=1&b=2' AS loc,
        |  CASE WHEN id % 4 != 1
        |       THEN '2026-01-' || lpad(CAST(id % 28 + 1 AS VARCHAR), 2, '0')
        |  END AS lastmod,
        |  CASE WHEN id % 3 = 0 THEN 'daily'
        |       WHEN id % 3 = 1 THEN 'weekly' END AS changefreq,
        |  CASE WHEN id % 5 != 0 THEN (id % 10) / 10.0 END AS priority
        |FROM ids""".stripMargin,

    // q272: the oracle carries the SAME rule set with its regex
    // translations as literals (graftbot resolves a.com to the *
    // group, b.com to its named group; c.com has no robots) and
    // replays longest-match-allow-tie as max(2*len + allow) parity.
    "q272_robots_filter" ->
      """WITH urls AS (SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'a.com' WHEN 1 THEN 'b.com'
        |         ELSE 'c.com' END AS host,
        |    '/sec' || (doc_id % 7) || '/page' || (doc_id % 13) AS path
        |  FROM documents WHERE doc_id < 400),
        |rules AS (SELECT * FROM (VALUES
        |    ('a.com', 0, '^/sec1.*', 5),
        |    ('a.com', 1, '^/sec1/page1.*', 12),
        |    ('a.com', 0, '^/sec2/.*3$', 9),
        |    ('b.com', 0, '^/sec5.*', 5))
        |  t(host, allow, regex, len)),
        |hits AS (SELECT u.doc_id, r.len*2 + r.allow AS sc
        |  FROM urls u JOIN rules r ON u.host = r.host
        |  WHERE regexp_matches(u.path, r.regex)),
        |best AS (SELECT doc_id, MAX(sc) AS sc FROM hits GROUP BY doc_id)
        |SELECT u.doc_id, u.host, u.path,
        |  COALESCE(b.sc % 2 = 1, TRUE) AS allowed
        |FROM urls u LEFT JOIN best b ON u.doc_id = b.doc_id""".stripMargin,

    // q267: every WARC response body reconstructs byte-for-byte from
    // the documents table (entity encoding replayed with the same
    // &-first replace order) — a record-walk, Content-Length, gzip-
    // member or HTTP-split bug breaks the hash. payload_digest is the
    // archive's own WARC-Payload-Digest, replayed as DuckDB md5 over
    // the SAME reconstructed page bytes.
    "q267_warc_parse" ->
      """WITH x AS (SELECT doc_id,
        |    '<html><head><title>doc ' || doc_id ||
        |    '</title><script>var x=1;</script></head><body><p>' ||
        |    replace(replace(replace(text, '&', '&amp;'),
        |            '<', '&lt;'), '>', '&gt;') ||
        |    '</p><div><a href="/x">more link text here</a></div>' ||
        |    '<!-- footer --></body></html>' AS body
        |  FROM documents WHERE doc_id < 60)
        |SELECT 'http://example.com/doc/' || doc_id AS target_uri,
        |  CAST(200 AS INT) AS http_status,
        |  'text/html; charset=utf-8' AS content_type, body,
        |  'md5:' || md5(body) AS payload_digest
        |FROM x""".stripMargin,

    // q285: even ids are live responses, odd ids revisit records of
    // the (id-1) page — warc_type, the md5 payload digest over the
    // ORIGINAL page bytes, and the empty revisit body all replay.
    "q285_warc_revisit" ->
      """WITH x AS (SELECT doc_id,
        |    '<html><head><title>doc ' || doc_id ||
        |    '</title></head><body><p>' ||
        |    replace(replace(replace(text, '&', '&amp;'),
        |            '<', '&lt;'), '>', '&gt;') ||
        |    '</p></body></html>' AS body
        |  FROM documents WHERE doc_id < 40)
        |SELECT doc_id, 'response' AS warc_type,
        |  'md5:' || md5(body) AS payload_digest,
        |  CAST(len(body) AS INT) AS n_body_chars
        |FROM x WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT o.doc_id + 1 AS doc_id, 'revisit' AS warc_type,
        |  'md5:' || md5(o.body) AS payload_digest,
        |  CAST(0 AS INT) AS n_body_chars
        |FROM x o WHERE o.doc_id % 2 = 0 AND o.doc_id + 1 < 40""".stripMargin,

    // q290: each body must round-trip byte-exact through its wire
    // encoding (identity/gzip/deflate/chunked/chunked+gzip by
    // doc_id % 5) — any inflate, de-chunk or ordering bug breaks
    // the hash on 4/5 of the rows.
    "q290_warc_wire_decode" ->
      """SELECT doc_id,
        |  CASE doc_id % 5 WHEN 0 THEN 'identity' WHEN 1 THEN 'gzip'
        |       WHEN 2 THEN 'deflate' WHEN 3 THEN 'chunked'
        |       ELSE 'chunked+gzip' END AS wire,
        |  text AS body
        |FROM documents WHERE doc_id < 60""".stripMargin,

    // q296: odd ids declared br (unrecoverable → failed, null body,
    // raw bytes retained = the UTF-8 byte length of the text); even
    // ids decode normally. octet_length on the oracle side matches
    // Spark's length() over the binary column.
    "q296_warc_decode_failure" ->
      """SELECT doc_id,
        |  (doc_id % 2 = 1) AS failed,
        |  CASE WHEN doc_id % 2 = 0 THEN text END AS body,
        |  CASE WHEN doc_id % 2 = 1
        |       THEN CAST(octet_length(CAST(text AS BLOB)) AS INT)
        |  END AS n_raw_bytes
        |FROM documents WHERE doc_id < 40""".stripMargin,

    // q268: the extraction must return the ORIGINAL text (the
    // entity round-trip), prefixed by the title word, followed by
    // the non-core-entity paragraph (&eacute; &mdash; &hellip;
    // decode via the HTML 4 named tables — chr() replays them) and
    // the anchor chrome, whitespace-collapsed; link density is the
    // 19-char anchor over the extracted length.
    "q268_html_extract" ->
      """WITH x AS (SELECT doc_id,
        |    trim(regexp_replace('doc ' || doc_id || ' ' || text ||
        |      ' caf' || chr(233) || ' ' || chr(8212) || ' fin' ||
        |      chr(8230) ||
        |      ' more link text here', '[ \t\r\n]+', ' ', 'g')) AS extracted
        |  FROM documents WHERE doc_id < 60)
        |SELECT doc_id, extracted,
        |  round(19.0 / len(extracted), 4) AS link_density
        |FROM x""".stripMargin,

    // q265: the full DSIR fit replayed from first principles — gram
    // extraction (unigrams + bigrams), the 14-hex-char md5 bucket
    // hash, add-one smoothing over 256 bins, DECIMAL(30,6) per-term
    // quantization, and the deterministic (score DESC, id ASC) top-50.
    "q265_dsir" ->
      s"""WITH tws AS (SELECT doc_id, $toks AS ws FROM documents
         |  WHERE doc_id < 40),
         |rws AS (SELECT doc_id, $toks AS ws FROM documents
         |  WHERE doc_id >= 40 AND doc_id < 340),
         |tg AS (SELECT unnest(ws) AS g FROM tws
         |  UNION ALL
         |  SELECT ws[i + 1] || ' ' || ws[i + 2] AS g
         |  FROM (SELECT ws, unnest(range(greatest(len(ws) - 1, 0))) AS i
         |        FROM tws)),
         |rg AS (SELECT doc_id, unnest(ws) AS g FROM rws
         |  UNION ALL
         |  SELECT doc_id, ws[i + 1] || ' ' || ws[i + 2] AS g
         |  FROM (SELECT doc_id, ws,
         |        unnest(range(greatest(len(ws) - 1, 0))) AS i FROM rws)),
         |tbk AS (SELECT CAST(('0x' || substr(md5(g), 1, 14)) AS UBIGINT)
         |    % 256 AS bucket FROM tg),
         |rbk AS (SELECT doc_id,
         |    CAST(('0x' || substr(md5(g), 1, 14)) AS UBIGINT) % 256 AS bucket
         |  FROM rg),
         |tc AS (SELECT bucket, COUNT(*) AS tc FROM tbk GROUP BY bucket),
         |rc AS (SELECT bucket, COUNT(*) AS rc FROM rbk GROUP BY bucket),
         |tot AS (SELECT (SELECT COUNT(*) FROM tbk) AS tt,
         |               (SELECT COUNT(*) FROM rbk) AS rt),
         |model AS (SELECT COALESCE(tc.bucket, rc.bucket) AS bucket,
         |    ln((COALESCE(tc, 0) + 1.0) / (tt + 256))
         |      - ln((COALESCE(rc, 0) + 1.0) / (rt + 256)) AS lr
         |  FROM tc FULL OUTER JOIN rc ON tc.bucket = rc.bucket, tot),
         |db AS (SELECT doc_id, bucket, COUNT(*) AS cnt
         |  FROM rbk GROUP BY doc_id, bucket),
         |sc AS (SELECT doc_id,
         |    ROUND(CAST(SUM(CAST(cnt * lr AS DECIMAL(30,6))) AS DOUBLE), 4)
         |      AS score
         |  FROM db JOIN model USING (bucket) GROUP BY doc_id)
         |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id)
         |    AS BIGINT) AS rank,
         |  CAST(doc_id AS BIGINT) AS doc_id, score
         |FROM sc ORDER BY score DESC, doc_id LIMIT 50""".stripMargin,

    "q91_kgram_dedup" ->
      s"""WITH t AS (SELECT doc_id, $toks AS ws FROM documents),
         |g AS (SELECT doc_id,
         |  md5(array_to_string(list_slice(ws, i + 1, i + 8), ' ')) AS gh
         |  FROM (SELECT doc_id, ws,
         |        unnest(range(0, greatest(len(ws) - 7, 0))) AS i FROM t)),
         |dup AS (SELECT gh, 1 AS isdup FROM (
         |  SELECT gh, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY gh)
         |  WHERE nd >= 2)
         |SELECT g.doc_id, COUNT(*) AS n_grams,
         |  COUNT(d.isdup) AS n_dup_grams,
         |  ROUND(CAST(COUNT(d.isdup) AS DOUBLE) / COUNT(*), 4) AS dup_frac
         |FROM g LEFT JOIN dup d USING (gh)
         |GROUP BY g.doc_id""".stripMargin,

    "q98_byte_entropy" ->
      """WITH t AS (SELECT doc_id, hex(text) AS hx FROM documents
        |  WHERE doc_id < 300 AND len(text) > 0),
        |b AS (SELECT doc_id, substr(hx, i * 2 - 1, 2) AS b
        |  FROM (SELECT doc_id, hx,
        |        unnest(range(1, len(hx) // 2 + 1)) AS i FROM t)),
        |c AS (SELECT doc_id, b, COUNT(*) AS c FROM b GROUP BY doc_id, b)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bytes,
        |  ROUND(ln(CAST(SUM(c) AS DOUBLE))
        |    - CAST(SUM(CAST(c * ln(c) AS DECIMAL(30,6))) AS DOUBLE)
        |      / SUM(c), 4) AS byte_entropy
        |FROM c GROUP BY doc_id""".stripMargin,

    "q96_domain_outliers" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, source
        |  FROM embeddings JOIN documents ON vec_id = doc_id),
        |ex AS (SELECT source, i AS dim,
        |  CAST(round(v[i + 1] * 1e6) AS BIGINT) AS xq
        |  FROM e CROSS JOIN range(64) t(i)),
        |m AS (SELECT source, dim,
        |  CAST(SUM(xq) AS DOUBLE) / (1e6 * COUNT(*)) AS cv
        |  FROM ex GROUP BY source, dim),
        |c AS (SELECT source, list(cv ORDER BY dim) AS cvec FROM m GROUP BY source),
        |sc AS (SELECT e.vec_id, e.source,
        |  list_dot_product(v, cvec)
        |    / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cvec, cvec))) AS cos
        |  FROM e JOIN c USING (source)),
        |r AS (SELECT source, vec_id, cos,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY round(cos, 6) ASC, vec_id) AS rk FROM sc)
        |SELECT source, vec_id, ROUND(cos, 4) AS cos_centroid, rk
        |FROM r WHERE rk <= 10""".stripMargin,

    "q95_bigram_nll" ->
      s"""WITH t AS (SELECT doc_id, $toks AS ws FROM documents),
         |bg AS (SELECT doc_id, ws[i + 1] AS w1,
         |  array_to_string(list_slice(ws, i + 1, i + 2), ' ') AS g
         |  FROM (SELECT doc_id, ws,
         |        unnest(range(greatest(len(ws) - 1, 0))) AS i FROM t)),
         |c2 AS (SELECT g, COUNT(*) AS c2 FROM bg GROUP BY g),
         |un AS (SELECT unnest(ws) AS w1 FROM t),
         |c1 AS (SELECT w1, COUNT(*) AS c1 FROM un GROUP BY w1),
         |v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM c1)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  ROUND(CAST(SUM(CAST(-ln((c2 + 0.5) / (c1 + 0.5 * v))
         |    AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*), 4) AS nll2
         |FROM bg JOIN c2 USING (g) JOIN c1 USING (w1) CROSS JOIN v
         |GROUP BY doc_id""".stripMargin,

    "q94_winnowing" ->
      s"""WITH t AS (SELECT doc_id, $toks AS ws FROM documents),
         |g AS (SELECT doc_id, list_transform(range(greatest(len(ws) - 3, 0)),
         |    i -> CAST(CONCAT('0x', substr(md5(
         |      array_to_string(list_slice(ws, i + 1, i + 4), ' ')), 1, 14))
         |      AS BIGINT)) AS hs
         |  FROM t),
         |f AS (SELECT doc_id, len(hs) AS n_grams,
         |  CASE WHEN len(hs) >= 4 THEN
         |         list_distinct(list_transform(range(len(hs) - 3),
         |           i -> list_min(list_slice(hs, i + 1, i + 4))))
         |       WHEN len(hs) > 0 THEN [list_min(hs)]
         |       ELSE [] END AS fp
         |  FROM g)
         |SELECT doc_id, n_grams, len(fp) AS n_fp,
         |  COALESCE(list_aggregate(fp, 'bit_xor'), 0) AS fp_xor
         |FROM f""".stripMargin,

    "q93_ngram_jaccard" ->
      s"""WITH d AS (SELECT doc_id, list_distinct(list_transform(
         |    range(len($toks) - 2),
         |    i -> array_to_string(list_slice($toks, i + 1, i + 3), ' '))) AS g
         |  FROM documents WHERE doc_id < 500),
         |e AS (SELECT doc_id, unnest(g) AS t FROM d),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
         |  FROM e a JOIN e b ON a.t = b.t AND a.doc_id < b.doc_id
         |    AND b.doc_id <= a.doc_id + 25
         |  GROUP BY 1, 2),
         |cnt AS (SELECT doc_id, len(g) AS n FROM d)
         |SELECT id_a, id_b,
         |  ROUND(CAST(ni AS DOUBLE)/(ca.n + cb.n - ni), 4) AS jaccard
         |FROM inter JOIN cnt ca ON id_a = ca.doc_id
         |  JOIN cnt cb ON id_b = cb.doc_id
         |WHERE CAST(ni AS DOUBLE)/(ca.n + cb.n - ni) >= 0.02""".stripMargin,

    "q23_exact_dedup" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper_id,
        |COUNT(*) AS n_dups FROM documents GROUP BY 1""".stripMargin,

    "q24_text_stats" ->
      s"""SELECT lang, COUNT(*) AS n_docs,
         |CAST(SUM(len($toks)) AS BIGINT) AS sum_tokens,
         |ROUND(SUM(CAST(len(list_filter($toks, t -> t IN ('the','a','of'))) AS DOUBLE)
         |  / GREATEST(len($toks), 1)) / COUNT(*), 4) AS avg_stopword_ratio
         |FROM documents GROUP BY lang""".stripMargin,

    "q25_langid" ->
      s"""WITH scored AS (SELECT lang,
         |  len(list_filter($toks, t -> t IN ('the','a','of','and'))) AS en_n,
         |  len(list_filter($toks, t -> t IN ('der','die','das','und'))) AS de_n,
         |  len(list_filter($toks, t -> t IN ('le','la','et','les'))) AS fr_n
         |  FROM documents)
         |SELECT lang,
         |  CASE WHEN en_n + de_n + fr_n = 0 THEN 'und'
         |       WHEN en_n >= de_n AND en_n >= fr_n THEN 'en'
         |       WHEN de_n >= fr_n THEN 'de' ELSE 'fr' END AS lang_pred,
         |  COUNT(*) AS n
         |FROM scored GROUP BY 1, 2""".stripMargin,

    "q26_fingerprint" ->
      """SELECT COUNT(*) AS n_docs,
        |COUNT(DISTINCT substr(md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))), 1, 16)) AS n_fp
        |FROM documents""".stripMargin,

    "q27_jaccard_pairs" ->
      s"""WITH docs AS (SELECT doc_id, lang, text FROM documents WHERE doc_id < 500),
         |tok AS (SELECT DISTINCT doc_id, lang, unnest($toks) AS t FROM docs),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
         |  FROM tok a JOIN tok b ON a.t = b.t AND a.lang = b.lang
         |   AND a.doc_id < b.doc_id AND b.doc_id <= a.doc_id + 25
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  ROUND(CAST(ni AS DOUBLE)/(ca.n + cb.n - ni), 4) AS jaccard
         |FROM inter JOIN cnt ca ON id_a = ca.doc_id JOIN cnt cb ON id_b = cb.doc_id
         |WHERE CAST(ni AS DOUBLE)/(ca.n + cb.n - ni) >= 0.5""".stripMargin,

    "q30_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |scored AS (SELECT qid, cid,
        |  list_dot_product(qv, cv)
        |    / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
        |  FROM q, c WHERE qid <> cid)
        |SELECT qid, cid, ROUND(cos, 4) AS cos_sim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
        |  FROM scored)
        |WHERE rn <= 10""".stripMargin,

    "q37_cosine_native" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |scored AS (SELECT qid, cid,
        |  list_dot_product(qv, cv)
        |    / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
        |  FROM q, c WHERE qid <> cid)
        |SELECT qid, cid, ROUND(cos, 4) AS cos_sim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
        |  FROM scored)
        |WHERE rn <= 10""".stripMargin,

    "q31_embed_norms" ->
      """SELECT label, COUNT(*) AS n,
        |ROUND(SUM(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |  CAST(embedding AS DOUBLE[])))) / COUNT(*), 4) AS avg_norm
        |FROM embeddings GROUP BY label""".stripMargin,

    "q49_redact" ->
      """WITH p AS (SELECT doc_id,
        |  CASE WHEN doc_id%3=0 THEN 'mail bob' || CAST(doc_id AS VARCHAR) || '@example.com or 10.0.0.1 ok'
        |       WHEN doc_id%3=1 THEN 'call 555-123-4567 now'
        |       ELSE 'clean text here' END AS pii
        |  FROM documents WHERE doc_id < 300)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(pii,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted,
        |  len(regexp_extract_all(pii, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |  + len(regexp_extract_all(pii, '\d{3}-\d{3}-\d{4}'))
        |  + len(regexp_extract_all(pii, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_pii
        |FROM p""".stripMargin,

    "q47_chunking" ->
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents WHERE doc_id < 200),
         |s AS (SELECT doc_id, unnest(generate_series(0, len(tk)-1, 10)) AS chunk_start, tk FROM t)
         |SELECT doc_id, chunk_start,
         |  array_to_string(list_slice(tk, chunk_start+1, chunk_start+20), ' ') AS chunk_text,
         |  len(list_slice(tk, chunk_start+1, chunk_start+20)) AS n_tokens
         |FROM s""".stripMargin,

    "q48_quantize" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |m AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS mx FROM v)
        |SELECT vec_id, CAST(list_sum(list_transform(e,
        |  x -> CAST(round(x * 127.0 / mx, 0) AS BIGINT))) AS BIGINT) AS sum_q
        |FROM m""".stripMargin,

    "q33_binary_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |md5(text) AS content_md5 FROM documents WHERE doc_id < 100""".stripMargin,

    // The known dimensions of the staged fixture bytes (q22's
    // VALUES-table pattern): the Spark side must parse exactly these
    // out of the raw headers.
    "q88_image_meta" ->
      """SELECT CAST(img_id AS BIGINT) AS img_id, format,
        |  CAST(width AS INT) AS width, CAST(height AS INT) AS height
        |FROM (VALUES
        |  (1, 'png', 640, 480),
        |  (2, 'png', 1, 1),
        |  (3, 'gif', 320, 200),
        |  (4, 'gif', 12345, 6789),
        |  (5, 'jpeg', 1024, 768),
        |  (6, 'jpeg', 800, 600),
        |  (7, 'png', NULL, NULL),
        |  (8, 'unknown', NULL, NULL),
        |  (9, 'webp', 1920, 1080),
        |  (10, 'webp', 333, 77),
        |  (11, 'webp', 16384, 8192),
        |  (12, 'avif', 1152, 768)
        |) AS t(img_id, format, width, height)""".stripMargin,

    "q92_audio_meta" ->
      """SELECT CAST(audio_id AS BIGINT) AS audio_id, format,
        |  CAST(sample_rate AS INT) AS sample_rate,
        |  CAST(channels AS INT) AS channels,
        |  CAST(bits_per_sample AS INT) AS bits_per_sample,
        |  CAST(n_frames AS BIGINT) AS n_frames,
        |  CAST(ROUND(n_frames * 1000.0 / sample_rate, 0) AS BIGINT) AS duration_ms
        |FROM (VALUES
        |  (1, 'wav', 44100, 2, 16, 1000),
        |  (2, 'wav', 16000, 1, 8, 12345),
        |  (3, 'wav', 8000, 1, 16, 0),
        |  (4, 'wav', NULL, NULL, NULL, NULL),
        |  (5, 'flac', 44100, 2, 16, 88200),
        |  (6, 'flac', 96000, 8, 24, 123456789),
        |  (7, 'unknown', NULL, NULL, NULL, NULL),
        |  (8, 'mp3', 44100, 2, NULL, NULL),
        |  (9, 'mp3', 16000, 1, NULL, NULL),
        |  (10, 'mp3', NULL, NULL, NULL, NULL),
        |  (11, 'aiff', 22050, 2, 16, 25),
        |  (12, 'aiff', 48000, 1, 16, 12),
        |  (13, 'au', 8000, 1, 16, 30),
        |  (14, 'au', 44100, 2, 8, 25),
        |  (15, 'ogg-vorbis', 44100, 2, NULL, 88200),
        |  (16, 'ogg-vorbis', 8000, 1, NULL, 4000),
        |  (17, 'ogg-opus', 48000, 2, NULL, 96000),
        |  (18, 'ogg-vorbis', 32000, 2, NULL, NULL)
        |) AS t(audio_id, format, sample_rate, channels, bits_per_sample, n_frames)""".stripMargin,

    // The q47-verified chunk kernel with stride == size; duplication is
    // judged on chunk TEXT (the md5 on the Spark side is digest
    // compression, not semantics). string_agg over an all-dup doc is
    // NULL in DuckDB where Spark's concat_ws gives '' — COALESCE.
    "q117_chunk_dedup" ->
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |s AS (SELECT doc_id, unnest(generate_series(0, len(tk)-1, 10)) AS chunk_start, tk FROM t),
         |c AS (SELECT doc_id, chunk_start,
         |  array_to_string(list_slice(tk, chunk_start+1, chunk_start+10), ' ') AS chunk_text FROM s),
         |n AS (SELECT chunk_text, COUNT(DISTINCT doc_id) AS n_docs FROM c GROUP BY chunk_text),
         |m AS (SELECT c.doc_id, c.chunk_start, c.chunk_text, n.n_docs >= 2 AS dup
         |  FROM c JOIN n USING (chunk_text))
         |SELECT doc_id, COUNT(*) AS n_chunks,
         |  CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
         |  ROUND(SUM(CASE WHEN dup THEN 1.0 ELSE 0.0 END) / CAST(COUNT(*) AS DOUBLE), 4) AS dup_frac,
         |  COALESCE(string_agg(CASE WHEN NOT dup THEN chunk_text END, ' ' ORDER BY chunk_start), '') AS clean_text
         |FROM m GROUP BY doc_id""".stripMargin,

    "q120_feature_hash" ->
      s"""WITH t AS (SELECT doc_id, unnest($toks) AS tok
         |  FROM documents WHERE doc_id < 50)
         |SELECT doc_id,
         |  CAST(CONCAT('0x', substr(md5(tok), 1, 14)) AS BIGINT) % 64 AS bucket,
         |  COUNT(*) AS n
         |FROM t GROUP BY 1, 2""".stripMargin,

    // Mirrors Sampling.assignSplit's cumulative-weight CASE over the
    // shared LCG fraction; gs_total == g_total proves no user landed
    // in two splits (structural, but the audit VERIFIES it).
    "q121_split_audit" ->
      s"""WITH a AS (SELECT user_id,
         |    CASE WHEN frac < 0.8 THEN 'train'
         |         WHEN frac < 0.9 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT user_id,
         |          CAST((${lcgSql("user_id")})>>16 AS DOUBLE)/32768.0 AS frac
         |        FROM events)),
         |t AS (SELECT COUNT(DISTINCT user_id) AS g_total,
         |    (SELECT COUNT(*) FROM (SELECT DISTINCT user_id, split FROM a)) AS gs_total,
         |    COUNT(*) AS r_total FROM a)
         |SELECT split, COUNT(DISTINCT user_id) AS n_groups, COUNT(*) AS n_rows,
         |  ROUND(CAST(COUNT(*) AS DOUBLE) / (SELECT CAST(r_total AS DOUBLE) FROM t), 4) AS row_frac,
         |  (SELECT gs_total = g_total FROM t) AS leak_free
         |FROM a GROUP BY split""".stripMargin,

    // Bigram strings built exactly like Spark's ngramsOfTokens
    // (space-joined adjacent tokens); counts are exact longs so the
    // PMI double is the same deterministic function in both engines.
    "q122_pmi" ->
      s"""WITH t AS (SELECT $toks AS tk FROM documents),
         |uni AS (SELECT unnest(tk) AS w FROM t),
         |uc AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
         |nt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nt FROM uni),
         |nb AS (SELECT CAST(SUM(CASE WHEN len(tk) > 1 THEN len(tk)-1 ELSE 0 END) AS DOUBLE) AS nb FROM t),
         |bi AS (SELECT unnest(list_transform(generate_series(1, len(tk)-1),
         |    i -> tk[i] || ' ' || tk[i+1])) AS g FROM t WHERE len(tk) >= 2),
         |bc AS (SELECT g, COUNT(*) AS cxy FROM bi GROUP BY g HAVING COUNT(*) >= 5),
         |wc AS (SELECT split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2, cxy FROM bc)
         |SELECT w1, w2, cxy,
         |  ROUND(ln((CAST(cxy AS DOUBLE) / nb) /
         |           ((CAST(c1.c AS DOUBLE) / nt) * (CAST(c2.c AS DOUBLE) / nt))), 4) AS pmi
         |FROM wc JOIN uc c1 ON wc.w1 = c1.w JOIN uc c2 ON wc.w2 = c2.w
         |CROSS JOIN nt CROSS JOIN nb
         |ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 20""".stripMargin,

    // The q27 kernel with the division flipped to |A∩B|/|A| (and /|B|):
    // containment, not Jaccard — filter on the UNROUNDED ratios exactly
    // as the Spark side does.
    "q123_containment" ->
      s"""WITH docs AS (SELECT doc_id, lang, text FROM documents WHERE doc_id < 500),
         |tok AS (SELECT DISTINCT doc_id, lang, unnest($toks) AS t FROM docs),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
         |  FROM tok a JOIN tok b ON a.t = b.t AND a.lang = b.lang
         |   AND a.doc_id < b.doc_id AND b.doc_id <= a.doc_id + 25
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  ROUND(CAST(ni AS DOUBLE) / CAST(ca.n AS DOUBLE), 4) AS cont_a,
         |  ROUND(CAST(ni AS DOUBLE) / CAST(cb.n AS DOUBLE), 4) AS cont_b
         |FROM inter JOIN cnt ca ON id_a = ca.doc_id JOIN cnt cb ON id_b = cb.doc_id
         |WHERE CAST(ni AS DOUBLE) / CAST(ca.n AS DOUBLE) >= 0.9
         |   OR CAST(ni AS DOUBLE) / CAST(cb.n AS DOUBLE) >= 0.9""".stripMargin,

    // Both rankings replayed with the q30 kernel; the dequantized
    // vector arithmetic mirrors q48's verified quantization exactly.
    "q141_quant_recall" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |fq AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
        |fs AS (SELECT qid, cid FROM (
        |  SELECT qid, e.vec_id AS cid,
        |    row_number() OVER (PARTITION BY qid ORDER BY
        |      list_dot_product(qv, v)
        |        / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v)))
        |      DESC, e.vec_id) AS rn
        |  FROM fq, e WHERE qid <> e.vec_id) WHERE rn <= 10),
        |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
        |dq AS (SELECT vec_id,
        |    list_transform(v, x -> CAST(round(x * 127.0 / mx, 0) AS BIGINT) * mx / 127.0) AS v
        |  FROM m WHERE mx > 0),
        |qq AS (SELECT vec_id AS qid, v AS qv FROM dq WHERE vec_id < 10),
        |qs AS (SELECT qid, cid FROM (
        |  SELECT qid, dq.vec_id AS cid,
        |    row_number() OVER (PARTITION BY qid ORDER BY
        |      list_dot_product(qv, v)
        |        / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v)))
        |      DESC, dq.vec_id) AS rn
        |  FROM qq, dq WHERE qid <> dq.vec_id) WHERE rn <= 10),
        |ov AS (SELECT f.qid, COUNT(*) AS n_overlap
        |  FROM fs f JOIN qs q ON f.qid = q.qid AND f.cid = q.cid GROUP BY f.qid)
        |SELECT d.qid, COALESCE(n_overlap, 0) AS n_overlap,
        |  ROUND(CAST(COALESCE(n_overlap, 0) AS DOUBLE) / 10.0, 4) AS recall_at_10
        |FROM (SELECT DISTINCT qid FROM fs) d LEFT JOIN ov USING (qid)""".stripMargin,

    // Triangle {a<b<c} = canonical edges (a,b),(b,c),(a,c) over the
    // q110-verified kNN graph; per-node participation counts.
    "q127_knn_triangles" ->
      s"""WITH knn AS ($sparseTopkSql),
         |edges AS (SELECT DISTINCT LEAST(id_a, id_b) AS s, GREATEST(id_a, id_b) AS d
         |  FROM knn),
         |tri AS (SELECT e1.s AS a, e1.d AS b, e2.d AS c
         |  FROM edges e1 JOIN edges e2 ON e1.d = e2.s
         |  JOIN edges e3 ON e3.s = e1.s AND e3.d = e2.d)
         |SELECT node, COUNT(*) AS n_triangles FROM (
         |  SELECT a AS node FROM tri
         |  UNION ALL SELECT b FROM tri
         |  UNION ALL SELECT c FROM tri)
         |GROUP BY node""".stripMargin,

    // Same statistic as q127 — triangle membership is orientation-
    // independent, so the canonical-enumeration SQL is the oracle for
    // the degree-oriented Spark plan too.
    "q142_triangles_oriented" ->
      s"""WITH knn AS ($sparseTopkSql),
         |edges AS (SELECT DISTINCT LEAST(id_a, id_b) AS s, GREATEST(id_a, id_b) AS d
         |  FROM knn),
         |tri AS (SELECT e1.s AS a, e1.d AS b, e2.d AS c
         |  FROM edges e1 JOIN edges e2 ON e1.d = e2.s
         |  JOIN edges e3 ON e3.s = e1.s AND e3.d = e2.d)
         |SELECT node, COUNT(*) AS n_triangles FROM (
         |  SELECT a AS node FROM tri
         |  UNION ALL SELECT b FROM tri
         |  UNION ALL SELECT c FROM tri)
         |GROUP BY node""".stripMargin
  )
}
