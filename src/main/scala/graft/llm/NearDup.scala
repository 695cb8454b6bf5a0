package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Pin._

/** Deduplication operators for training-data pipelines.
  *
  * Exact: hash-groupBy (one shuffle on the content hash — at 100 TB the
  * hash is 16 bytes/row vs the full text, so the shuffle is tiny).
  *
  * Near-dup, the scale path: MinHash + LSH banding. Signatures are
  * computed per-row with higher-order array expressions (no shuffle,
  * no UDF); banding turns the O(n²) pair problem into a groupBy on
  * (band, bandHash) — only docs sharing a band bucket are paired, then
  * exact Jaccard verifies candidates. SimHash gives the complementary
  * Hamming-space variant. All pair generation is bucket-local, so the
  * worst case is bounded by bucket skew (salt or cap giant buckets at
  * scale — see `lshCandidatePairs(maxBucket)`).
  */
object NearDup {

  /** Exact dedup groups: one row per distinct content hash with the
    * surviving (minimum) id and the duplicate count. */
  def exactDupGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_dups"))

  /** Distinct whitespace tokens per document. */
  def tokenSet(c: Column): Column = array_distinct(TextStats.tokens(c))

  /** Word n-gram shingles (distinct). */
  def shingles(c: Column, n: Int): Column = {
    val toks = TextStats.tokens(c)
    array_distinct(
      transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))
  }

  /** xxhash64 each shingle string ONCE; the per-permutation work then
    * operates on longs. Must live in its own projection (see
    * lshCandidatePairs) so the string hashing isn't re-inlined into
    * every permutation lambda. */
  def hashedShingles(shingleCol: Column): Column =
    transform(shingleCol, s => xxhash64(s))

  /** MinHash signature: array of `numPerm` permutation minima over the
    * hashed shingles — the fused native expression (one pass, long[]
    * accumulator, whole-stage codegen; see
    * graft.plans.MinHashSignature). Permutation j of hash h is
    * XXH64(h, seed=j): permute 8-byte longs, never re-hash the shingle
    * STRING per permutation, and ANSI-safe (a mul-add wrap would throw
    * under ANSI mode). */
  def minhashSignature(spark: org.apache.spark.sql.SparkSession,
                       hashedCol: Column, numPerm: Int): Column =
    graft.plans.MinHashNative.minhashNative(spark, hashedCol, numPerm)

  /** Per-band LSH bucket hashes over a signature column: band b hashes
    * its own `rowsPerBand` slice of the minima (the signature is a
    * materialized column, computed once per row — not a shared subtree
    * Catalyst would re-evaluate per band). */
  def bandHashes(sigCol: Column, numBands: Int, rowsPerBand: Int): Column =
    array((0 until numBands).map { b =>
      struct(lit(b).as("band"),
             xxhash64(slice(sigCol, b * rowsPerBand + 1, rowsPerBand), lit(b))
               .as("band_hash"))
    }: _*)

  /** Candidate pairs from LSH banding: docs sharing any (band, bandHash)
    * bucket. `hashedCol` is an already-hashed shingle column (longs —
    * see [[hashedShingles]]; hash strings once, upstream, in their own
    * projection). `maxBucket` caps pathological buckets (skew guard at
    * scale: a bucket of m docs yields m² pairs). Returns (id_a, id_b)
    * distinct with id_a < id_b. */
  def lshCandidatePairs(df: DataFrame, idCol: String, hashedCol: Column,
                        numBands: Int = 16, rowsPerBand: Int = 4,
                        maxBucket: Int = 1000): DataFrame =
    pairsFromBanded(bandedBuckets(df, idCol, hashedCol, numBands, rowsPerBand),
                    maxBucket)

  /** LSH bucket rows (doc, band, band_hash) of every document — the
    * unit both the batch pair-join and the streaming history filter
    * operate on (a stored bucket row is how an accepted doc is
    * "findable" by future near-duplicates). */
  def bandedBuckets(df: DataFrame, idCol: String, hashedCol: Column,
                    numBands: Int = 16, rowsPerBand: Int = 4): DataFrame =
    df.select(col(idCol).as("doc"), hashedCol.as("hs"))
      .select(col("doc"),
              minhashSignature(df.sparkSession, col("hs"),
                               numBands * rowsPerBand).as("sig"))
      .select(col("doc"),
              explode(bandHashes(col("sig"), numBands, rowsPerBand)).as("b"))
      .select(col("doc"), col("b.band"), col("b.band_hash"))

  /** Bucket-local pairing shared by the XXH64 and portable pipelines
    * (and the streaming in-batch step): cap pathological buckets,
    * self-join within (band, band_hash), distinct (id_a < id_b)
    * pairs.
    *
    * NOTE r16: a collect_list-per-bucket + nested-transform pair
    * generator (one aggregation, no self-join) was interleaved-A/B'd
    * and REVERTED: q28 0.87× consistently — higher-order functions
    * evaluate INTERPRETED, so the per-bucket pair loop lost more than
    * the elided join saved, while the window + codegen'd self-join
    * stays in whole-stage codegen end to end. */
  private[graft] def pairsFromBanded(banded: DataFrame, maxBucket: Int): DataFrame = {
    val pruned = banded
      .withColumn("__bn", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "band_hash")))
      .filter(col("__bn") <= maxBucket).drop("__bn")
    pruned.as("x").join(pruned.as("y"),
        col("x.band") === col("y.band") &&
        col("x.band_hash") === col("y.band_hash") &&
        col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("id_a"), col("y.doc").as("id_b"))
      .distinct()
  }

  /** Exact Jaccard similarity between two token-set columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** [[jaccard]] for SORTED distinct arrays — the verify-stage hot
    * path. One native merge pass, zero allocation (see
    * [[graft.plans.SortedJaccard]]; bit-identical values, the spec
    * cross-checks both forms). Callers sort ONCE per document, not
    * per pair. */
  def sortedJaccard(spark: org.apache.spark.sql.SparkSession,
                    a: Column, b: Column): Column =
    graft.plans.SortedJaccardNative.sortedJaccard(spark, a, b)

  /** Full MinHash-LSH near-dup pipeline: candidates from banding, then
    * exact-Jaccard verification at `threshold`. Shingle strings are
    * hashed ONCE; both the banding minima and the Jaccard verification
    * run over the 8-byte hashes (set semantics are identical up to
    * 64-bit collisions on distinct shingles — vanishing — and
    * array_intersect on longs is far cheaper than on shingle text). */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleSize: Int = 3, threshold: Double = 0.7,
                   numBands: Int = 16, rowsPerBand: Int = 4,
                   maxBucket: Int = 1000): DataFrame = {
    // Hash arrays are SORTED once per document: the signature minima
    // are order-invariant, and the candidate verify then runs the
    // allocation-free sorted-merge Jaccard per PAIR (the hot loop —
    // candidates outnumber documents by orders) instead of a hash-set
    // build + intersect/union materialization per pair.
    // pinned: `hs` feeds THREE consumers through NARROW
    // pipelines (the LSH banding and both verify join-backs), and
    // narrow subtrees re-evaluate per consumer (no exchange for
    // ReusedExchange to dedup — the q93/tfidfWeightsNorms lesson), so
    // unpinned the shingle+hash+sort CPU ran 3× per query. The pin is
    // corpus-bounded (id + hash array ≈ input size): one
    // materialization vs two extra full shingling passes. Same
    // cluster-deployment lineage trade-off as the Graph edge pins
    // (documented at pageRank).
    // array_distinct AFTER hashing: shingles() dedups the strings, but
    // a 64-bit collision between two distinct shingles would leave
    // duplicate longs, which the merge-pass Jaccard counts where
    // array_intersect/array_union deduped — dedup the longs so the
    // sorted array is duplicate-free by construction.
    val hs = df.select(col(idCol).as("id"),
      array_sort(array_distinct(
        hashedShingles(shingles(col(textCol), shingleSize)))).as("hs"))
      .pin
    val cands = lshCandidatePairs(hs, "id", col("hs"), numBands, rowsPerBand, maxBucket)
    cands
      .join(hs.select(col("id").as("id_a"), col("hs").as("hs_a")), "id_a")
      .join(hs.select(col("id").as("id_b"), col("hs").as("hs_b")), "id_b")
      .select(col("id_a"), col("id_b"),
              sortedJaccard(df.sparkSession, col("hs_a"), col("hs_b"))
                .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT Jaccard-threshold pair join via PREFIX FILTERING
    * (Chaudhuri et al. 2006 / PPJoin) — the scale path for exact
    * similarity joins, complementing the probabilistic LSH routes:
    * order every token by GLOBAL rarity (df asc), sort each document's
    * tokens by that rank, and index only the first
    * |d| − ⌈t·|d|⌉ + 1 of them. The prefix lemma guarantees any pair
    * with Jaccard ≥ t shares a prefix token, so candidates come from
    * an equi-join on PREFIX tokens only and the result is LOSSLESS —
    * the q113 oracle is the brute-force all-pairs SQL, so the hash
    * gate itself proves no pair was dropped.
    *
    * Scale shape: on Zipfian real-text vocabularies the prefix is the
    * RARE end of each document — candidate volume is Σ over prefix
    * tokens of df², orders below the full inverted index (q27/q93)
    * because high-df stop-tokens never enter the index. One vocab-
    * sized rank table broadcast back; one prefix equi-join; exact
    * verification only on candidates. (On a degenerate flat
    * vocabulary, as in the synthetic testdata, prefixes stay dense —
    * the win is the real-corpus case.) */
  def prefixFilterJaccardPairs(df: DataFrame, idCol: String,
                               textCol: String,
                               threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // sorted once per doc for the native merge-Jaccard verify below.
    // pinned: `toks` feeds FOUR consumers through narrow
    // pipelines (df-rank build, the ranked prefix frame, and both
    // verify join-backs) — see the nearDupPairs note.
    val toks = df.select(col(idCol).as("id"),
        array_sort(tokenSet(col(textCol))).as("toks"))
      .filter(size(col("toks")) > 0)
      .pin
    val ranks = toks.select(explode(col("toks")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("df").asc, col("token").asc)))
      .select(col("token"), col("rank"))
    val ranked = toks.select(col("id"), col("toks"),
                             explode(col("toks")).as("token"))
      .join(broadcast(ranks), "token")
      .groupBy(col("id"))
      .agg(min(size(col("toks"))).as("n"),
           array_sort(collect_list(col("rank"))).as("rks"))
      .withColumn("pl",
        (col("n") - ceil(lit(threshold) * col("n")) + 1).cast("int"))
    val prefixIndex = ranked
      .select(col("id"), posexplode(col("rks")).as(Seq("pos", "rk")),
              col("pl"))
      .filter(col("pos") < col("pl"))
      .select(col("id"), col("rk"))
    val cands = prefixIndex.select(col("id").as("id_a"), col("rk"))
      .join(prefixIndex.select(col("id").as("id_b"), col("rk")), "rk")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    cands
      .join(toks.select(col("id").as("id_a"), col("toks").as("t_a")), "id_a")
      .join(toks.select(col("id").as("id_b"), col("toks").as("t_b")), "id_b")
      .select(col("id_a"), col("id_b"),
              sortedJaccard(df.sparkSession, col("t_a"), col("t_b"))
                .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Portable-arithmetic MinHash-LSH over single-token shingles: the
    * hash-VERIFIED twin of [[nearDupPairs]]. Every hash is md5 +
    * modular arithmetic that any SQL engine reproduces exactly —
    * token hash = first 14 hex chars of md5 mod P (P = 2^31-1),
    * permutation j = (h*(2j+1)+j) mod P, band hash = base-8191
    * polynomial fold of the band's minima mod P — so a DuckDB oracle
    * recomputes buckets, candidates, and verified pairs bit-for-bit.
    * The XXH64 native path stays the scale default (one fused pass);
    * this one buys end-to-end external verification of the algorithm.
    * All arithmetic bounded: h < P ≈ 2^31, acc*8191 < 2^44 — no ANSI
    * overflow. */
  def portableNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                           threshold: Double, numBands: Int = 8,
                           rowsPerBand: Int = 4, maxBucket: Int = 300): DataFrame = {
    val P = 2147483647L
    // toks sorted ONCE per document: the affine-permutation minima are
    // order-invariant, and the verify below then uses the native
    // sorted-merge Jaccard per pair (see nearDupPairs).
    // pinned: `base` feeds the signature pipeline AND both
    // verify join-backs through narrow pipelines — unpinned, the
    // tokenize + per-token md5 (the dominant CPU of this operator) ran
    // 3× per query (see the nearDupPairs note for the economics and
    // the cluster lineage trade-off).
    val base = df
      .select(col(idCol).as("id"),
              array_sort(tokenSet(col(textCol))).as("toks"))
      .select(col("id"), col("toks"),
        transform(col("toks"),
          t => conv(substring(md5(t), 1, 14), 16, 10).cast("long") % P).as("hs"))
      .pin
    val nPerm = numBands * rowsPerBand
    // ONE fused native pass for all permutation minima (AffineMinHash
    // — same modular arithmetic the oracle recomputes, vs nPerm
    // interpreted transform+array_min trees re-walking the hash array)
    val sig = base.select(col("id"),
      graft.plans.AffineMinHashNative
        .affineMinhash(df.sparkSession, col("hs"), nPerm).as("sig"))
    val bandRows = (0 until numBands).map { b =>
      val fold = (1 until rowsPerBand)
        .foldLeft(element_at(col("sig"), b * rowsPerBand + 1): Column) {
          (acc, r) => (acc * 8191 + element_at(col("sig"), b * rowsPerBand + r + 1)) % P
        }
      struct(lit(b).as("band"), fold.as("band_hash"))
    }
    val banded = sig
      .select(col("id").as("doc"), explode(array(bandRows: _*)).as("b"))
      .select(col("doc"), col("b.band"), col("b.band_hash"))
    val cands = pairsFromBanded(banded, maxBucket)
    val toks = base.select(col("id"), col("toks"))
    cands
      .join(toks.select(col("id").as("id_a"), col("toks").as("t_a")), "id_a")
      .join(toks.select(col("id").as("id_b"), col("toks").as("t_b")), "id_b")
      .select(col("id_a"), col("id_b"),
              sortedJaccard(df.sparkSession, col("t_a"), col("t_b"))
                .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** 64-bit SimHash over a token-array column: per-token xxhash64, then
    * per-doc sum of ±1 per bit position, sign → bit.
    *
    * ZERO shuffle: the whole signature is a per-row expression — tokens
    * are hashed once into their own projection (`__hs`), then the
    * signature is ONE fused pass of the native codegen'd
    * [[graft.plans.SimHash64]] expression (int[64] vote accumulator;
    * the round-2 formulation re-walked the hash array 64 times through
    * interpreted `aggregate` lambdas — see [[simhash64Hof]], kept as
    * the engine-portable reference the spec cross-checks). At 100 TB
    * this never leaves the input partition. Docs with null/empty token
    * arrays are dropped (parity with the explode formulation this
    * replaced). */
  def simhash64(df: DataFrame, idCol: String, tokensCol: Column): DataFrame =
    df.select(col(idCol).as("doc"), transform(tokensCol, t => xxhash64(t)).as("__hs"))
      .filter(col("__hs").isNotNull && size(col("__hs")) > 0)
      .select(col("doc"),
              graft.plans.SimHashNative.simhashNative(df.sparkSession, col("__hs"))
                .as("simhash"))

  /** Shared HOF SimHash fold: hash the tokens once into their own
    * projection, drop empty docs, then bit b of the signature is the
    * sign of the ±1 vote fold over bit b of the hashes (ties → 0,
    * mirrored exactly by the q58 oracle). One definition serves both
    * hash families so the vote/tie semantics can't drift apart. */
  private def simhashFold(df: DataFrame, idCol: String,
                          hashedCol: Column, bits: Int): DataFrame = {
    val bitCols = (0 until bits).map { b =>
      when(aggregate(col("__hs"), lit(0),
             (acc, h) => acc +
               when(shiftright(h, b).bitwiseAND(1) === 1, 1).otherwise(-1)) > 0,
           lit(1L << b)).otherwise(lit(0L))
    }
    df.select(col(idCol).as("doc"), hashedCol.as("__hs"))
      .filter(col("__hs").isNotNull && size(col("__hs")) > 0)
      .select(col("doc"), bitCols.reduce(_ + _).as("simhash"))
  }

  /** The composable HOF formulation of [[simhash64]] — 64 `aggregate`
    * folds, one per bit — retained as the portable reference
    * implementation; the spec asserts bit-identity with the native
    * expression. */
  def simhash64Hof(df: DataFrame, idCol: String, tokensCol: Column): DataFrame =
    simhashFold(df, idCol, transform(tokensCol, t => xxhash64(t)), 64)

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Hamming distance between two equal-length '0'/'1' bit STRINGS
    * (the [[graft.llm.Multimodal.perceptualHash64]] representation):
    * per-position compare folded to a count — a narrow per-row
    * expression, mirrored verbatim by the q213/q214 oracles. */
  def hammingBits(a: Column, b: Column): Column =
    aggregate(
      zip_with(split(a, ""), split(b, ""),
        (x, y) => when(x === y, lit(0L)).otherwise(lit(1L))),
      lit(0L), (acc, t) => acc + t)

  /** Multi-index Hamming banding (the pigeonhole index): split an
    * `nBits`-bit hash string into `r + 1` near-equal contiguous
    * bands. Any pair within Hamming distance ≤ r differs in at most
    * r bands, so it matches EXACTLY on at least one band — band
    * equi-joins therefore produce a candidate set with zero false
    * negatives, and the exact Hamming verify runs on candidates
    * only, never all pairs. Band content is xxhash64'd so the
    * shuffle key is one long, not a substring; a hash collision can
    * only ADD a candidate, which the exact verify then drops.
    * Returns (doc, band, band_hash) — the [[bandedBuckets]] unit, so
    * [[pairsFromBanded]] (with its maxBucket skew cap) applies
    * unchanged. */
  def hammingBandedBuckets(df: DataFrame, idCol: String, bitsCol: Column,
                           r: Int, nBits: Int = 64): DataFrame = {
    require(r >= 0 && r < nBits,
      s"hammingBandedBuckets: need 0 <= r < nBits, got r=$r nBits=$nBits")
    val bands = r + 1
    df.select(col(idCol).as("doc"), bitsCol.as("__bits"))
      .select(col("doc"), explode(array((0 until bands).map { i =>
        val start = i * nBits / bands
        val len = (i + 1) * nBits / bands - start
        struct(lit(i).as("band"),
               xxhash64(substring(col("__bits"), start + 1, len))
                 .as("band_hash"))
      }: _*)).as("b"))
      .select(col("doc"), col("b.band"), col("b.band_hash"))
  }

  /** Perceptual-hash near-dup pairs: banded candidate generation
    * ([[hammingBandedBuckets]] — never all-pairs) + exact Hamming
    * verify at ≤ r on candidates only. The hash frame is consumed
    * three times (banding + both sides of the bits join-back), so it
    * is pinned once — the hash pipeline upstream
    * (decode → resize → luma) runs exactly once however many stages
    * read it. Returns (id_a, id_b, hamming, bits_a, bits_b),
    * id_a < id_b.
    *
    * Recall caveat (same trade as [[nearDupPairs]]): the pigeonhole
    * banding alone has zero false negatives, but the `maxBucket`
    * skew cap DROPS band buckets larger than the cap — e.g. many
    * byte-identical images — so true pairs findable only through an
    * overflowing bucket are lost. The cap trades bounded recall loss
    * for protection against a quadratic bucket-local self-join; set
    * `maxBucket = Int.MaxValue` for the exact (skew-exposed) form. */
  def hammingNearDupPairs(hashes: DataFrame, idCol: String, bitsCol: String,
                          r: Int, nBits: Int = 64,
                          maxBucket: Int = 100000): DataFrame = {
    val h = hashes.select(col(idCol).as("doc"), col(bitsCol).as("__bits"))
      .pin
    val cands = pairsFromBanded(
      hammingBandedBuckets(h, "doc", col("__bits"), r, nBits), maxBucket)
    cands
      .join(h.select(col("doc").as("id_a"), col("__bits").as("bits_a")), "id_a")
      .join(h.select(col("doc").as("id_b"), col("__bits").as("bits_b")), "id_b")
      .select(col("id_a"), col("id_b"),
              hammingBits(col("bits_a"), col("bits_b")).as("hamming"),
              col("bits_a"), col("bits_b"))
      .filter(col("hamming") <= r)
  }

  /** Portable-arithmetic SimHash: the hash-VERIFIED twin of
    * [[simhash64]] (mirroring how portableNearDupPairs twins
    * nearDupPairs). Token hash = first 14 hex chars of md5 mod
    * P = 2^31-1 — the exact q57 token hash — and bit b of the
    * signature is the sign of the ±1 fold over bit b of those hashes,
    * so a DuckDB oracle recomputes every signature bit-for-bit and
    * externally verifies the SimHash algorithm end-to-end. `bits` ≤ 31
    * (the hash width); the xxhash64 path stays the 64-bit scale
    * default. Same zero-shuffle shape: hashes computed once into their
    * own projection, then `bits` narrow per-row folds. */
  def portableSimhash(df: DataFrame, idCol: String, tokensCol: Column,
                      bits: Int = 16): DataFrame = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    val P = 2147483647L
    simhashFold(df, idCol,
      transform(tokensCol,
        t => conv(substring(md5(t), 1, 14), 16, 10).cast("long") % P),
      bits)
  }

  /** Embedding-cosine near-dup: SRP-bucket the corpus (per-row
    * signature, no shuffle), self-join bucket-locally, keep pairs with
    * exact cosine >= `threshold`. The candidate space is |bucket|², not
    * N² — the embedding-space sibling of MinHash-LSH banding; at scale,
    * raise `bits` to shrink buckets (each extra bit halves them). */
  def embedNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                        dim: Int, bits: Int, threshold: Double): DataFrame = {
    val sig = corpus.select(
      col(idCol).as("id"), col(vecCol).as("v"),
      concat_ws("", Similarity.srpSignature(col(vecCol), dim, bits)).as("bucket"))
    // pair scoring is the hot loop (|bucket|² pairs): the fused native
    // codegen expression (one pass for dot + both norms, bit-identical
    // to the HOF fold — see CosineSimilaritySpec/q37) instead of three
    // interpreted HOF aggregates per pair.
    sig.as("x").join(sig.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
              graft.plans.NativeFunctions
                .cosineNative(corpus.sparkSession, col("x.v"), col("y.v"))
                .as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Cross-document exact-substring duplication at k-token
    * granularity (the practical core of Lee et al. 2022,
    * arXiv:2107.06499 "Deduplicating Training Data Makes Language
    * Models Better" — a published pattern, not from the reference): a
    * k-gram is DUPLICATED iff it occurs in ≥ 2 distinct documents;
    * each document reports its gram-instance count, how many of those
    * instances are cross-doc duplicated, and the duplicated fraction
    * — the "how much of this doc exists elsewhere verbatim" filter
    * signal. Documents shorter than k tokens have no grams and are
    * absent (the charEntropy convention).
    *
    * Scale (the TF-IDF triangle): grams explode scan-local and are
    * immediately reduced to 32-char md5 digests, so no exchange ever
    * carries gram TEXT; the distinct-doc count per gram is ONE
    * hash aggregation (partial distinct map-side); the duplicated-gram
    * set joins back on the digest (equi-join — AQE broadcasts it when
    * small, skew-splits a pathological gram otherwise); the per-doc
    * rollup is one final doc-keyed aggregation. The gram length `k`
    * bounds the blowup at (tokens − k + 1) rows per doc — linear in
    * corpus tokens, the same budget as tokenizing it. */
  def crossDocGramStats(df: DataFrame, idCol: String, textCol: String,
                        k: Int): DataFrame = {
    val grams = df
      .select(col(idCol), TextStats.tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
              explode(TextStats.ngramsOfTokens(col("__toks"), k)).as("gram"))
      .select(col(idCol), md5(col("gram")).as("gh"))
      // ONE explicit gh-exchange shared by the dup-gram aggregation
      // and the join below (ReusedExchange): without it AQE broadcasts
      // the dup-gram side and the narrow tokenize+ngram+md5 pipeline
      // re-evaluates per consumer — two full corpus scans instead of
      // one scan + one compact (id, 16-byte-hash) shuffle
      .repartition(col("gh"))
    val dupGrams = grams
      .groupBy(col("gh"))
      .agg(count_distinct(col(idCol)).as("nd"))
      .where(col("nd") >= 2)
      .select(col("gh"), lit(1).as("isdup"))
    grams.join(dupGrams, Seq("gh"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
           count(col("isdup")).as("n_dup_grams"))
      .withColumn("dup_frac",
        round(col("n_dup_grams").cast("double") /
                col("n_grams").cast("double"), 4))
  }

  /** Token-set CONTAINMENT pairs — the asymmetric cousin of Jaccard
    * (q27): C(A→B) = |A∩B| / |A| is high when A is quoted/embedded
    * inside a larger B even though Jaccard (÷ the union) stays low —
    * the quote/subset-detection signal a near-dup pass on its own
    * misses. Emits both directions per pair; a pair qualifies when
    * EITHER direction reaches `threshold`.
    *
    * Same bounded-window economics as the q27 verification kernel
    * (candidates limited to same-lang ids within `windowAhead`); the
    * unbounded scale path is LSH candidates (nearDupPairs) feeding
    * this scorer instead of the id window. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       langCol: String, threshold: Double,
                       windowAhead: Int): DataFrame = {
    val tok = df.select(col(idCol), col(langCol).as("__lang"),
                        explode(tokenSet(col(textCol))).as("__t"))
    val cnt = tok.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
    val inter = tok.as("a").join(tok.as("b"),
        col(s"a.__t") === col(s"b.__t") &&
        col(s"a.__lang") === col(s"b.__lang") &&
        col(s"a.$idCol") < col(s"b.$idCol") &&
        col(s"b.$idCol") <= col(s"a.$idCol") + windowAhead)
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("__ni"))
    val contA = col("__ni").cast("double") / col("ca.__n").cast("double")
    val contB = col("__ni").cast("double") / col("cb.__n").cast("double")
    inter
      .join(cnt.as("ca"), col("id_a") === col(s"ca.$idCol"))
      .join(cnt.as("cb"), col("id_b") === col(s"cb.$idCol"))
      .filter(contA >= threshold || contB >= threshold)
      .select(col("id_a"), col("id_b"),
              round(contA, 4).as("cont_a"), round(contB, 4).as("cont_b"))
  }
}
