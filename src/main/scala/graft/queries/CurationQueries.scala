package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.llm.{Decontaminate, QualityRules, Sampling}
import graft.operators.{Eval, TargetEncode}
import graft.queries.OracleSql.{lcgSql, toks}

/** Round-6 curation/governance queries: the audit layer between a raw
  * corpus and a training run — benchmark decontamination, leakage-safe
  * temporal splitting, categorical predictive-power scoring, and
  * annotation agreement. Each oracle recomputes the full semantics in
  * DuckDB from first principles.
  */
object CurationQueries {
  type Q = (SparkSession, String) => DataFrame

  // SpanDedup.cdcChunkStats' 33-weighted 8-char window code sum at
  // candidate cut position i, DuckDB form (q224)
  private val cdcWin = {
    val pows = Array.iterate(1L, 8)(_ * 33L)
    (0 until 8)
      .map(j =>
        s"CAST(ascii(substring(text, i + $j, 1)) AS BIGINT)*${pows(j)}")
      .mkString(" + ")
  }

  val queries: Map[String, Q] = Map(

    // Benchmark decontamination: docs with doc_id % 101 == 0 stand in
    // for the held-out eval suite; every other doc is audited for
    // trigram-shingle overlap against it. The benchmark shingle set
    // broadcasts; the corpus never shuffles by shingle.
    "q159_decontaminate" -> ((s, d) => {
      val docs = documents(s, d)
      Decontaminate.overlapAudit(
        corpus = docs.filter(col("doc_id") % 101 =!= 0),
        bench  = docs.filter(col("doc_id") % 101 === 0),
        idCol = "doc_id", textCol = "text", n = 3, minHits = 2)
    }),

    // Purged time split with a 3-day embargo on the events stream:
    // train < Jan 18, purged [18, 21), test >= Jan 21; per-split
    // envelope + how many of its units also appear in train.
    "q160_time_split" -> ((s, d) => {
      Sampling.timeSplitEmbargo(events(s, d), "ts", "user_id",
                                cutoff = "2024-01-18 00:00:00",
                                embargoDays = 3)
    }),

    // Weight-of-evidence + information value of order priority
    // against the 'F' (fulfilled) status label — one category-
    // cardinality aggregation, 1-row total broadcast.
    "q161_woe_encode" -> ((s, d) => {
      TargetEncode.woeIv(orders(s, d), "o_orderpriority",
                         col("o_orderstatus") === "F")
    }),

    // Bradley-Terry preference ratings over ~60k pairwise comparisons
    // (supplier-mod vs part-mod "players", quantity decides the win):
    // the raw table folds once into k wins + k^2/2 pair counts, then
    // 20 MM iterations run on that bounded frame. The oracle replays
    // the IDENTICAL quantized recurrence in a recursive CTE — the
    // fitted ratings themselves hash-match, not just an invariant.
    "q163_bradley_terry" -> ((s, d) => {
      val m = lineitem(s, d).select(
        (col("l_suppkey") % 20).as("a"),
        (col("l_partkey") % 20).as("b"),
        (col("l_quantity") > 25).as("awin"))
      graft.operators.Preference.bradleyTerry(m, "a", "b", "awin",
                                              iters = 20)
    }),

    // 8-core of a sparse bipartite order/part graph: simultaneous
    // peeling to the fixpoint (17 rounds at sf0.01). The oracle
    // replays the identical peel for 30 fixed rounds in a recursive
    // CTE — same survivor set, same in-core degrees, full hash match.
    "q164_kcore" -> ((s, d) => {
      val e = lineitem(s, d).filter(col("l_linenumber") === 1)
        .select((col("l_orderkey") % 997).as("a"),
                (lit(1000000) + col("l_partkey") % 499).as("b"))
        .distinct()
      graft.operators.Graph.kCore(e, "a", "b", k = 8)
    }),

    // Greedy k-center coreset over 200 embeddings: 8 farthest-point
    // picks, argmax riding a single quantized integer key so the
    // oracle's recursive replay chooses the identical center sequence;
    // r2q (covering radius² at each pick) decreases monotonically —
    // the 2-approximation sweep active-learning pipelines run.
    "q165_kcenter" -> ((s, d) => {
      graft.llm.Coreset.kCenterGreedy(
        embeddings(s, d).filter(col("vec_id") < 200),
        "vec_id", "embedding", k = 8)
    }),

    // Equi-depth histogram of lineitem prices: 16 near-equal-count
    // buckets with value envelopes and NDV — optimizer statistics.
    // The rank rides the two-phase cumsum (no single-partition
    // window); bucket = rank*16 DIV n is pure integer arithmetic,
    // and the oracle is the global-window form of the same rule.
    "q166_equidepth" -> ((s, d) => {
      graft.operators.Histogram.equiDepth(
        lineitem(s, d).select(col("l_extendedprice"), col("l_orderkey"),
                              col("l_linenumber")),
        "l_extendedprice", Seq("l_orderkey", "l_linenumber"), nBuckets = 16)
    }),

    // Stupid-backoff bigram scoring: reference counts from the even
    // doc_ids, every document scored against them — the seen-bigram,
    // unigram-backoff, and unseen-floor branches all fire and the
    // per-doc backoff count is reported alongside the score.
    "q167_backoff_lm" -> ((s, d) => {
      val docs = documents(s, d)
      graft.llm.TextStats.stupidBackoff(
        docs, "doc_id", "text",
        statsDf = docs.filter(col("doc_id") % 2 === 0),
        statsTextCol = "text")
    }),

    // Stratified-propensity IPW effect of heavy-purchase behavior on
    // mean event value: per-user treatment (purchase share > 1/5),
    // activity-tier strata; the single-user stratum violates overlap
    // and is dropped LOUDLY (n_dropped = 1), not absorbed.
    "q168_ipw_effect" -> ((s, d) => {
      val units = events(s, d)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_ev"),
             sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
               .as("np"),
             graft.util.Exact.exactSum(col("value")).as("ysum"))
        .select(col("user_id"),
                (col("np") * 5 > col("n_ev")).as("treated"),
                round(col("ysum") / col("n_ev").cast("double"), 6).as("y"),
                expr("n_ev DIV 25").as("stratum"))
      graft.operators.AbTest.ipwEffect(units, "treated", "y", "stratum")
    }),

    // First-order Markov transition matrix of user event types: one
    // user-keyed exchange for the lead() window, counts fold to
    // |states|² rows, row-normalized probabilities.
    "q169_markov" -> ((s, d) => {
      graft.operators.Journey.transitionMatrix(
        events(s, d), "user_id", "event_type", Seq("ts", "event_id"))
    }),

    // Kaplan-Meier survival over per-user lifetimes (first→last event
    // days; lifetimes reaching the final window days are censored).
    // The risk table is day-cardinality-bounded; the sequential
    // product-limit walk runs on that collected frame and the oracle
    // replays the identical quantized recurrence in a recursive CTE.
    "q170_kaplan_meier" -> ((s, d) => {
      graft.operators.Journey.kaplanMeier(
        events(s, d), "user_id", "ts", censorCutoff = "2024-01-29 00:00:00")
    }),

    // Synchronous label propagation (8 fixed rounds) on the q164
    // graph: community sizes of the final labeling. The per-node
    // argmax rides one integer key (count, then smaller label), so
    // the oracle's recursive replay adopts identical labels.
    "q171_label_prop" -> ((s, d) => {
      val e = lineitem(s, d).filter(col("l_linenumber") === 1)
        .select((col("l_orderkey") % 997).as("a"),
                (lit(1000000) + col("l_partkey") % 499).as("b"))
        .distinct()
      graft.operators.Graph.labelPropagation(e, "a", "b", rounds = 8)
    }),

    // Theil-Sen robust trend of event values per user (first 50
    // observations, all pairwise slopes, exact median) — the
    // spike-proof alternative to least-squares drift detection.
    "q172_theil_sen" -> ((s, d) => {
      graft.operators.Robust.theilSen(
        events(s, d).select(col("user_id"), col("ts"), col("event_id"),
                            col("value")),
        keys = Seq("user_id"), orderCols = Seq("ts", "event_id"),
        valueCol = "value", maxPoints = 50)
    }),

    // Video sibling of q88/q92: MP4 box-walk metadata (ftyp brand,
    // mvhd v0/v1 timescale+duration, tkhd 16.16 dimensions, largesize
    // boxes) from raw bytes by the dependency-free VideoMeta
    // expression; AVI reads dims + µs duration from the avih main
    // header (fixture 8, a real MJPEG AVI), EBML detected by magic.
    // duration_ms composes from the parsed fields in BOTH engines.
    "q173_video_meta" -> ((s, d) => {
      import s.implicits._
      val df = graft.llm.VideoFixtures.all.toDF("video_id", "bytes")
      df.select(col("video_id"),
          graft.plans.VideoMetaNative.videoMeta(s, col("bytes")).as("m"))
        .select(col("video_id"), col("m.format").as("format"),
                col("m.brand").as("brand"),
                col("m.timescale").as("timescale"),
                col("m.duration").as("duration"),
                col("m.width").as("width"), col("m.height").as("height"))
        .withColumn("duration_ms",
          expr("(duration * 1000) DIV timescale"))
    }),

    // REAL video frame decode: MJPEG-in-AVI fixtures (one flat-movi
    // with sequential frames, one LIST-rec-grouped with PROGRESSIVE
    // frames) ride AviMjpeg's RIFF walk into JpegCodec per frame, one
    // output row per (video, frame). The oracle pins the exact frame
    // set and per-frame value counts; the per-frame generative-plane
    // error bound is the Spark-side claim (q242's lossy-codec
    // envelope) — a container-walk, frame-order or codec bug breaks
    // the row set or blows the bound.
    "q246_mjpeg_frames" -> ((s, d) => {
      import s.implicits._
      val mk = (f: Int) => (x: Int, y: Int) =>
        (96 + x * 2 + y + 5 * f, 80 + x + y * 2 + 3 * f,
         120 + x - y / 2 + 7 * f)
      val ds = Seq(
        graft.llm.Multimodal.MediaRow(1L,
          graft.llm.VideoFixtures.aviMjpeg(16, 12, 3, mk, quality = 95),
          "video"),
        graft.llm.Multimodal.MediaRow(2L,
          graft.llm.VideoFixtures.aviMjpeg(13, 9, 2, mk, quality = 95,
            recGroups = true, progressiveFrames = true), "video")).toDS()
      val dec = graft.llm.Multimodal.extractVideoFrames(ds).toDF()
        .select(col("id").as("video_id"), col("frame"), col("w"), col("h"),
                posexplode(col("features")).as(Seq("pos", "v")))
      val exp = Seq((1L, 16, 12, 3), (2L, 13, 9, 2))
        .toDF("video_id", "w", "h", "n")
        .withColumn("frame", explode(sequence(lit(0), col("n") - 1)))
        .withColumn("y", explode(sequence(lit(0), col("h") - 1)))
        .withColumn("x", explode(sequence(lit(0), col("w") - 1)))
        .withColumn("c", explode(sequence(lit(0), lit(2))))
        .select(col("video_id"), col("frame"),
          ((col("y") * col("w") + col("x")) * 3 + col("c")).as("pos"),
          when(col("c") === 0,
               lit(96) + col("x") * 2 + col("y") + lit(5) * col("frame"))
            .when(col("c") === 1,
               lit(80) + col("x") + col("y") * 2 + lit(3) * col("frame"))
            .otherwise(lit(120) + col("x") - expr("y div 2") +
               lit(7) * col("frame"))
            .cast("double").as("expected"))
      dec.join(exp, Seq("video_id", "frame", "pos"))
        .groupBy(col("video_id"), col("frame"))
        .agg(count(lit(1)).as("n_values"),
             max(abs(col("v").cast("double") - col("expected"))).as("__maxe"))
        .select(col("video_id"), col("frame").as("frame_idx"),
                col("n_values"), (col("__maxe") <= 6.0).as("max_err_le_6"))
    }),

    // BPE tokenizer TRAINING: 6 greedy merge rounds on the word-type
    // vocabulary (the corpus folds once; iterations never touch it).
    // The oracle replays the identical select-then-fuse recurrence in
    // a recursive CTE — the learned merge list hash-matches.
    "q174_bpe_learn" -> ((s, d) => {
      graft.llm.BpeTrain.learnMerges(documents(s, d), "text", nMerges = 6)
    }),

    // The inference side: apply the 6 learned merges per word across
    // the corpus and measure per-language compression (chars-as-
    // tokens vs BPE tokens). Spark applies a plan-literal replace
    // chain per row; the oracle derives each word type's merged
    // token count from the SAME recursion's final vocabulary.
    "q175_bpe_compress" -> ((s, d) => {
      // (no spread: learnMerges re-evaluates its word frame per merge
      // round — an input exchange replays per round and nets negative,
      // measured r15)
      val docs = documents(s, d)
      val merges = graft.llm.BpeTrain
        .learnMerges(docs, "text", nMerges = 6)
        .orderBy(col("round")).collect().map(_.getString(1)).toSeq
      graft.llm.BpeTrain.applyMerges(docs, "doc_id", "text", merges)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_chars_tok")).as("sum_chars_tok"),
             sum(col("n_bpe_tok")).as("sum_bpe_tok"))
        .withColumn("compression",
          round(col("sum_bpe_tok").cast("double") /
                col("sum_chars_tok").cast("double"), 4))
    }),

    // One-pass Poisson bootstrap: 64 deterministic replicate means of
    // the lineitem price in ONE corpus read, percentile CI from the
    // bounded replicate frame — the oracle replays the exact
    // LCG-weighted interval, not a statistical cousin.
    "q176_bootstrap_ci" -> ((s, d) => {
      graft.operators.Bootstrap.meanCi(
        lineitem(s, d).select(
          (col("l_orderkey") * 10 + col("l_linenumber")).as("rid"),
          col("l_extendedprice")),
        "rid", "l_extendedprice", b = 64)
    }),

    // Isotonic (PAV) calibration on the q138 reliability bins: the
    // monotone fit via the max-min closed form, computed window-free
    // as two aggregations over bounded triangular joins — raw bin
    // rates wiggle, the isotonic rates pool the violations.
    "q177_isotonic" -> ((s, d) => {
      graft.operators.Eval.isotonicCalibration(orders(s, d), "o_totalprice",
        col("o_orderstatus") === "F", lo = 0.0, hi = 500000.0, nBins = 10)
    }),

    // k-anonymity / l-diversity audit of (nation, market segment)
    // quasi-identifiers against the account-balance-sign sensitive
    // attribute — the re-identification gate before a release.
    "q178_k_anonymity" -> ((s, d) => {
      graft.operators.Privacy.kAnonymity(
        customer(s, d).withColumn("bal_sign",
          when(col("c_acctbal") < 0, "neg").otherwise("nonneg")),
        quasiCols = Seq("c_nationkey", "c_mktsegment"),
        sensitiveCol = "bal_sign")
    }),

    // Per-user contribution capping (first 40 events in time order) —
    // the bounded-sensitivity step of user-level DP: per event type,
    // raw vs capped counts show what the cap costs.
    "q179_contribution_cap" -> ((s, d) => {
      val e = events(s, d)
      val capped = graft.operators.Privacy.capContributions(
        e, "user_id", Seq("ts", "event_id"), cap = 40)
      val raw = e.groupBy(col("event_type")).agg(count(lit(1)).as("n_raw"))
      val cap = capped.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_capped"))
      raw.join(cap, "event_type")
        .select(col("event_type"), col("n_raw"), col("n_capped"),
                round(lit(1.0) - col("n_capped").cast("double") /
                      col("n_raw").cast("double"), 6).as("clipped_frac"))
    }),

    // Exact DBSCAN over the first two embedding dimensions: grid-
    // bucketed candidate pairs (3x3 eps-cells — never all pairs),
    // core/border/noise roles, min-label clusters. The oracle
    // computes the SAME clustering from brute-force pairs — proof
    // the grid pruning is lossless.
    "q180_dbscan" -> ((s, d) => {
      val e = embeddings(s, d)
        .select(col("vec_id"),
                element_at(col("embedding").cast("array<double>"), 1).as("x"),
                element_at(col("embedding").cast("array<double>"), 2).as("y"))
      graft.operators.Dbscan.gridDbscan(e, "vec_id", "x", "y",
                                        eps = 0.03, minPts = 5)
    }),

    // The q180 skew-cap AUDIT as a first-class oracle row: every
    // eps-grid cell whose population exceeds maxCellPoints, with its
    // size — empty output <=> a capped gridDbscan run was exact (the
    // q144 lossless-prune contract). Cap 8 sits just under this
    // corpus's densest cell, so the audit is proven on NONEMPTY
    // output, not vacuously.
    "q216_dbscan_overflow" -> ((s, d) => {
      val e = embeddings(s, d)
        .select(col("vec_id"),
                element_at(col("embedding").cast("array<double>"), 1).as("x"),
                element_at(col("embedding").cast("array<double>"), 2).as("y"))
      graft.operators.Dbscan.overflowCells(e, "vec_id", "x", "y",
                                           eps = 0.03, maxCellPoints = 8)
    }),

    // Dominant principal component of the first 8 embedding
    // dimensions: the corpus folds once to 8 + 36 decimal moment
    // sums; 30 quantized power steps run driver-side and the oracle
    // replays the identical matvec/normalize recurrence — loadings
    // AND eigenvalue hash-match.
    "q181_pca_power" -> ((s, d) => {
      val e = embeddings(s, d).select(
        (0 until 8).map(i =>
          element_at(col("embedding").cast("array<double>"), i + 1)
            .as(s"d$i")): _*)
      graft.operators.Pca.powerIteration(e, (0 until 8).map(i => s"d$i"),
                                         iters = 30)
    }),

    // Multi-source BFS on the q164 graph from the 10 lowest order-mod
    // seeds: hop distance of every reachable node, simultaneous
    // frontier expansion, fixed-depth recursive replay as oracle.
    "q182_bfs_layers" -> ((s, d) => {
      val e = lineitem(s, d).filter(col("l_linenumber") === 1)
        .select((col("l_orderkey") % 997).as("a"),
                (lit(1000000) + col("l_partkey") % 499).as("b"))
        .distinct()
      val seeds = e.select(col("a").as("node")).filter(col("node") < 10)
        .distinct()
      graft.operators.Graph.bfsLayers(e, "a", "b", seeds, "node")
    }),

    // Ranking metrics over the engine's own retrieval: cosine top-10
    // for 20 queries scored against label-match ground truth — MRR,
    // precision@10, binary nDCG@10 per query.
    "q183_ranking_metrics" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = embeddings(s, d)
      val topk = graft.llm.Similarity.cosineTopK(
        e, "vec_id", "embedding",
        e.filter(col("vec_id") < 20), "vec_id", "embedding", k = 10)
      val retrieved = topk.withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("cos_sim").desc, col("cid").asc)))
      val lbl = e.select(col("vec_id"), col("label"))
      val relevant = lbl.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q"), col("label").as("__l"))
        .join(lbl.select(col("vec_id").as("c"), col("label").as("__l")),
              Seq("__l"))
        .filter(col("q") =!= col("c"))
      graft.operators.Eval.rankingMetrics(retrieved, "qid", "cid", "rank",
                                          relevant, "q", "c", k = 10)
    }),

    // Multi-touch attribution of purchases to the view/click/signup
    // touches of the preceding 3 days — first, last and linear models
    // side by side; touchless conversions land in '(none)', loudly.
    "q184_attribution" -> ((s, d) => {
      graft.operators.Attribution.credits(events(s, d), "user_id", "ts",
        "event_id", "event_type", conversionType = "purchase",
        touchTypes = Seq("view", "click", "signup"), lookbackDays = 3)
    }),

    // Holt's linear-trend smoothing of each user's value series —
    // sequential two-state fold (flatMapSortedGroups), bit-identical
    // to the recursive-CTE oracle with zero quantization in the loop.
    "q185_holt" -> ((s, d) => {
      graft.operators.Forecast.holtSummary(
        events(s, d).select(col("user_id"), col("ts"), col("event_id"),
                            col("value")),
        "user_id", Seq(col("ts"), col("event_id")), "value",
        alpha = 0.3, beta = 0.1)
    }),

    // Split-conformal interval around a per-user mean predictor:
    // q-hat = exact 90%-order-statistic of calibration residuals
    // (two-phase cumsum rank, no global window), then the coverage
    // guarantee AUDITED on the test split.
    "q186_conformal" -> ((s, d) => {
      graft.operators.Conformal.splitConformal(
        events(s, d).select(col("user_id"), col("event_id"), col("value"),
                            (col("event_id") % 3).as("split")),
        "user_id", "event_id", "value", "split", alpha = 0.1)
    }),

    // Personalized PageRank from the q182 seed set: teleport mass
    // restricted to seeds (TrustRank shape) — rank relative to an
    // anchor, 2 damped iterations, 1e-15 quantized inflows.
    "q187_personalized_pr" -> ((s, d) => {
      val e = lineitem(s, d).filter(col("l_linenumber") === 1)
        .select((col("l_orderkey") % 997).as("a"),
                (lit(1000000) + col("l_partkey") % 499).as("b"))
        .distinct()
      val seeds = e.select(col("a").as("node")).filter(col("node") < 10)
        .distinct()
      graft.operators.Graph.personalizedPageRank(e, "a", "b", seeds, "node",
                                                 iterations = 2)
    }),

    // Two-component GMM by EM on a 64-bin histogram of event values:
    // the corpus folds once; 10 quantized EM rounds run on the bins
    // and the oracle replays the identical E/M recurrence (carrying
    // the old parameters through the two-pass mean/variance step).
    "q188_gmm_em" -> ((s, d) => {
      graft.operators.Gmm.fit2(events(s, d), "value",
        lo = 0.0, hi = 512.0, nBins = 64,
        mu1_0 = 50.0, sigma1_0 = 50.0, mu2_0 = 200.0, sigma2_0 = 100.0,
        iters = 10)
    }),

    // REAL pixel decode: 24-bpp BMP fixtures (bottom-up rows, BGR,
    // 4-byte padding — the 7-wide image forces a 3-byte pad) decoded
    // by BmpWavDecoder into top-down row-major RGB floats, then
    // channel means + an ORDER-SENSITIVE position-weighted checksum.
    // The oracle regenerates the pixel stream from the fixtures'
    // generative formula in SQL, so a flip / channel-order / padding
    // mistake in the decoder breaks the hash, not just the means.
    "q189_bmp_decode" -> ((s, d) => {
      import s.implicits._
      val pix = (x: Int, y: Int) =>
        ((x * 7 + y * 13) % 256, (x * 3 + y * 5 + 17) % 256,
         (x + y * 2 + 101) % 256)
      val ds = Seq((1L, 8, 5), (2L, 16, 9), (3L, 7, 3)).map {
        case (id, w, h) => graft.llm.Multimodal.MediaRow(
          id, graft.llm.ImageFixtures.bmp(w, h, pix), "image")
      }.toDS()
      graft.llm.Multimodal
        .extractFeatures(ds, graft.llm.Multimodal.BmpWavDecoder).toDF()
        .select(col("id").as("image_id"),
                posexplode(col("features")).as(Seq("pos", "v")))
        .groupBy(col("image_id"))
        .agg((count(lit(1)) / lit(3)).cast("long").as("n_px"),
             round(sum(when(col("pos") % 3 === 0, col("v").cast("double")))
                     / (count(lit(1)) / lit(3.0)), 4).as("mean_r"),
             round(sum(when(col("pos") % 3 === 1, col("v").cast("double")))
                     / (count(lit(1)) / lit(3.0)), 4).as("mean_g"),
             round(sum(when(col("pos") % 3 === 2, col("v").cast("double")))
                     / (count(lit(1)) / lit(3.0)), 4).as("mean_b"),
             sum((col("pos") + 1) * col("v").cast("long")).as("px_checksum"))
    }),

    // REAL sample decode: 16-bit PCM WAV fixtures (interleaved LE
    // frames; clip 2 is stereo behind an odd-length LIST chunk the
    // walker must pad-skip) decoded into raw sample values, then
    // audio summary features — mean amplitude, RMS, peak, zero
    // crossings (a lag window per clip-bounded partition) and the
    // position-weighted checksum that pins sample ORDER. Oracle
    // regenerates the PCM stream from the generative formula.
    "q190_wav_decode" -> ((s, d) => {
      import s.implicits._
      val mk = (n: Int, a: Int, b0: Int) =>
        Array.tabulate[Short](n)(i => (((i * a + b0) % 2001) - 1000).toShort)
      val ds = Seq(
        graft.llm.Multimodal.MediaRow(
          1L, graft.llm.AudioFixtures.wavPcm16(16000, 1, mk(1000, 37, 0)),
          "audio"),
        graft.llm.Multimodal.MediaRow(
          2L, graft.llm.AudioFixtures.wavPcm16(44100, 2, mk(1024, 53, 11),
            withListChunk = true), "audio"),
        graft.llm.Multimodal.MediaRow(
          3L, graft.llm.AudioFixtures.wavPcm16(8000, 1, mk(250, 91, 7)),
          "audio")).toDS()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("clip_id")).orderBy(col("i"))
      graft.llm.Multimodal
        .extractFeatures(ds, graft.llm.Multimodal.BmpWavDecoder).toDF()
        .select(col("id").as("clip_id"),
                posexplode(col("features")).as(Seq("i", "v")))
        .withColumn("pv", lag(col("v"), 1).over(w))
        .groupBy(col("clip_id"))
        .agg(count(lit(1)).as("n_samples"),
             round(sum(col("v").cast("double")) / count(lit(1)), 4)
               .as("mean_amp"),
             round(sqrt(sum(col("v").cast("double") * col("v").cast("double"))
                          / count(lit(1))), 4).as("rms"),
             max(abs(col("v"))).cast("long").as("peak"),
             sum((col("i") + 1) * col("v").cast("long")).as("amp_checksum"),
             sum(when(col("pv") * col("v") < 0, 1L).otherwise(0L))
               .as("n_zero_cross"))
    }),

    // Cohen's kappa between two rule-based document raters (word-count
    // gate vs mean-word-length gate, the q145 thresholds): how much of
    // their agreement exceeds chance. One fold to a 2x2 table.
    "q162_kappa" -> ((s, d) => {
      val m = QualityRules.gopherMetrics(documents(s, d), "text",
          minWords = 20, maxWords = 80, minWl = 3.9, maxWl = 5.0,
          maxSymbolRatio = 0.1)
      Eval.cohenKappa(m, col("pass_words"), col("pass_wl"))
    }),

    // URL canonicalization dedup: raw crawl-style URL spellings
    // (scheme/host case, www., default ports, trailing slash,
    // index.html, utm_* params, param order) generated per doc from
    // the doc_id formula, collapsed to canonical form and grouped -
    // the URL-level dedup key upstream of q23's content hashing. The
    // canonicalizer is a pure codegen'd expression; the oracle
    // replays every regex and the param sort.
    "q222_url_canon" -> ((s, d) => {
      val id = col("doc_id")
      val url = concat(
        when(id % 2 === 0, lit("HTTP")).otherwise(lit("https")),
        lit("://"),
        when(id % 3 === 0, lit("WWW.")).otherwise(lit("")),
        lit("Site"), (id % 7).cast("string"), lit(".Example.COM"),
        when(id % 5 === 0, lit(":8080"))
          .when(id % 2 === 0, lit(":80")).otherwise(lit(":443")),
        when(id % 4 === 0,
             concat(lit("/Articles/"), (id % 13).cast("string")))
          .when(id % 4 === 1,
             concat(lit("/Articles/"), (id % 13).cast("string"), lit("/")))
          .when(id % 4 === 2, lit("/index.html"))
          .otherwise(lit("")),
        when(id % 6 === 0, lit("?utm_source=feed&b=2&a=1"))
          .when(id % 6 === 1, lit("?z=9&fbclid=IwAR12345&a=1"))
          .when(id % 6 === 2, lit("?b=2&a=1"))
          .when(id % 6 === 3, lit("?a=1&gclid=Cj0KCQjw&b=2"))
          .otherwise(lit("")))
      graft.llm.UrlCanon.dupGroups(
        documents(s, d).select(col("doc_id")).withColumn("url", url),
        "doc_id", "url")
    }),

    // Skip-gram (center, context) co-occurrence pairs, window 2 both
    // directions, min count 5 - the word2vec training-pair extraction;
    // one position equi-join, never a per-document crossJoin.
    "q223_skipgram" -> ((s, d) => {
      graft.llm.SkipGram.pairs(documents(s, d), "doc_id", "text",
        window = 2, minCount = 5L)
    }),

    // Content-defined chunking dedup audit over the corpus PLUS a
    // 3-char-prefix-shifted twin of every doc: boundaries are content
    // hashes, so the twins' chunks re-align after the first cut and
    // dedup against the originals - the CDC insertion-robustness
    // property (fixed windows would match nothing), measured as an
    // oracle row.
    "q224_cdc_chunks" -> ((s, d) => {
      val base = documents(s, d).select(col("doc_id"), col("text"))
      val twins = base.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("XX "), col("text")).as("text"))
      // spread: the per-character rolling-hash chunker is the hot loop
      graft.llm.SpanDedup.cdcChunkStats(
        graft.Tables.spreadSmall(base.unionByName(twins)),
        "doc_id", "text")
    }),

    // WordPiece tokenizer: frequency-trained vocabulary (top-300
    // positional substrings + the single-char alphabet, a total
    // (count desc, token asc) order) and greedy LONGEST-match-first
    // segmentation of every word type - the BERT-family apply next to
    // q174/q175's BPE merge learning. The oracle re-derives the
    // identical vocabulary and replays the greedy cursor as a
    // recursive CTE, so one wrong match length or ##-form breaks the
    // hash.
    "q225_wordpiece" -> ((s, d) => {
      graft.llm.WordPiece.segmentCorpus(documents(s, d), "text",
        topK = 300)
    }),

    // word2vec negative-sampling table: unigram^0.75 noise masses in
    // integer micro-units (sqrt-composed 3/4 power - IEEE-exact, pow
    // is not), 2000 62-bit LCG draws rank-selected into word
    // intervals through a BUCKET equi-join on the two-phase cumsum -
    // the q223 skip-gram's noise side, never an inequality join.
    "q229_neg_sampling" -> ((s, d) => {
      graft.llm.SkipGram.negativeTable(documents(s, d), "text",
        nDraws = 2000)
    }),

    // Multinomial Naive Bayes language model FIT: the (class x vocab)
    // Laplace-smoothed log-likelihood grid plus log priors - one
    // corpus fold to vocabulary-bounded counts, zero counts
    // materialized via the vocab x classes cross.
    "q230_nb_model" -> ((s, d) =>
      graft.llm.TextClassify.naiveBayesModel(documents(s, d), "text",
        "lang")),

    // Naive Bayes self-classification readout: argmax class per doc
    // under the q230 model (broadcast grid join, decimal-summed token
    // log terms, 6-dp quantize BEFORE argmax, ties to min class) plus
    // the in-sample correctness flag - the fastText-shaped trained
    // quality/language filter of CCNet-style curation.
    "q231_nb_classify" -> ((s, d) =>
      graft.llm.TextClassify.naiveBayesClassify(documents(s, d),
        "doc_id", "text", "lang")),

    // Chi-square token feature selection against the binary label
    // "is English": per-token 2x2 document-presence contingency
    // (Yang & Pedersen 1997), integer margins, fixed-order double
    // ratio, NULL on degenerate margins.
    "q232_chi2_tokens" -> ((s, d) =>
      graft.llm.TextClassify.chi2Tokens(documents(s, d), "doc_id",
        "text", col("lang") === "en")),

    // Interpolated Kneser-Ney bigram LM: reference counts from the
    // even doc_ids (the q167 split, so the unseen-context and
    // unseen-continuation branches fire), every document scored -
    // absolute discount + continuation-mass interpolation, the
    // smoothing one step up from q167's stupid backoff.
    "q233_kneser_ney" -> ((s, d) => {
      val docs = documents(s, d)
      graft.llm.TextStats.kneserNeyNll(
        docs, "doc_id", "text",
        statsDf = docs.filter(col("doc_id") % 2 === 0),
        statsTextCol = "text")
    }),

    // BLEU-4 over even/odd document pairs (even = candidate, odd =
    // reference): clipped n-gram precisions with Lin-Och +1 smoothing
    // on n>=2 and the brevity penalty - the checkpoint-eval metric.
    "q235_bleu" -> ((s, d) => {
      // spread: clipped n-gram counting runs on the broadcast join's
      // STREAM side, which is otherwise the 1-task scan
      val docs = graft.Tables.spreadSmall(documents(s, d))
      val cand = docs.filter(col("doc_id") % 2 === 0)
        .select(shiftright(col("doc_id"), 1).as("pair_id"),
                col("text").as("cand"))
      val ref = docs.filter(col("doc_id") % 2 === 1)
        .select(shiftright(col("doc_id"), 1).as("pair_id"),
                col("text").as("ref"))
      graft.llm.NgramEval.bleu(cand.join(ref, Seq("pair_id")),
        "pair_id", "cand", "ref", maxN = 4)
    }),

    // ROUGE-1/-2 recall/precision/F1 over the same pairs, long form.
    "q236_rouge" -> ((s, d) => {
      // (no spread: maxN=2 counting is too light to amortize the
      // exchange — measured r15; q235's maxN=4 pays for it)
      val docs = documents(s, d)
      val cand = docs.filter(col("doc_id") % 2 === 0)
        .select(shiftright(col("doc_id"), 1).as("pair_id"),
                col("text").as("cand"))
      val ref = docs.filter(col("doc_id") % 2 === 1)
        .select(shiftright(col("doc_id"), 1).as("pair_id"),
                col("text").as("ref"))
      graft.llm.NgramEval.rougeN(cand.join(ref, Seq("pair_id")),
        "pair_id", "cand", "ref", maxN = 2)
    }),

    // Jensen-Shannon divergence between the en and non-en unigram
    // distributions - the corpus-shift audit between two slices;
    // symmetric, smoothing-free (mixture M > 0 wherever P or Q is).
    "q237_js_divergence" -> ((s, d) => {
      val docs = documents(s, d)
      graft.llm.TextStats.jsDivergence(
        docs.filter(col("lang") === "en"),
        docs.filter(col("lang") =!= "en"), "text")
    }),

    // Zipf rank-frequency fit: ln(freq) on ln(rank) OLS over the full
    // vocabulary; rank via the two-phase bucketed prefix count, never
    // a single-partition window.
    "q238_zipf" -> ((s, d) =>
      graft.llm.TextStats.zipfFit(documents(s, d), "text")),

    // Corpus tokenization under the TRAINED tokenizer feeding packing:
    // learn 6 BPE merges (q174's loop), apply them per word across the
    // corpus (plan-literal replace chain, zero extra shuffle), and
    // first-fit-pack documents by their MODEL-token counts — packed
    // sequence lengths in model tokens, not whitespace tokens, which
    // is the number a training pipeline actually budgets. The oracle
    // replays merge learning (recursive CTE), per-doc BPE token sums,
    // and the first-fit recursion end to end.
    "q239_bpe_packing" -> ((s, d) => {
      val docs = documents(s, d)
      val merges = graft.llm.BpeTrain
        .learnMerges(docs, "text", nMerges = 6)
        .orderBy(col("round")).collect().map(_.getString(1)).toSeq
      val counted = graft.llm.BpeTrain
        .applyMerges(docs, "doc_id", "text", merges)
        .select(col("doc_id"), col("n_bpe_tok"))
      graft.llm.Packing.packBinsFirstFit(counted, "doc_id", "n_bpe_tok",
        budget = 2048, nShards = 8, Seq(col("doc_id").asc))
    }),

    // Unigram-LM (SentencePiece-style) vocabulary selection BY
    // LIKELIHOOD: two EM rounds of Viterbi segmentation over the
    // word-type frame in exact micro-nat integer costs, keeping the
    // topK multi-char units by EM usage — not raw substring frequency
    // (a frequent-but-always-dominated substring gets n_em = 0 and is
    // pruned; the frequency stand-in would keep it). The oracle
    // replays seeding, both DP rounds (recursive CTEs), the backward
    // walks, and the selection cut.
    "q240_unigram_lm" -> ((s, d) =>
      graft.llm.UnigramLm.selectVocab(documents(s, d), "text", topK = 20)),

    // The parameterized-round face of q240: THREE Viterbi-EM rounds
    // (the r10 design ran exactly two, unrolled) on a reduced corpus
    // slice — round 3 re-fits costs from round 2's usage and
    // re-segments, and the topK cut ranks by the round-3 counts. The
    // oracle unrolls all three DP recursions; the slice keeps the
    // word-type frame small enough that the extra DuckDB round stays
    // inside the gate budget.
    "q248_unigram_em3" -> ((s, d) =>
      graft.llm.UnigramLm.selectVocab(
        documents(s, d).filter(col("doc_id") < 300), "text",
        topK = 12, emRounds = 3)),

    // The two tokenizer halves COMPOSED: q240's likelihood-selected
    // vocabulary (kept units) drives q225's greedy longest-match
    // segmentation — corpus segmentation under the EM-trained
    // tokenizer. The oracle chains the full q240 selection replay into
    // the q225 greedy-cursor recursion.
    "q243_unigram_segment" -> ((s, d) => {
      val docs = documents(s, d)
      val kept = graft.util.Bounded.collect(
          graft.llm.UnigramLm.selectVocab(docs, "text", topK = 20)
            .filter(col("kept")).select(col("unit")),
          20 + 4096, "q243 unigram-LM vocabulary")
        .map(_.getString(0)).toSeq.sorted
      graft.llm.WordPiece.segmentWithVocab(docs, "text", kept)
    })
  )

  /** One unigram-LM Viterbi round as DuckDB CTEs (dp/fin/bk/n — the
    * q240 recurrence, parameterized by round index so q248 unrolls
    * round 3 from the same template the hand-written q240 pins). */
  private def unigramRoundSql(r: Int): String =
    s"""dp$r AS (
       |  SELECT w, f, 0 AS i, [CAST(0 AS BIGINT)] AS best, [0] AS lens
       |  FROM w
       |  UNION ALL
       |  SELECT w, f, i,
       |    list_append(best, LEAST(x1, x2, x3, x4)),
       |    list_append(lens, CASE WHEN x1 = LEAST(x1, x2, x3, x4) THEN 1
       |                           WHEN x2 = LEAST(x1, x2, x3, x4) THEN 2
       |                           WHEN x3 = LEAST(x1, x2, x3, x4) THEN 3
       |                           ELSE 4 END)
       |  FROM (
       |    SELECT d.w, d.f, d.i + 1 AS i, d.best, d.lens,
       |      d.best[d.i + 1] + COALESCE(ca.cost, 1000000000000) AS x1,
       |      CASE WHEN d.i >= 1 THEN d.best[d.i]
       |        + COALESCE(cb.cost, 1000000000000)
       |        ELSE 1000000000000 END AS x2,
       |      CASE WHEN d.i >= 2 THEN d.best[d.i - 1]
       |        + COALESCE(cc.cost, 1000000000000)
       |        ELSE 1000000000000 END AS x3,
       |      CASE WHEN d.i >= 3 THEN d.best[d.i - 2]
       |        + COALESCE(cd.cost, 1000000000000)
       |        ELSE 1000000000000 END AS x4
       |    FROM dp$r d
       |    LEFT JOIN k$r ca ON ca.tok = CASE WHEN d.i = 0
       |      THEN substr(d.w, 1, 1) ELSE '##' || substr(d.w, d.i + 1, 1) END
       |    LEFT JOIN k$r cb ON d.i >= 1 AND cb.tok = CASE WHEN d.i = 1
       |      THEN substr(d.w, 1, 2) ELSE '##' || substr(d.w, d.i, 2) END
       |    LEFT JOIN k$r cc ON d.i >= 2 AND cc.tok = CASE WHEN d.i = 2
       |      THEN substr(d.w, 1, 3) ELSE '##' || substr(d.w, d.i - 1, 3) END
       |    LEFT JOIN k$r cd ON d.i >= 3 AND cd.tok = CASE WHEN d.i = 3
       |      THEN substr(d.w, 1, 4) ELSE '##' || substr(d.w, d.i - 2, 4) END
       |    WHERE d.i < len(d.w)) z),
       |fin$r AS MATERIALIZED (SELECT w, f, lens FROM dp$r WHERE i = len(w)),
       |bk$r AS (
       |  SELECT w, f, len(w) AS p, lens, CAST(NULL AS VARCHAR) AS tok
       |  FROM fin$r
       |  UNION ALL
       |  SELECT w, f, p - lens[p + 1], lens,
       |    CASE WHEN p - lens[p + 1] = 0 THEN substr(w, 1, lens[p + 1])
       |         ELSE '##' || substr(w, p - lens[p + 1] + 1, lens[p + 1]) END
       |  FROM bk$r WHERE p > 0),
       |n$r AS MATERIALIZED (SELECT tok, CAST(SUM(f) AS BIGINT) AS n FROM bk$r
       |        WHERE tok IS NOT NULL GROUP BY 1)""".stripMargin

  /** The M-step: the round-r cost model from round r−1's usage counts
    * (single-char smoothing floor, zero-usage multis pruned). */
  private def unigramRefitSql(r: Int): String =
    s"""cnt$r AS MATERIALIZED (SELECT s.tok,
       |           CASE WHEN len(s.tok) = 1
       |                  OR (s.tok LIKE '##%' AND len(s.tok) = 3)
       |                THEN GREATEST(COALESCE(np.n, 0), 1)
       |                ELSE COALESCE(np.n, 0) END AS c
       |         FROM seed s LEFT JOIN n${r - 1} np USING (tok)),
       |cnt${r}f AS MATERIALIZED (SELECT tok, c FROM cnt$r WHERE c > 0),
       |t$r AS MATERIALIZED (SELECT CAST(SUM(c) AS BIGINT) AS tc FROM cnt${r}f),
       |k$r AS MATERIALIZED (SELECT tok, CAST(round(-ln(CAST(c AS DOUBLE)
       |         / CAST(tc AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS cost
       |       FROM cnt${r}f, t$r)""".stripMargin

  val oracles: Map[String, String] = Map(

    // q248: the q240 replay at THREE EM rounds over the doc_id < 300
    // slice — the round template generates dp1..dp3 so the unrolled
    // SQL is the same recurrence q240 pins by hand at two rounds.
    "q248_unigram_em3" -> (
      s"""WITH RECURSIVE
         |w AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (
         |        SELECT unnest($toks) AS w FROM documents
         |        WHERE doc_id < 300)
         |      WHERE len(w) > 0 AND len(w) <= 20 GROUP BY 1),
         |cand AS MATERIALIZED (SELECT w, f, l, unnest(range(1, len(w) - l + 2)) AS s
         |         FROM (SELECT w.w, w.f, unnest([1, 2, 3, 4]) AS l FROM w)
         |         WHERE len(w) >= l),
         |c2 AS MATERIALIZED (SELECT w, f,
         |         CASE WHEN s = 1 THEN substr(w, 1, l)
         |              ELSE '##' || substr(w, s, l) END AS tok
         |       FROM cand),
         |seed AS MATERIALIZED (SELECT tok, CAST(SUM(f) AS BIGINT) AS c FROM c2 GROUP BY 1),
         |t1 AS MATERIALIZED (SELECT CAST(SUM(c) AS BIGINT) AS tc FROM seed),
         |k1 AS MATERIALIZED (SELECT tok, CAST(round(-ln(CAST(c AS DOUBLE)
         |         / CAST(tc AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS cost
         |       FROM seed, t1),
         |""".stripMargin +
      unigramRoundSql(1) + ",\n" + unigramRefitSql(2) + ",\n" +
      unigramRoundSql(2) + ",\n" + unigramRefitSql(3) + ",\n" +
      unigramRoundSql(3) + ",\n" +
      s"""sel AS MATERIALIZED (SELECT s.tok,
         |          (len(s.tok) = 1
         |            OR (s.tok LIKE '##%' AND len(s.tok) = 3)) AS is_single,
         |          s.c AS seed_c, COALESCE(n1.n, 0) AS n_em1,
         |          COALESCE(n3.n, 0) AS n_emf
         |        FROM seed s LEFT JOIN n1 USING (tok)
         |          LEFT JOIN n3 USING (tok)
         |        WHERE (len(s.tok) = 1
         |            OR (s.tok LIKE '##%' AND len(s.tok) = 3))
         |          OR COALESCE(n1.n, 0) > 0),
         |topm AS (SELECT tok FROM sel WHERE NOT is_single AND n_emf > 0
         |         ORDER BY n_emf DESC, tok ASC LIMIT 12)
         |SELECT sel.tok AS unit, sel.is_single,
         |  CAST(sel.seed_c AS BIGINT) AS seed_c,
         |  CAST(sel.n_em1 AS BIGINT) AS n_em1,
         |  CAST(sel.n_emf AS BIGINT) AS n_em_final,
         |  (sel.is_single OR topm.tok IS NOT NULL) AS kept
         |FROM sel LEFT JOIN topm ON sel.tok = topm.tok""".stripMargin),

    "q159_decontaminate" ->
      s"""WITH d AS (SELECT doc_id, list_distinct(list_transform(
         |    range(len($toks) - 2),
         |    i -> array_to_string(list_slice($toks, i + 1, i + 3), ' '))) AS g
         |  FROM documents),
         |b AS (SELECT DISTINCT unnest(g) AS t FROM d WHERE doc_id % 101 = 0),
         |c AS (SELECT doc_id, unnest(g) AS t FROM d WHERE doc_id % 101 <> 0),
         |h AS (SELECT doc_id, COUNT(*) AS n_hits FROM c JOIN b USING (t)
         |      GROUP BY 1),
         |n AS (SELECT doc_id, CAST(len(g) AS BIGINT) AS n_shingles FROM d)
         |SELECT h.doc_id, n_shingles, n_hits,
         |  round(CAST(n_hits AS DOUBLE) /
         |        CAST(greatest(n_shingles, 1) AS DOUBLE), 4) AS overlap_ratio,
         |  n_hits >= 2 AS contaminated
         |FROM h JOIN n ON h.doc_id = n.doc_id""".stripMargin,

    "q160_time_split" ->
      """WITH t AS (
        |  SELECT user_id, ts,
        |    CASE WHEN ts < TIMESTAMP '2024-01-18 00:00:00' THEN 'train'
        |         WHEN ts < TIMESTAMP '2024-01-21 00:00:00' THEN 'purged'
        |         ELSE 'test' END AS split
        |  FROM events),
        |per AS (SELECT split, COUNT(*) AS n_rows,
        |          COUNT(DISTINCT user_id) AS n_units,
        |          MIN(epoch_us(ts)) AS min_ts_us,
        |          MAX(epoch_us(ts)) AS max_ts_us
        |        FROM t GROUP BY 1),
        |pairs AS (SELECT DISTINCT split, user_id FROM t),
        |shared AS (SELECT p.split, COUNT(*) AS n_units_in_train
        |           FROM pairs p JOIN (SELECT user_id FROM pairs
        |                              WHERE split = 'train') tr
        |             ON p.user_id = tr.user_id
        |           GROUP BY 1)
        |SELECT per.split, n_rows, n_units, min_ts_us, max_ts_us,
        |  CAST(COALESCE(n_units_in_train, 0) AS BIGINT) AS n_units_in_train
        |FROM per LEFT JOIN shared ON per.split = shared.split""".stripMargin,

    "q161_woe_encode" ->
      """WITH c AS (
        |  SELECT o_orderpriority, COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_pos,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END)
        |         AS BIGINT) AS n_neg
        |  FROM orders GROUP BY 1),
        |t AS (SELECT SUM(n_pos) AS p, SUM(n_neg) AS nn FROM c)
        |SELECT o_orderpriority, n, n_pos, n_neg,
        |  round(ln(((CAST(n_pos AS DOUBLE) + 0.5) / CAST(p AS DOUBLE)) /
        |           ((CAST(n_neg AS DOUBLE) + 0.5) / CAST(nn AS DOUBLE))), 6)
        |    AS woe,
        |  round(((CAST(n_pos AS DOUBLE) + 0.5) / CAST(p AS DOUBLE) -
        |         (CAST(n_neg AS DOUBLE) + 0.5) / CAST(nn AS DOUBLE)) *
        |        ln(((CAST(n_pos AS DOUBLE) + 0.5) / CAST(p AS DOUBLE)) /
        |           ((CAST(n_neg AS DOUBLE) + 0.5) / CAST(nn AS DOUBLE))), 6)
        |    AS iv_term
        |FROM c, t""".stripMargin,

    "q163_bradley_terry" ->
      """WITH RECURSIVE
        |m AS (SELECT l_suppkey % 20 AS a, l_partkey % 20 AS b,
        |             l_quantity > 25 AS awin
        |      FROM lineitem WHERE l_suppkey % 20 <> l_partkey % 20),
        |p AS (SELECT least(a, b) AS i, greatest(a, b) AS j, COUNT(*) AS n
        |      FROM m GROUP BY 1, 2),
        |e AS (SELECT i AS a, j AS b, n FROM p
        |      UNION ALL SELECT j, i, n FROM p),
        |w AS (SELECT item, COUNT(*) AS wins FROM
        |        (SELECT CASE WHEN awin THEN a ELSE b END AS item FROM m)
        |      GROUP BY 1),
        |nm AS (SELECT a AS item, CAST(SUM(n) AS BIGINT) AS n_matches
        |       FROM e GROUP BY 1),
        |it AS (
        |  SELECT item, CAST(1.0 AS DOUBLE) AS r, 0 AS step FROM nm
        |  UNION ALL
        |  SELECT d.item,
        |    round(CAST(COALESCE(w.wins, 0) AS DOUBLE)
        |          / CAST(d.den AS DOUBLE), 9) AS r,
        |    d.step + 1
        |  FROM (
        |    SELECT cur.item, cur.step,
        |      SUM(CAST(round(CAST(e.n AS DOUBLE) / (cur.r + oth.r), 9)
        |               AS DECIMAL(38,9))) AS den
        |    FROM it cur
        |    JOIN e ON e.a = cur.item
        |    JOIN it oth ON oth.item = e.b AND oth.step = cur.step
        |    GROUP BY 1, 2) d
        |  LEFT JOIN w ON w.item = d.item
        |  WHERE d.step < 20),
        |fin AS (SELECT item, r FROM it WHERE step = 20),
        |s AS (SELECT CAST(SUM(CAST(r AS DECIMAL(38,9))) AS DOUBLE) AS sr,
        |             COUNT(*) AS k FROM fin)
        |SELECT fin.item, nm.n_matches,
        |  CAST(COALESCE(w.wins, 0) AS BIGINT) AS wins,
        |  round(CAST(k AS DOUBLE) * r / sr, 6) AS rating
        |FROM fin JOIN nm USING (item)
        |LEFT JOIN w ON w.item = fin.item, s""".stripMargin,

    "q164_kcore" ->
      """WITH RECURSIVE
        |eraw AS (SELECT DISTINCT l_orderkey % 997 AS a,
        |                1000000 + l_partkey % 499 AS b
        |         FROM lineitem WHERE l_linenumber = 1),
        |e AS (SELECT a AS u, b AS v FROM eraw
        |      UNION ALL SELECT b, a FROM eraw),
        |it AS (
        |  SELECT DISTINCT u AS node, 0 AS step FROM e
        |  UNION ALL
        |  SELECT node, step + 1 AS step FROM (
        |    SELECT e.u AS node, cur.step, COUNT(*) AS d
        |    FROM it cur
        |    JOIN e ON e.u = cur.node
        |    JOIN it al ON al.node = e.v AND al.step = cur.step
        |    GROUP BY 1, 2) t
        |  WHERE d >= 8 AND step < 30),
        |fin AS (SELECT node FROM it WHERE step = 30)
        |SELECT e.u AS node, COUNT(*) AS deg_in_core
        |FROM e JOIN fin fa ON fa.node = e.u
        |       JOIN fin fb ON fb.node = e.v
        |GROUP BY 1""".stripMargin,

    "q165_kcenter" ->
      """WITH RECURSIVE
        |pts AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        |        FROM embeddings WHERE vec_id < 200),
        |it AS (
        |  SELECT CAST(1 AS BIGINT) AS iter, CAST(1 AS BIGINT) AS step,
        |         CAST((SELECT MIN(id) FROM pts) AS BIGINT) AS center_id,
        |         CAST(0 AS BIGINT) AS r2q
        |  UNION ALL
        |  SELECT * FROM (
        |    SELECT iter + 1 AS iter, step, center_id, r2q
        |    FROM it WHERE iter < 8
        |    UNION ALL
        |    SELECT mx.iter + 1 AS iter, mx.iter + 1 AS step,
        |           999999 - (mx.k % 1000000) AS center_id,
        |           mx.k // 1000000 AS r2q
        |    FROM (
        |      SELECT pm.iter,
        |             MAX(pm.qmin * 1000000 + (999999 - pm.id)) AS k
        |      FROM (
        |        SELECT c.iter, p.id,
        |               MIN(CAST(round((list_dot_product(p.v, p.v)
        |                               + list_dot_product(pc.v, pc.v)
        |                               - 2 * list_dot_product(p.v, pc.v))
        |                              * 1e9, 0) AS BIGINT)) AS qmin
        |        FROM it c
        |        JOIN pts pc ON pc.id = c.center_id
        |        CROSS JOIN pts p
        |        GROUP BY 1, 2) pm
        |      GROUP BY 1) mx
        |    WHERE mx.iter < 8))
        |SELECT step, center_id, r2q FROM it WHERE iter = 8""".stripMargin,

    "q166_equidepth" ->
      """WITH r AS (
        |  SELECT l_extendedprice AS x,
        |    row_number() OVER (ORDER BY l_extendedprice, l_orderkey,
        |                                l_linenumber) - 1 AS rk,
        |    COUNT(*) OVER () AS n
        |  FROM lineitem)
        |SELECT (rk * 16) // n AS bucket, COUNT(*) AS n_rows,
        |  MIN(x) AS lo, MAX(x) AS hi,
        |  COUNT(DISTINCT x) AS n_distinct
        |FROM r GROUP BY 1""".stripMargin,

    "q167_backoff_lm" ->
      s"""WITH g AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(len($toks) - 1),
         |      i -> array_to_string(list_slice($toks, i + 1, i + 2), ' ')))
         |      AS gram
         |  FROM documents),
         |gs AS (SELECT doc_id, gram,
         |         string_split(gram, ' ')[1] AS w1,
         |         string_split(gram, ' ')[2] AS w2 FROM g),
         |c2 AS (SELECT gram, COUNT(*) AS c2 FROM g
         |       WHERE doc_id % 2 = 0 GROUP BY 1),
         |c1 AS (SELECT w, COUNT(*) AS c1 FROM (
         |         SELECT unnest($toks) AS w FROM documents
         |         WHERE doc_id % 2 = 0) GROUP BY 1),
         |tot AS (SELECT CAST(SUM(len($toks)) AS DOUBLE) AS total
         |        FROM documents WHERE doc_id % 2 = 0),
         |scored AS (
         |  SELECT gs.doc_id,
         |    CASE WHEN c2.c2 IS NOT NULL AND a.c1 IS NOT NULL
         |         THEN CAST(c2.c2 AS DOUBLE) / CAST(a.c1 AS DOUBLE)
         |         WHEN b.c1 IS NOT NULL
         |         THEN 0.4 * CAST(b.c1 AS DOUBLE) / total
         |         ELSE 0.4 * 0.5 / total END AS s,
         |    CASE WHEN c2.c2 IS NULL OR a.c1 IS NULL THEN 1 ELSE 0 END
         |      AS backoff
         |  FROM gs
         |  LEFT JOIN c2 ON gs.gram = c2.gram
         |  LEFT JOIN c1 a ON gs.w1 = a.w
         |  LEFT JOIN c1 b ON gs.w2 = b.w
         |  CROSS JOIN tot)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  round(CAST(SUM(CAST(-ln(s) AS DECIMAL(30,6))) AS DOUBLE)
         |        / COUNT(*), 4) AS mean_neg_ln_s,
         |  CAST(SUM(backoff) AS BIGINT) AS n_backoff
         |FROM scored GROUP BY 1""".stripMargin,

    "q168_ipw_effect" ->
      """WITH u AS (
        |  SELECT user_id, COUNT(*) AS n_ev,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np,
        |    CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS ysum
        |  FROM events GROUP BY 1),
        |units AS (
        |  SELECT user_id, np * 5 > n_ev AS treated,
        |    round(ysum / CAST(n_ev AS DOUBLE), 6) AS y,
        |    n_ev // 25 AS stratum
        |  FROM u),
        |ps AS (
        |  SELECT stratum, COUNT(*) AS ns,
        |    CAST(SUM(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT) AS nt
        |  FROM units GROUP BY 1),
        |pe AS (SELECT stratum,
        |         round(CAST(nt AS DOUBLE) / CAST(ns AS DOUBLE), 9) AS e
        |       FROM ps),
        |j AS (SELECT units.*, e, e > 0.0 AND e < 1.0 AS ok,
        |        CASE WHEN treated THEN 1.0 ELSE 0.0 END / e AS w1,
        |        CASE WHEN treated THEN 0.0 ELSE 1.0 END / (1.0 - e) AS w0
        |      FROM units JOIN pe USING (stratum)),
        |agg AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN ok AND treated THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_treat,
        |    CAST(SUM(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_dropped,
        |    CAST(SUM(CASE WHEN ok THEN
        |      CAST(round(w1 * y * 1000000.0, 0) AS DECIMAL(19,0))
        |      ELSE CAST(0 AS DECIMAL(19,0)) END) AS DOUBLE) AS sy1,
        |    CAST(SUM(CASE WHEN ok THEN
        |      CAST(round(w1 * 1000000.0, 0) AS DECIMAL(19,0))
        |      ELSE CAST(0 AS DECIMAL(19,0)) END) AS DOUBLE) AS sw1,
        |    CAST(SUM(CASE WHEN ok THEN
        |      CAST(round(w0 * y * 1000000.0, 0) AS DECIMAL(19,0))
        |      ELSE CAST(0 AS DECIMAL(19,0)) END) AS DOUBLE) AS sy0,
        |    CAST(SUM(CASE WHEN ok THEN
        |      CAST(round(w0 * 1000000.0, 0) AS DECIMAL(19,0))
        |      ELSE CAST(0 AS DECIMAL(19,0)) END) AS DOUBLE) AS sw0
        |  FROM j)
        |SELECT n, n_treat, n_dropped,
        |  round(sy1 / sw1, 6) AS mu_treated,
        |  round(sy0 / sw0, 6) AS mu_control,
        |  round(sy1 / sw1 - sy0 / sw0, 6) AS ate
        |FROM agg""".stripMargin,

    "q169_markov" ->
      """WITH p AS (
        |  SELECT event_type AS from_state,
        |    lead(event_type) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id) AS to_state
        |  FROM events),
        |c AS (SELECT from_state, to_state, COUNT(*) AS n
        |      FROM p WHERE to_state IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_state, SUM(n) AS tot FROM c GROUP BY 1)
        |SELECT c.from_state, to_state, n,
        |  round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS p
        |FROM c JOIN t ON c.from_state = t.from_state""".stripMargin,

    "q170_kaplan_meier" ->
      """WITH RECURSIVE
        |pu AS (SELECT user_id, MIN(ts) AS f, MAX(ts) AS l
        |       FROM events GROUP BY 1),
        |u AS (SELECT date_diff('day', CAST(f AS DATE), CAST(l AS DATE)) AS t,
        |             l >= TIMESTAMP '2024-01-29 00:00:00' AS censored
        |      FROM pu),
        |rt AS (SELECT t,
        |        CAST(SUM(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT) AS d,
        |        CAST(SUM(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT) AS c
        |       FROM u GROUP BY 1),
        |r2 AS (SELECT t, d, c, row_number() OVER (ORDER BY t) AS rn,
        |        CAST((SELECT COUNT(*) FROM u)
        |          - COALESCE(SUM(d + c) OVER (ORDER BY t
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS BIGINT) AS n_risk
        |       FROM rt),
        |walk AS (
        |  SELECT rn, t, n_risk, d, c,
        |    round(1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE), 9) AS s
        |  FROM r2 WHERE rn = 1
        |  UNION ALL
        |  SELECT r2.rn, r2.t, r2.n_risk, r2.d, r2.c,
        |    round(walk.s * (1.0 - CAST(r2.d AS DOUBLE)
        |                          / CAST(r2.n_risk AS DOUBLE)), 9)
        |  FROM walk JOIN r2 ON r2.rn = walk.rn + 1)
        |SELECT t, n_risk, d AS n_death, c AS n_censored,
        |  round(s, 6) AS survival
        |FROM walk""".stripMargin,

    "q171_label_prop" ->
      """WITH RECURSIVE
        |eraw AS (SELECT DISTINCT l_orderkey % 997 AS a,
        |                1000000 + l_partkey % 499 AS b
        |         FROM lineitem WHERE l_linenumber = 1),
        |e AS (SELECT a AS u, b AS v FROM eraw
        |      UNION ALL SELECT b, a FROM eraw),
        |it AS (
        |  SELECT DISTINCT u AS node, u AS label, 0 AS step FROM e
        |  UNION ALL
        |  SELECT t.u AS node,
        |    2097151 - (t.k % 2097152) AS label,
        |    t.step + 1 AS step
        |  FROM (
        |    SELECT cnt.u, cnt.step,
        |      MAX(cnt.c * 2097152 + (2097151 - cnt.label)) AS k
        |    FROM (
        |      SELECT e.u, lv.step, lv.label, COUNT(*) AS c
        |      FROM e JOIN it lv ON lv.node = e.v
        |      GROUP BY 1, 2, 3) cnt
        |    GROUP BY 1, 2) t
        |  WHERE t.step < 8)
        |SELECT label AS community, COUNT(*) AS n_members
        |FROM it WHERE step = 8 GROUP BY 1""".stripMargin,

    "q172_theil_sen" ->
      """WITH s0 AS (
        |  SELECT user_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events),
        |s1 AS (SELECT user_id, rn, value FROM s0 WHERE rn <= 50),
        |sl AS (
        |  SELECT a.user_id,
        |    round((b.value - a.value) / CAST(b.rn - a.rn AS DOUBLE), 9) AS s
        |  FROM s1 a JOIN s1 b
        |    ON a.user_id = b.user_id AND a.rn < b.rn),
        |r AS (
        |  SELECT user_id, s,
        |    COUNT(*) OVER (PARTITION BY user_id) AS cnt,
        |    row_number() OVER (PARTITION BY user_id ORDER BY s) AS rk
        |  FROM sl)
        |SELECT user_id, MAX(cnt) AS n_pairs,
        |  round(SUM(s) / COUNT(*), 6) AS slope_median
        |FROM r
        |WHERE rk = (cnt + 1) // 2 OR rk = (cnt + 2) // 2
        |GROUP BY 1""".stripMargin,

    // q246: frame set and value counts exact; the error bound is the
    // Spark-side claim against the generative per-frame plane.
    "q246_mjpeg_frames" ->
      """WITH v AS (SELECT * FROM (VALUES (1, 16, 12, 3), (2, 13, 9, 2))
        |             t(video_id, w, h, n)),
        |f AS (SELECT video_id, w, h, unnest(range(n)) AS frame_idx FROM v)
        |SELECT CAST(video_id AS BIGINT) AS video_id,
        |  CAST(frame_idx AS INT) AS frame_idx,
        |  CAST(w * h * 3 AS BIGINT) AS n_values, TRUE AS max_err_le_6
        |FROM f""".stripMargin,

    "q173_video_meta" ->
      """SELECT CAST(video_id AS BIGINT) AS video_id, format, brand,
        |  CAST(timescale AS BIGINT) AS timescale,
        |  CAST(duration AS BIGINT) AS duration,
        |  CAST(width AS INT) AS width, CAST(height AS INT) AS height,
        |  CAST(duration * 1000 // timescale AS BIGINT) AS duration_ms
        |FROM (VALUES
        |  (1, 'mp4', 'isom', 600, 1200, 640, 360),
        |  (2, 'mp4', 'mp42', 90000, 630000, 1920, 1080),
        |  (3, 'mp4', 'avc1', 1000, 2500, 320, 240),
        |  (4, 'mp4', 'isom', NULL, NULL, NULL, NULL),
        |  (5, 'webm', NULL, NULL, NULL, NULL, NULL),
        |  (6, 'avi', NULL, NULL, NULL, NULL, NULL),
        |  (7, 'unknown', NULL, NULL, NULL, NULL, NULL),
        |  (8, 'avi', NULL, 1000000, 200000, 12, 8)
        |) AS t(video_id, format, brand, timescale, duration, width,
        |       height)""".stripMargin,

    "q174_bpe_learn" ->
      s"""WITH RECURSIVE
         |w AS (SELECT w, COUNT(*) AS cnt FROM (
         |        SELECT unnest($toks) AS w FROM documents) GROUP BY 1),
         |v0 AS (SELECT ' ' || array_to_string(string_split(w, ''), '  ')
         |              || ' ' AS sp, cnt FROM w),
         |it AS (
         |  SELECT sp, cnt, 0 AS step, CAST(NULL AS VARCHAR) AS merged_pair,
         |         CAST(NULL AS BIGINT) AS pair_count
         |  FROM v0
         |  UNION ALL
         |  SELECT replace(it.sp, ' ' || tp.a || '  ' || tp.b || ' ',
         |                 ' ' || tp.a || tp.b || ' '),
         |         it.cnt, it.step + 1, tp.pair, tp.pc
         |  FROM it, (
         |    SELECT pair, pc,
         |           string_split(pair, ' ')[1] AS a,
         |           string_split(pair, ' ')[2] AS b
         |    FROM (
         |      SELECT pair, CAST(SUM(cnt) AS BIGINT) AS pc FROM (
         |        SELECT unnest(list_transform(
         |          range(len(string_split(trim(sp), '  ')) - 1),
         |          i -> array_to_string(list_slice(string_split(trim(sp), '  '),
         |                                          i + 1, i + 2), ' ')))
         |          AS pair, cnt
         |        FROM it) z
         |      GROUP BY 1
         |      ORDER BY pc DESC, pair LIMIT 1)) tp
         |  WHERE it.step < 6)
         |SELECT DISTINCT step AS round, merged_pair, pair_count
         |FROM it WHERE step >= 1""".stripMargin,

    "q175_bpe_compress" ->
      s"""WITH RECURSIVE
         |w AS (SELECT w, COUNT(*) AS cnt FROM (
         |        SELECT unnest($toks) AS w FROM documents) GROUP BY 1),
         |v0 AS (SELECT w, ' ' || array_to_string(string_split(w, ''), '  ')
         |              || ' ' AS sp, cnt FROM w),
         |it AS (
         |  SELECT w, sp, cnt, 0 AS step FROM v0
         |  UNION ALL
         |  SELECT it.w,
         |         replace(it.sp, ' ' || tp.a || '  ' || tp.b || ' ',
         |                 ' ' || tp.a || tp.b || ' '),
         |         it.cnt, it.step + 1
         |  FROM it, (
         |    SELECT string_split(pair, ' ')[1] AS a,
         |           string_split(pair, ' ')[2] AS b
         |    FROM (
         |      SELECT pair, SUM(cnt) AS pc FROM (
         |        SELECT unnest(list_transform(
         |          range(len(string_split(trim(sp), '  ')) - 1),
         |          i -> array_to_string(list_slice(string_split(trim(sp), '  '),
         |                                          i + 1, i + 2), ' ')))
         |          AS pair, cnt
         |        FROM it) z
         |      GROUP BY 1
         |      ORDER BY pc DESC, pair LIMIT 1)) tp
         |  WHERE it.step < 6),
         |map AS (SELECT w, len(string_split(trim(sp), '  ')) AS n_bpe
         |        FROM it WHERE step = 6),
         |dt AS (SELECT doc_id, lang, unnest($toks) AS w FROM documents),
         |per AS (SELECT doc_id, lang,
         |          CAST(SUM(length(dt.w)) AS BIGINT) AS n_chars_tok,
         |          CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tok
         |        FROM dt JOIN map ON dt.w = map.w GROUP BY 1, 2)
         |SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars_tok) AS BIGINT) AS sum_chars_tok,
         |  CAST(SUM(n_bpe_tok) AS BIGINT) AS sum_bpe_tok,
         |  round(CAST(SUM(n_bpe_tok) AS DOUBLE)
         |        / CAST(SUM(n_chars_tok) AS DOUBLE), 4) AS compression
         |FROM per GROUP BY 1""".stripMargin,

    "q176_bootstrap_ci" ->
      s"""WITH base AS (SELECT l_orderkey*10 + l_linenumber AS id,
         |                     l_extendedprice AS x FROM lineitem),
         |e AS (SELECT id, CAST(round(x * 1000000.0, 0) AS BIGINT) AS xq,
         |             unnest(range(64)) AS rep FROM base),
         |uu AS (SELECT rep, xq,
         |         (${lcgSql("id*64 + rep")}) >> 16 AS u15
         |       FROM e),
         |wts AS (SELECT rep, xq,
         |  CASE WHEN u15 < 12055 THEN 0
         |       WHEN u15 < 24110 THEN 1
         |       WHEN u15 < 30137 THEN 2
         |       WHEN u15 < 32146 THEN 3
         |       WHEN u15 < 32649 THEN 4
         |       WHEN u15 < 32749 THEN 5
         |       WHEN u15 < 32766 THEN 6
         |       ELSE 7 END AS w
         |  FROM uu),
         |reps AS (SELECT rep,
         |  round(CAST(SUM(CAST(w * xq AS DECIMAL(38,0))) AS DOUBLE)
         |        / 1000000.0 / CAST(SUM(w) AS DOUBLE), 9) AS m
         |  FROM wts GROUP BY 1),
         |rk AS (SELECT m, rep,
         |         row_number() OVER (ORDER BY m, rep) AS rk FROM reps),
         |b AS (SELECT COUNT(*) AS n,
         |        round(CAST(SUM(CAST(round(x * 1000000.0, 0)
         |                            AS DECIMAL(19,0))) AS DOUBLE)
         |              / 1000000.0 / CAST(COUNT(*) AS DOUBLE), 6) AS mean
         |      FROM base)
         |SELECT n, mean,
         |  (SELECT round(m, 6) FROM rk WHERE rk = 2) AS ci_lo,
         |  (SELECT round(m, 6) FROM rk WHERE rk = 63) AS ci_hi
         |FROM b""".stripMargin,

    "q177_isotonic" ->
      """WITH b0 AS (SELECT
        |  CASE WHEN o_totalprice < 0 THEN -1
        |       WHEN o_totalprice > 500000 THEN 10
        |       ELSE LEAST(CAST(FLOOR(o_totalprice / 50000.0) AS INT), 9)
        |  END AS bin,
        |  CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |bins AS (SELECT bin, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos,
        |           round(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |             AS pos_rate
        |         FROM b0 WHERE bin >= 0 AND bin < 10 GROUP BY 1),
        |pre AS (SELECT a.bin,
        |          CAST(COALESCE(SUM(b.n), 0) AS BIGINT) AS pn,
        |          CAST(COALESCE(SUM(b.n_pos), 0) AS BIGINT) AS pp
        |        FROM bins a LEFT JOIN bins b ON b.bin < a.bin GROUP BY 1),
        |cum AS (SELECT bins.bin, n, n_pos, pos_rate,
        |          pn + n AS cn, pp + n_pos AS cp
        |        FROM bins JOIN pre ON bins.bin = pre.bin),
        |means AS (SELECT j.bin AS j, k.bin AS k,
        |            CAST(k.cp - j.cp + j.n_pos AS DOUBLE)
        |              / CAST(k.cn - j.cn + j.n AS DOUBLE) AS m
        |          FROM cum j JOIN cum k ON j.bin <= k.bin),
        |iso AS (SELECT i, MAX(mn) AS iso FROM (
        |          SELECT i.bin AS i, means.j, MIN(means.m) AS mn
        |          FROM means JOIN bins i
        |            ON means.j <= i.bin AND means.k >= i.bin
        |          GROUP BY 1, 2) t
        |        GROUP BY 1)
        |SELECT bin, n, pos_rate, round(iso, 6) AS iso_rate
        |FROM bins JOIN iso ON bin = i""".stripMargin,

    "q178_k_anonymity" ->
      """WITH cells AS (
        |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
        |    COUNT(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg'
        |                        ELSE 'nonneg' END) AS l
        |  FROM customer GROUP BY 1, 2)
        |SELECT CAST(SUM(n) AS BIGINT) AS n_rows, COUNT(*) AS n_cells,
        |  MIN(n) AS k_anonymity, CAST(MIN(l) AS BIGINT) AS l_diversity,
        |  CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_cells_k_lt_5
        |FROM cells""".stripMargin,

    "q179_contribution_cap" ->
      """WITH r AS (
        |  SELECT event_type,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events),
        |raw AS (SELECT event_type, COUNT(*) AS n_raw FROM r GROUP BY 1),
        |cap AS (SELECT event_type, COUNT(*) AS n_capped FROM r
        |        WHERE rn <= 40 GROUP BY 1)
        |SELECT raw.event_type, n_raw, n_capped,
        |  round(1.0 - CAST(n_capped AS DOUBLE) / CAST(n_raw AS DOUBLE), 6)
        |    AS clipped_frac
        |FROM raw JOIN cap ON raw.event_type = cap.event_type""".stripMargin,

    "q180_dbscan" ->
      """WITH RECURSIVE
        |p AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e
        |      FROM embeddings),
        |pts AS (SELECT id, e[1] AS x, e[2] AS y FROM p),
        |pairs AS (SELECT a.id AS ida, b.id AS idb FROM pts a, pts b
        |  WHERE a.id <> b.id
        |    AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 0.03*0.03),
        |nc AS (SELECT ida, COUNT(*) AS n FROM pairs GROUP BY 1),
        |core AS (SELECT ida AS id FROM nc WHERE n + 1 >= 5),
        |ce AS (SELECT ida, idb FROM pairs
        |       WHERE ida IN (SELECT id FROM core)
        |         AND idb IN (SELECT id FROM core)),
        |walk AS (
        |  SELECT ida AS node, ida AS reach
        |  FROM (SELECT DISTINCT ida FROM ce)
        |  UNION
        |  SELECT w.node, c.idb FROM walk w JOIN ce c ON c.ida = w.reach),
        |lab AS (SELECT node, MIN(reach) AS label FROM walk GROUP BY 1),
        |corelab AS (SELECT core.id, COALESCE(lab.label, core.id) AS cluster
        |            FROM core LEFT JOIN lab ON lab.node = core.id),
        |border AS (SELECT pairs.ida AS id, MIN(cl.cluster) AS cluster
        |           FROM pairs JOIN corelab cl ON pairs.idb = cl.id
        |           WHERE pairs.ida NOT IN (SELECT id FROM core)
        |           GROUP BY 1),
        |lb AS (SELECT id, cluster, 'core' AS role FROM corelab
        |       UNION ALL SELECT id, cluster, 'border' AS role FROM border)
        |SELECT pts.id, COALESCE(lb.role, 'noise') AS role, lb.cluster
        |FROM pts LEFT JOIN lb ON pts.id = lb.id""".stripMargin,

    "q216_dbscan_overflow" ->
      """SELECT CAST(floor(e[1] / 0.03) AS BIGINT) AS cx,
        |  CAST(floor(e[2] / 0.03) AS BIGINT) AS cy,
        |  CAST(COUNT(*) AS BIGINT) AS n_points
        |FROM (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
        |GROUP BY 1, 2
        |HAVING COUNT(*) > 8""".stripMargin,

    "q181_pca_power" ->
      """WITH RECURSIVE
        |e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |idx AS (SELECT unnest(range(8)) AS i),
        |mom AS (
        |  SELECT a.i, b.i AS j,
        |    SUM(CAST(round(e.v[a.i + 1] * e.v[b.i + 1] * 1000000.0, 0)
        |             AS DECIMAL(19,0))) AS pd
        |  FROM e, idx a, idx b GROUP BY 1, 2),
        |sv AS (SELECT i, SUM(CAST(round(e.v[i + 1] * 1000000.0, 0)
        |                          AS DECIMAL(19,0))) AS sd
        |       FROM e, idx GROUP BY 1),
        |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM e),
        |cov AS (
        |  SELECT mom.i, mom.j,
        |    round((CAST(pd AS DOUBLE) / 1000000.0
        |           - (CAST(a.sd AS DOUBLE) / 1000000.0)
        |             * (CAST(b.sd AS DOUBLE) / 1000000.0) / n) / n, 9) AS c
        |  FROM mom JOIN sv a ON mom.i = a.i JOIN sv b ON mom.j = b.i, nn),
        |it AS (
        |  SELECT i, CAST(1.0 AS DOUBLE) AS v, CAST(0.0 AS DOUBLE) AS lam,
        |         0 AS step
        |  FROM idx
        |  UNION ALL
        |  SELECT w.i, round(w.w / m.m, 9) AS v, m.m AS lam, w.step + 1
        |  FROM (
        |    SELECT cov.i, cur.step,
        |      CAST(SUM(CAST(round(cov.c * cur.v, 9) AS DECIMAL(38,9)))
        |           AS DOUBLE) AS w
        |    FROM cov JOIN it cur ON cov.j = cur.i
        |    GROUP BY 1, 2) w,
        |  (SELECT w2.w AS m, w2.step AS ms FROM (
        |     SELECT cov.i, cur.step,
        |       CAST(SUM(CAST(round(cov.c * cur.v, 9) AS DECIMAL(38,9)))
        |            AS DOUBLE) AS w
        |     FROM cov JOIN it cur ON cov.j = cur.i
        |     GROUP BY 1, 2) w2
        |   ORDER BY abs(w2.w) DESC, w2.i LIMIT 1) m
        |  WHERE w.step < 30 AND w.step = m.ms)
        |SELECT i AS dim, v AS loading, round(lam, 9) AS eigenvalue
        |FROM it WHERE step = 30""".stripMargin,

    "q182_bfs_layers" ->
      """WITH RECURSIVE
        |eraw AS (SELECT DISTINCT l_orderkey % 997 AS a,
        |                1000000 + l_partkey % 499 AS b
        |         FROM lineitem WHERE l_linenumber = 1),
        |e AS (SELECT a AS u, b AS v FROM eraw
        |      UNION ALL SELECT b, a FROM eraw),
        |walk AS (
        |  SELECT DISTINCT a AS node, CAST(0 AS BIGINT) AS dist
        |  FROM eraw WHERE a < 10
        |  UNION
        |  SELECT e.v AS node, walk.dist + 1 AS dist
        |  FROM walk JOIN e ON e.u = walk.node
        |  WHERE walk.dist < 32)
        |SELECT node, MIN(dist) AS dist FROM walk GROUP BY 1""".stripMargin,

    "q183_ranking_metrics" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
        |           FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 20),
        |ret AS (SELECT qid, cid, rn AS rank FROM (
        |  SELECT qid, e.vec_id AS cid,
        |    row_number() OVER (PARTITION BY qid ORDER BY
        |      list_dot_product(qv, v)
        |        / (sqrt(list_dot_product(qv, qv))
        |           * sqrt(list_dot_product(v, v))) DESC, e.vec_id) AS rn
        |  FROM q, e WHERE qid <> e.vec_id) WHERE rn <= 10),
        |rel AS (SELECT a.vec_id AS qid, b.vec_id AS cid
        |        FROM e a JOIN e b ON a.label = b.label
        |        WHERE a.vec_id < 20 AND a.vec_id <> b.vec_id),
        |nr AS (SELECT qid, COUNT(*) AS n_rel FROM rel GROUP BY 1),
        |hits AS (SELECT ret.qid, COUNT(*) AS n_hits, MIN(rank) AS minr,
        |    CAST(SUM(CAST(round(1.0 / (ln(CAST(rank AS DOUBLE) + 1.0)
        |                               / ln(2.0)), 9)
        |                  AS DECIMAL(19,9))) AS DOUBLE) AS dcg
        |  FROM ret JOIN rel ON ret.qid = rel.qid AND ret.cid = rel.cid
        |  GROUP BY 1),
        |ideal AS (SELECT qid,
        |    CAST(SUM(CAST(round(1.0 / (ln(CAST(i AS DOUBLE) + 1.0)
        |                               / ln(2.0)), 9)
        |                  AS DECIMAL(19,9))) AS DOUBLE) AS idcg
        |  FROM (SELECT qid, unnest(range(1, least(n_rel, 10) + 1)) AS i
        |        FROM nr)
        |  GROUP BY 1)
        |SELECT nr.qid, nr.n_rel,
        |  CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
        |  round(1.0 / CAST(minr AS DOUBLE), 6) AS mrr,
        |  round(CAST(COALESCE(n_hits, 0) AS DOUBLE) / 10, 6)
        |    AS precision_at_10,
        |  round(COALESCE(dcg, 0.0) / idcg, 6) AS ndcg_at_10
        |FROM nr LEFT JOIN hits ON nr.qid = hits.qid
        |        LEFT JOIN ideal ON nr.qid = ideal.qid""".stripMargin,

    "q184_attribution" ->
      """WITH conv AS (SELECT user_id, ts AS cts, event_id AS cid
        |              FROM events WHERE event_type = 'purchase'),
        |touch AS (SELECT user_id, ts AS tts, event_id AS tid,
        |                 event_type AS channel
        |          FROM events
        |          WHERE event_type IN ('view', 'click', 'signup')),
        |j AS (SELECT conv.user_id, cid, tts, tid, channel,
        |        COUNT(*) OVER (PARTITION BY conv.user_id, cid) AS n,
        |        row_number() OVER (PARTITION BY conv.user_id, cid
        |                           ORDER BY tts, tid) AS rnF,
        |        row_number() OVER (PARTITION BY conv.user_id, cid
        |                           ORDER BY tts DESC, tid DESC) AS rnL
        |      FROM conv JOIN touch ON conv.user_id = touch.user_id
        |        AND tts <= cts AND tts > cts - INTERVAL 3 DAY),
        |att AS (SELECT channel,
        |    CAST(SUM(CASE WHEN rnF = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS conv_first,
        |    CAST(SUM(CASE WHEN rnL = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS conv_last,
        |    round(CAST(SUM(CAST(round(1.0 / CAST(n AS DOUBLE), 9)
        |                        AS DECIMAL(19,9))) AS DOUBLE), 6)
        |      AS conv_linear
        |  FROM j GROUP BY 1),
        |none AS (SELECT '(none)' AS channel, COUNT(*) AS c
        |         FROM conv WHERE cid NOT IN (SELECT DISTINCT cid FROM j))
        |SELECT channel, conv_first, conv_last, conv_linear FROM att
        |UNION ALL
        |SELECT channel, c, c, CAST(c AS DOUBLE) FROM none WHERE c > 0""".stripMargin,

    "q185_holt" ->
      """WITH RECURSIVE seq AS (
        |  SELECT user_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events),
        |walk AS (
        |  SELECT user_id, rn, value AS l, CAST(0.0 AS DOUBLE) AS b
        |  FROM seq WHERE rn = 1
        |  UNION ALL
        |  SELECT user_id, rn, l,
        |    0.1 * (l - lprev) + (1.0 - 0.1) * bprev AS b
        |  FROM (
        |    SELECT seq.user_id, seq.rn,
        |      0.3 * seq.value + (1.0 - 0.3) * (w.l + w.b) AS l,
        |      w.l AS lprev, w.b AS bprev
        |    FROM walk w JOIN seq ON seq.user_id = w.user_id
        |                        AND seq.rn = w.rn + 1) t),
        |fin AS (SELECT user_id, MAX(rn) AS mr FROM walk GROUP BY 1)
        |SELECT walk.user_id, mr AS n_points,
        |  round(l, 6) AS level, round(b, 6) AS trend,
        |  round(round(l, 6) + round(b, 6), 6) AS forecast_next
        |FROM walk JOIN fin ON walk.user_id = fin.user_id
        |                  AND walk.rn = fin.mr""".stripMargin,

    "q186_conformal" ->
      """WITH base AS (SELECT user_id, event_id, value,
        |                     event_id % 3 AS split FROM events),
        |pu AS (SELECT user_id,
        |         round(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE)
        |               / COUNT(value), 6) AS pred
        |       FROM base WHERE split = 0 GROUP BY 1),
        |g AS (SELECT round(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE)
        |             / COUNT(value), 6) AS gpred
        |      FROM base WHERE split = 0),
        |cal AS (SELECT event_id,
        |          round(abs(value - COALESCE(pred, gpred)), 6) AS res
        |        FROM base LEFT JOIN pu USING (user_id) CROSS JOIN g
        |        WHERE split = 1),
        |nc AS (SELECT COUNT(*) AS n_cal FROM cal),
        |r AS (SELECT res,
        |        row_number() OVER (ORDER BY res, event_id) AS rk
        |      FROM cal),
        |qh AS (SELECT n_cal,
        |         least(CAST(ceil(0.9 * (n_cal + 1)) AS BIGINT), n_cal) AS k,
        |         (SELECT res FROM r, nc
        |          WHERE rk = least(CAST(ceil(0.9 * (n_cal + 1)) AS BIGINT),
        |                           n_cal))
        |           AS qhat
        |       FROM nc),
        |t AS (SELECT round(abs(value - COALESCE(pred, gpred)), 6) AS res
        |      FROM base LEFT JOIN pu USING (user_id) CROSS JOIN g
        |      WHERE split = 2)
        |SELECT n_cal, k, qhat, COUNT(*) AS n_test,
        |  round(CAST(SUM(CASE WHEN res <= qhat THEN 1 ELSE 0 END)
        |             AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS coverage
        |FROM t, qh GROUP BY 1, 2, 3""".stripMargin,

    "q187_personalized_pr" ->
      """WITH eraw AS (SELECT DISTINCT l_orderkey % 997 AS a,
        |                1000000 + l_partkey % 499 AS b
        |         FROM lineitem WHERE l_linenumber = 1),
        |sym AS (SELECT a AS src, b AS dst FROM eraw
        |        UNION ALL SELECT b, a FROM eraw),
        |deg AS (SELECT src AS node, COUNT(*) AS degree FROM sym GROUP BY 1),
        |seeds AS (SELECT DISTINCT a AS node FROM eraw WHERE a < 10),
        |ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS s FROM seeds),
        |tele AS (SELECT deg.node, degree,
        |    CASE WHEN seeds.node IS NOT NULL THEN 1.0 / s
        |         ELSE CAST(0.0 AS DOUBLE) END AS tele
        |  FROM deg LEFT JOIN seeds ON deg.node = seeds.node, ns),
        |pr0 AS (SELECT node, degree, tele, tele AS pr FROM tele),
        |it1 AS (SELECT s.dst AS node,
        |    SUM(CAST(round(p.pr / p.degree * 1e15) AS BIGINT)) AS q
        |  FROM pr0 p JOIN sym s ON p.node = s.src GROUP BY 1),
        |pr1 AS (SELECT t.node, t.degree, t.tele,
        |    (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * t.tele
        |      + CAST(0.85 AS DOUBLE)
        |        * (CAST(COALESCE(q, 0) AS DOUBLE) / 1e15) AS pr
        |  FROM tele t LEFT JOIN it1 USING (node)),
        |it2 AS (SELECT s.dst AS node,
        |    SUM(CAST(round(p.pr / p.degree * 1e15) AS BIGINT)) AS q
        |  FROM pr1 p JOIN sym s ON p.node = s.src GROUP BY 1),
        |pr2 AS (SELECT t.node, t.degree,
        |    (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * t.tele
        |      + CAST(0.85 AS DOUBLE)
        |        * (CAST(COALESCE(q, 0) AS DOUBLE) / 1e15) AS pr
        |  FROM tele t LEFT JOIN it2 USING (node))
        |SELECT node, degree, ROUND(pr, 6) AS ppr FROM pr2""".stripMargin,

    "q188_gmm_em" ->
      """WITH RECURSIVE
        |hist AS (SELECT b, COUNT(*) AS nb,
        |           CAST(b * 8 AS DOUBLE) + 4.0 AS m
        |         FROM (SELECT greatest(least(
        |                 CAST(floor(value / 8.0) AS BIGINT), 63), 0) AS b
        |               FROM events WHERE value IS NOT NULL)
        |         GROUP BY 1),
        |it AS (
        |  SELECT CAST(0.5 AS DOUBLE) AS pi, CAST(50.0 AS DOUBLE) AS mu1,
        |         CAST(50.0 AS DOUBLE) AS s1, CAST(200.0 AS DOUBLE) AS mu2,
        |         CAST(100.0 AS DOUBLE) AS s2, 0 AS step
        |  UNION ALL
        |  SELECT round(t2.w1 / (t2.w1 + t2.w2), 9) AS pi,
        |         t2.nmu1 AS mu1, round(sqrt(t2.v1 / t2.w1), 9) AS s1,
        |         t2.nmu2 AS mu2, round(sqrt(t2.v2 / t2.w2), 9) AS s2,
        |         t2.step + 1 AS step
        |  FROM (
        |    SELECT t1.step, t1.w1, t1.w2, t1.nmu1, t1.nmu2,
        |      CAST(SUM(CAST(round(h.nb * (round(t1.pi * (exp(-(h.m - t1.mu1)
        |            * (h.m - t1.mu1) / (2.0 * t1.s1 * t1.s1)) / t1.s1)
        |          / (t1.pi * (exp(-(h.m - t1.mu1) * (h.m - t1.mu1)
        |               / (2.0 * t1.s1 * t1.s1)) / t1.s1)
        |             + (1.0 - t1.pi) * (exp(-(h.m - t1.mu2) * (h.m - t1.mu2)
        |               / (2.0 * t1.s2 * t1.s2)) / t1.s2)), 9))
        |          * (h.m - t1.nmu1) * (h.m - t1.nmu1), 9)
        |          AS DECIMAL(38,9))) AS DOUBLE) AS v1,
        |      CAST(SUM(CAST(round(h.nb * (1.0 - (round(t1.pi
        |            * (exp(-(h.m - t1.mu1) * (h.m - t1.mu1)
        |               / (2.0 * t1.s1 * t1.s1)) / t1.s1)
        |          / (t1.pi * (exp(-(h.m - t1.mu1) * (h.m - t1.mu1)
        |               / (2.0 * t1.s1 * t1.s1)) / t1.s1)
        |             + (1.0 - t1.pi) * (exp(-(h.m - t1.mu2) * (h.m - t1.mu2)
        |               / (2.0 * t1.s2 * t1.s2)) / t1.s2)), 9)))
        |          * (h.m - t1.nmu2) * (h.m - t1.nmu2), 9)
        |          AS DECIMAL(38,9))) AS DOUBLE) AS v2
        |    FROM (
        |      SELECT cur.step, cur.pi, cur.mu1, cur.s1, cur.mu2, cur.s2,
        |        CAST(SUM(CAST(round(h.nb * (round(cur.pi
        |              * (exp(-(h.m - cur.mu1) * (h.m - cur.mu1)
        |                 / (2.0 * cur.s1 * cur.s1)) / cur.s1)
        |            / (cur.pi * (exp(-(h.m - cur.mu1) * (h.m - cur.mu1)
        |                 / (2.0 * cur.s1 * cur.s1)) / cur.s1)
        |               + (1.0 - cur.pi) * (exp(-(h.m - cur.mu2)
        |                 * (h.m - cur.mu2)
        |                 / (2.0 * cur.s2 * cur.s2)) / cur.s2)), 9)), 9)
        |            AS DECIMAL(38,9))) AS DOUBLE) AS w1,
        |        CAST(SUM(CAST(round(h.nb * (1.0 - (round(cur.pi
        |              * (exp(-(h.m - cur.mu1) * (h.m - cur.mu1)
        |                 / (2.0 * cur.s1 * cur.s1)) / cur.s1)
        |            / (cur.pi * (exp(-(h.m - cur.mu1) * (h.m - cur.mu1)
        |                 / (2.0 * cur.s1 * cur.s1)) / cur.s1)
        |               + (1.0 - cur.pi) * (exp(-(h.m - cur.mu2)
        |                 * (h.m - cur.mu2)
        |                 / (2.0 * cur.s2 * cur.s2)) / cur.s2)), 9))), 9)
        |            AS DECIMAL(38,9))) AS DOUBLE) AS w2,
        |        round(CAST(SUM(CAST(round(h.nb * (round(cur.pi
        |              * (exp(-(h.m - cur.mu1) * (h.m - cur.mu1)
        |                 / (2.0 * cur.s1 * cur.s1)) / cur.s1)
        |            / (cur.pi * (exp(-(h.m - cur.mu1) * (h.m - cur.mu1)
        |                 / (2.0 * cur.s1 * cur.s1)) / cur.s1)
        |               + (1.0 - cur.pi) * (exp(-(h.m - cur.mu2)
        |                 * (h.m - cur.mu2)
        |                 / (2.0 * cur.s2 * cur.s2)) / cur.s2)), 9)) * h.m, 9)
        |            AS DECIMAL(38,9))) AS DOUBLE)
        |          / CAST(SUM(CAST(round(h.nb * (round(cur.pi
        |              * (exp(-(h.m - cur.mu1) * (h.m - cur.mu1)
        |                 / (2.0 * cur.s1 * cur.s1)) / cur.s1)
        |            / (cur.pi * (exp(-(h.m - cur.mu1) * (h.m - cur.mu1)
        |                 / (2.0 * cur.s1 * cur.s1)) / cur.s1)
        |               + (1.0 - cur.pi) * (exp(-(h.m - cur.mu2)
        |                 * (h.m - cur.mu2)
        |                 / (2.0 * cur.s2 * cur.s2)) / cur.s2)), 9)), 9)
        |            AS DECIMAL(38,9))) AS DOUBLE), 9) AS nmu1,
        |        round(CAST(SUM(CAST(round(h.nb * (1.0 - (round(cur.pi
        |              * (exp(-(h.m - cur.mu1) * (h.m - cur.mu1)
        |                 / (2.0 * cur.s1 * cur.s1)) / cur.s1)
        |            / (cur.pi * (exp(-(h.m - cur.mu1) * (h.m - cur.mu1)
        |                 / (2.0 * cur.s1 * cur.s1)) / cur.s1)
        |               + (1.0 - cur.pi) * (exp(-(h.m - cur.mu2)
        |                 * (h.m - cur.mu2)
        |                 / (2.0 * cur.s2 * cur.s2)) / cur.s2)), 9))) * h.m, 9)
        |            AS DECIMAL(38,9))) AS DOUBLE)
        |          / CAST(SUM(CAST(round(h.nb * (1.0 - (round(cur.pi
        |              * (exp(-(h.m - cur.mu1) * (h.m - cur.mu1)
        |                 / (2.0 * cur.s1 * cur.s1)) / cur.s1)
        |            / (cur.pi * (exp(-(h.m - cur.mu1) * (h.m - cur.mu1)
        |                 / (2.0 * cur.s1 * cur.s1)) / cur.s1)
        |               + (1.0 - cur.pi) * (exp(-(h.m - cur.mu2)
        |                 * (h.m - cur.mu2)
        |                 / (2.0 * cur.s2 * cur.s2)) / cur.s2)), 9))), 9)
        |            AS DECIMAL(38,9))) AS DOUBLE), 9) AS nmu2
        |      FROM it cur, hist h
        |      WHERE cur.step < 10
        |      GROUP BY 1, 2, 3, 4, 5, 6) t1, hist h
        |    GROUP BY 1, 2, 3, 4, 5) t2)
        |SELECT (SELECT CAST(SUM(nb) AS BIGINT) FROM hist) AS n,
        |  round(pi, 6) AS pi1, round(mu1, 6) AS mu1, round(s1, 6) AS sigma1,
        |  round(mu2, 6) AS mu2, round(s2, 6) AS sigma2
        |FROM it WHERE step = 10""".stripMargin,

    // Independent recomputation: the pixel stream from the BMP
    // fixtures' generative formula — no bytes involved, so the SQL
    // proves the Spark side's byte-level decode (flip, BGR, padding)
    // lands on the exact per-position values.
    "q189_bmp_decode" ->
      """WITH imgs AS (SELECT * FROM (VALUES (1, 8, 5), (2, 16, 9),
        |                                    (3, 7, 3)) t(image_id, w, h)),
        |xs AS (SELECT image_id, w, h, unnest(range(w)) AS x FROM imgs),
        |px AS (SELECT image_id, w, x, unnest(range(h)) AS y FROM xs),
        |ch AS (SELECT image_id, w, x, y,
        |         (x*7 + y*13) % 256 AS r,
        |         (x*3 + y*5 + 17) % 256 AS g,
        |         (x + y*2 + 101) % 256 AS b
        |       FROM px)
        |SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_px,
        |  round(CAST(SUM(r) AS DOUBLE) / COUNT(*), 4) AS mean_r,
        |  round(CAST(SUM(g) AS DOUBLE) / COUNT(*), 4) AS mean_g,
        |  round(CAST(SUM(b) AS DOUBLE) / COUNT(*), 4) AS mean_b,
        |  CAST(SUM(((y*w + x)*3 + 1)*r + ((y*w + x)*3 + 2)*g
        |           + ((y*w + x)*3 + 3)*b) AS BIGINT) AS px_checksum
        |FROM ch GROUP BY 1""".stripMargin,

    // Same contract for PCM: the sample stream regenerated from the
    // formula; the lag window reproduces zero crossings and the
    // position weighting pins interleaved sample order.
    "q190_wav_decode" ->
      """WITH clips AS (SELECT * FROM (VALUES (1, 1000, 37, 0),
        |                 (2, 1024, 53, 11),
        |                 (3, 250, 91, 7)) t(clip_id, n, a, b)),
        |s AS (SELECT clip_id, a, b, unnest(range(n)) AS i FROM clips),
        |v AS (SELECT clip_id, i, ((i*a + b) % 2001) - 1000 AS v FROM s),
        |lv AS (SELECT clip_id, i, v,
        |         lag(v) OVER (PARTITION BY clip_id ORDER BY i) AS pv
        |       FROM v)
        |SELECT clip_id, CAST(COUNT(*) AS BIGINT) AS n_samples,
        |  round(CAST(SUM(v) AS DOUBLE) / COUNT(*), 4) AS mean_amp,
        |  round(sqrt(CAST(SUM(v*v) AS DOUBLE) / COUNT(*)), 4) AS rms,
        |  CAST(MAX(abs(v)) AS BIGINT) AS peak,
        |  CAST(SUM((i+1)*v) AS BIGINT) AS amp_checksum,
        |  CAST(SUM(CASE WHEN pv*v < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_zero_cross
        |FROM lv GROUP BY 1""".stripMargin,

    "q162_kappa" ->
      s"""WITH m AS (
         |  SELECT
         |    CASE WHEN len(string_split(text, ' '))
         |              BETWEEN 20 AND 80 THEN 1 ELSE 0 END AS a,
         |    CASE WHEN round(CAST(list_aggregate(list_transform(
         |            string_split(text, ' '), x -> length(x)), 'sum')
         |          AS DOUBLE) / len(string_split(text, ' ')), 4)
         |              BETWEEN 3.9 AND 5.0 THEN 1 ELSE 0 END AS b
         |  FROM documents),
         |cm AS (SELECT COUNT(*) AS n,
         |  CAST(SUM(a*b) AS BIGINT) AS n11,
         |  CAST(SUM(a*(1-b)) AS BIGINT) AS n10,
         |  CAST(SUM((1-a)*b) AS BIGINT) AS n01,
         |  CAST(SUM((1-a)*(1-b)) AS BIGINT) AS n00 FROM m),
         |r AS (SELECT n, n11, n10, n01, n00,
         |  round(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
         |  round((CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE) +
         |         CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE)) /
         |        (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe
         |  FROM cm)
         |SELECT n, n11, n10, n01, n00, po, pe,
         |  round((po - pe) / (CASE WHEN pe < 1.0 THEN 1.0 - pe END), 6)
         |    AS kappa
         |FROM r""".stripMargin,

    "q222_url_canon" ->
      """WITH u AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)
        |    || '://'
        |    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
        |    || 'Site' || CAST(doc_id % 7 AS VARCHAR) || '.Example.COM'
        |    || (CASE WHEN doc_id % 5 = 0 THEN ':8080'
        |             WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
        |    || (CASE WHEN doc_id % 4 = 0
        |               THEN '/Articles/' || CAST(doc_id % 13 AS VARCHAR)
        |             WHEN doc_id % 4 = 1
        |               THEN '/Articles/' || CAST(doc_id % 13 AS VARCHAR) || '/'
        |             WHEN doc_id % 4 = 2 THEN '/index.html'
        |             ELSE '' END)
        |    || (CASE WHEN doc_id % 6 = 0 THEN '?utm_source=feed&b=2&a=1'
        |             WHEN doc_id % 6 = 1 THEN '?z=9&fbclid=IwAR12345&a=1'
        |             WHEN doc_id % 6 = 2 THEN '?b=2&a=1'
        |             WHEN doc_id % 6 = 3 THEN '?a=1&gclid=Cj0KCQjw&b=2'
        |             ELSE '' END) AS url
        |  FROM documents),
        |c AS (SELECT doc_id, url,
        |    lower(regexp_extract(url,
        |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostraw,
        |    regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS pathraw,
        |    regexp_extract(url, '^[^#]*?\?([^#]*)', 1) AS qraw
        |  FROM u),
        |c2 AS (SELECT doc_id, url, scheme,
        |    regexp_replace(
        |      CASE WHEN scheme = 'http' THEN regexp_replace(hostraw, ':80$', '')
        |           WHEN scheme = 'https' THEN regexp_replace(hostraw, ':443$', '')
        |           ELSE hostraw END, '^www\.', '') AS host,
        |    regexp_replace(regexp_replace(pathraw, '/index\.html$', '/'),
        |      '/+$', '') AS pathstrip,
        |    COALESCE(array_to_string(list_sort(list_filter(
        |      string_split(qraw, '&'),
        |      x -> x <> '' AND NOT starts_with(x, 'utm_')
        |        AND NOT list_contains(
        |          ['fbclid', 'gclid', 'gclsrc', 'dclid', 'wbraid',
        |           'gbraid', 'msclkid', 'mc_cid', 'mc_eid', 'igshid',
        |           'yclid'],
        |          string_split(x, '=')[1]))), '&'), '') AS qs
        |  FROM c),
        |canon AS (SELECT doc_id, url,
        |    scheme || '://' || host
        |    || (CASE WHEN pathstrip = '' THEN '/' ELSE pathstrip END)
        |    || (CASE WHEN qs = '' THEN '' ELSE '?' || qs END) AS canonical_url
        |  FROM c2)
        |SELECT canonical_url,
        |  CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_forms,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  MIN(doc_id) AS keeper_id
        |FROM canon GROUP BY 1""".stripMargin,

    "q223_skipgram" ->
      s"""WITH d AS (SELECT $toks AS ts FROM documents),
         |dl AS (SELECT ts, unnest([1, 2]) AS dlt FROM d),
         |g AS (SELECT unnest(list_transform(range(len(ts) - dlt),
         |    i -> ts[i + 1] || chr(9) || ts[i + 1 + dlt])) AS pair
         |  FROM dl),
         |fw AS (SELECT string_split(pair, chr(9))[1] AS center,
         |       string_split(pair, chr(9))[2] AS context FROM g),
         |sym AS (SELECT center, context FROM fw
         |        UNION ALL SELECT context AS center, center AS context
         |        FROM fw)
         |SELECT center, context, CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM sym GROUP BY 1, 2 HAVING COUNT(*) >= 5""".stripMargin,

    "q224_cdc_chunks" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, 'XX ' || text FROM documents),
         |b AS (SELECT doc_id, text, length(text) AS n,
         |    list_prepend(1, list_filter(
         |      range(2, greatest(length(text) - 6, 2)),
         |      i -> ((${lcgSql(cdcWin)}) // 32) % 64 = 0)) AS starts
         |  FROM corpus),
         |c AS (SELECT doc_id, unnest(list_transform(range(len(starts)),
         |    j -> substring(text, starts[j + 1],
         |      (CASE WHEN j + 1 < len(starts) THEN starts[j + 2] - 1
         |            ELSE n END) - starts[j + 1] + 1))) AS chunk
         |  FROM b),
         |g AS (SELECT chunk, COUNT(*) AS cnt FROM c GROUP BY 1)
         |SELECT CAST(SUM(cnt) AS BIGINT) AS n_chunks,
         |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
         |  CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_chunks,
         |  CAST(MAX(cnt) AS BIGINT) AS max_dup,
         |  round(CAST(SUM(length(chunk) * cnt) AS DOUBLE)
         |    / CAST(SUM(cnt) AS DOUBLE), 6) AS avg_len
         |FROM g""".stripMargin,

    "q225_wordpiece" ->
      s"""WITH RECURSIVE
         |wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (
         |    SELECT unnest($toks) AS w FROM documents)
         |  WHERE length(w) > 0 GROUP BY 1),
         |ls AS (SELECT unnest([2, 3, 4]) AS l),
         |subs AS (SELECT f, unnest(list_transform(
         |    range(1, length(w) - l + 2),
         |    p -> CASE WHEN p = 1 THEN substring(w, 1, l)
         |              ELSE '##' || substring(w, p, l) END)) AS tok
         |  FROM wf, ls WHERE length(w) >= l),
         |cnts AS (SELECT tok, SUM(f) AS c FROM subs GROUP BY 1),
         |top AS (SELECT tok FROM cnts ORDER BY c DESC, tok ASC LIMIT 300),
         |sg AS (SELECT DISTINCT unnest(list_transform(
         |    range(1, length(w) + 1),
         |    p -> CASE WHEN p = 1 THEN substring(w, 1, 1)
         |              ELSE '##' || substring(w, p, 1) END)) AS tok FROM wf),
         |v AS (SELECT DISTINCT tok FROM (SELECT tok FROM top
         |      UNION ALL SELECT tok FROM sg)),
         |vl AS (SELECT list(tok) AS vs FROM v),
         |it AS (
         |  SELECT w, f, length(w) AS n, 1 AS p, '' AS pieces
         |  FROM wf WHERE length(w) <= 20
         |  UNION ALL
         |  SELECT w, f, n, p + pick AS p,
         |    CASE WHEN pieces = '' THEN tok
         |         ELSE pieces || ' ' || tok END AS pieces
         |  FROM (
         |    SELECT w, f, n, p, pieces,
         |      CASE WHEN ok4 THEN 4 WHEN ok3 THEN 3
         |           WHEN ok2 THEN 2 ELSE 1 END AS pick,
         |      CASE WHEN ok4 THEN c4 WHEN ok3 THEN c3
         |           WHEN ok2 THEN c2 ELSE c1 END AS tok
         |    FROM (
         |      SELECT it.w, it.f, it.n, it.p, it.pieces,
         |        (it.p + 3 <= it.n AND list_contains(vs,
         |          CASE WHEN it.p = 1 THEN substring(it.w, 1, 4)
         |               ELSE '##' || substring(it.w, it.p, 4) END)) AS ok4,
         |        (it.p + 2 <= it.n AND list_contains(vs,
         |          CASE WHEN it.p = 1 THEN substring(it.w, 1, 3)
         |               ELSE '##' || substring(it.w, it.p, 3) END)) AS ok3,
         |        (it.p + 1 <= it.n AND list_contains(vs,
         |          CASE WHEN it.p = 1 THEN substring(it.w, 1, 2)
         |               ELSE '##' || substring(it.w, it.p, 2) END)) AS ok2,
         |        CASE WHEN it.p = 1 THEN substring(it.w, 1, 4)
         |             ELSE '##' || substring(it.w, it.p, 4) END AS c4,
         |        CASE WHEN it.p = 1 THEN substring(it.w, 1, 3)
         |             ELSE '##' || substring(it.w, it.p, 3) END AS c3,
         |        CASE WHEN it.p = 1 THEN substring(it.w, 1, 2)
         |             ELSE '##' || substring(it.w, it.p, 2) END AS c2,
         |        CASE WHEN it.p = 1 THEN substring(it.w, 1, 1)
         |             ELSE '##' || substring(it.w, it.p, 1) END AS c1
         |      FROM it, vl
         |      WHERE it.p <= it.n)))
         |SELECT w AS word, f AS cnt, pieces,
         |  CAST(len(string_split(pieces, ' ')) AS BIGINT) AS n_pieces
         |FROM it WHERE p > n
         |UNION ALL
         |SELECT w AS word, f AS cnt, '[UNK]' AS pieces,
         |  CAST(1 AS BIGINT) AS n_pieces
         |FROM wf WHERE length(w) > 20""".stripMargin,

    "q229_neg_sampling" ->
      s"""WITH wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
         |    SELECT unnest($toks) AS w FROM documents)
         |  WHERE length(w) > 0 GROUP BY 1),
         |wu AS (SELECT w, c, CAST(round(sqrt(CAST(c AS DOUBLE)
         |    * sqrt(CAST(c AS DOUBLE))) * 1000000.0, 0) AS BIGINT) AS u
         |  FROM wf),
         |cu AS (SELECT w, c, u, COALESCE(SUM(u) OVER (ORDER BY c ASC, w ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         |  FROM wu),
         |t AS (SELECT CAST(SUM(u) AS BIGINT) AS uu FROM wu),
         |dr AS (SELECT j, (${lcgSql("2*j")} * 2147483648
         |    + ${lcgSql("2*j+1")}) % uu AS tt
         |  FROM range(0, 2000) r(j), t),
         |asg AS (SELECT dr.j, cu.w FROM dr JOIN cu
         |  ON dr.tt >= cu.cum AND dr.tt < cu.cum + cu.u),
         |nc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM asg GROUP BY 1)
         |SELECT wu.w AS word, wu.c AS cnt, wu.u AS weight_micro,
         |  COALESCE(nc.n, 0) AS n_drawn
         |FROM wu LEFT JOIN nc ON wu.w = nc.w""".stripMargin,

    // Naive Bayes fit: same frequency algebra, same 9-dp quantize of
    // the two log terms. The zero-count grid comes from the identical
    // vocab x classes cross join.
    "q230_nb_model" ->
      s"""WITH t AS (SELECT lang, unnest($toks) AS token FROM documents),
         |tt AS (SELECT lang, token FROM t WHERE length(token) > 0),
         |counts AS (SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM tt GROUP BY 1, 2),
         |classes AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS tc
         |  FROM counts GROUP BY 1),
         |priors AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS nd
         |  FROM documents GROUP BY 1),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
         |vocab AS (SELECT DISTINCT token FROM counts),
         |v AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab)
         |SELECT classes.lang AS lang, vocab.token AS token,
         |  CAST(COALESCE(c, 0) AS BIGINT) AS cnt,
         |  ROUND(ln((CAST(COALESCE(c, 0) AS DOUBLE) + 1.0)
         |    / (CAST(tc AS DOUBLE) + 1.0 * CAST(v AS DOUBLE))), 9)
         |    AS loglik,
         |  ROUND(ln(CAST(nd AS DOUBLE) / CAST(n AS DOUBLE)), 9)
         |    AS logprior
         |FROM vocab CROSS JOIN classes
         |LEFT JOIN counts USING (lang, token)
         |JOIN priors USING (lang) CROSS JOIN n CROSS JOIN v""".stripMargin,

    // Classification replay: per-token 9-dp log terms sum through
    // DECIMAL(38,9) (order-independent), per-class score quantized to
    // 6 dp BEFORE the argmax, ties to lexicographically-min class -
    // both engines pick the same winner by construction.
    "q231_nb_classify" ->
      s"""WITH t AS (SELECT lang, unnest($toks) AS token FROM documents),
         |tt AS (SELECT lang, token FROM t WHERE length(token) > 0),
         |counts AS (SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM tt GROUP BY 1, 2),
         |classes AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS tc
         |  FROM counts GROUP BY 1),
         |priors AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS nd
         |  FROM documents GROUP BY 1),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
         |vocab AS (SELECT DISTINCT token FROM counts),
         |v AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
         |model AS (
         |  SELECT classes.lang AS cls, vocab.token AS token,
         |    ROUND(ln((CAST(COALESCE(c, 0) AS DOUBLE) + 1.0)
         |      / (CAST(tc AS DOUBLE) + 1.0 * CAST(v AS DOUBLE))), 9)
         |      AS loglik,
         |    ROUND(ln(CAST(nd AS DOUBLE) / CAST(n AS DOUBLE)), 9)
         |      AS logprior
         |  FROM vocab CROSS JOIN classes
         |  LEFT JOIN counts USING (lang, token)
         |  JOIN priors USING (lang) CROSS JOIN n CROSS JOIN v),
         |dtok AS (SELECT doc_id, lang AS true_lang,
         |    unnest($toks) AS token FROM documents),
         |dt AS (SELECT * FROM dtok WHERE length(token) > 0),
         |scored AS (
         |  SELECT doc_id, true_lang, cls,
         |    ROUND(CAST(SUM(CAST(loglik AS DECIMAL(38,9))) AS DOUBLE)
         |      + ANY_VALUE(logprior), 6) AS score
         |  FROM dt JOIN model USING (token) GROUP BY 1, 2, 3),
         |best AS (SELECT doc_id, MAX(score) AS m FROM scored GROUP BY 1)
         |SELECT s.doc_id, ANY_VALUE(true_lang) AS lang,
         |  MIN(cls) AS predicted, ANY_VALUE(b.m) AS score,
         |  MIN(cls) = ANY_VALUE(true_lang) AS correct
         |FROM scored s JOIN best b USING (doc_id)
         |WHERE s.score = b.m GROUP BY s.doc_id""".stripMargin,

    // Chi-square: presence = distinct (doc, token); all contingency
    // algebra in BIGINT, the final ratio in DOUBLE in the same factor
    // order (N * diff * diff / (rowmargs * colmargs)), 6-dp rounded;
    // degenerate margins yield NULL in both engines.
    "q232_chi2_tokens" ->
      s"""WITH pres AS (SELECT DISTINCT doc_id,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y, token
         |  FROM (SELECT doc_id, lang, unnest(list_distinct($toks))
         |          AS token FROM documents)
         |  WHERE length(token) > 0),
         |pt AS (SELECT token, CAST(SUM(y) AS BIGINT) AS a,
         |    CAST(COUNT(*) - SUM(y) AS BIGINT) AS b
         |  FROM pres GROUP BY 1),
         |tot AS (SELECT
         |  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS ny,
         |  CAST(COUNT(*) - SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS nn FROM documents),
         |m AS (SELECT token, a, b, ny - a AS cc, nn - b AS dd, ny, nn
         |  FROM pt CROSS JOIN tot)
         |SELECT token, a AS n_pos, b AS n_neg,
         |  CASE WHEN CAST((a + b) * (cc + dd) AS DOUBLE)
         |         * CAST((a + cc) * (b + dd) AS DOUBLE) > 0
         |    THEN ROUND(CAST(ny + nn AS DOUBLE)
         |      * CAST(a * dd - b * cc AS DOUBLE)
         |      * CAST(a * dd - b * cc AS DOUBLE)
         |      / (CAST((a + b) * (cc + dd) AS DOUBLE)
         |         * CAST((a + cc) * (b + dd) AS DOUBLE)), 6)
         |  END AS chi2
         |FROM m""".stripMargin,

    // Kneser-Ney: every probability is integer-count algebra in the
    // same fixed factor order (discounted bigram mass + (D * fanout)
    // * continuation, over context totals); -ln terms sum through
    // DECIMAL(30,6).
    "q233_kneser_ney" ->
      s"""WITH g AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(len($toks) - 1),
         |      i -> array_to_string(list_slice($toks, i + 1, i + 2), ' ')))
         |      AS gram
         |  FROM documents),
         |gs AS (SELECT doc_id, gram,
         |         string_split(gram, ' ')[1] AS w1,
         |         string_split(gram, ' ')[2] AS w2 FROM g),
         |c2 AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS c2 FROM g
         |       WHERE doc_id % 2 = 0 GROUP BY 1),
         |ctx AS (SELECT string_split(gram, ' ')[1] AS w1,
         |          CAST(SUM(c2) AS BIGINT) AS cctx,
         |          CAST(COUNT(*) AS BIGINT) AS fwd
         |        FROM c2 GROUP BY 1),
         |bwd AS (SELECT string_split(gram, ' ')[2] AS w2,
         |          CAST(COUNT(*) AS BIGINT) AS bwd
         |        FROM c2 GROUP BY 1),
         |ty AS (SELECT CAST(COUNT(*) AS DOUBLE) AS types FROM c2),
         |scored AS (
         |  SELECT gs.doc_id,
         |    CASE WHEN ctx.cctx IS NOT NULL THEN
         |      (greatest(CAST(COALESCE(c2.c2, 0) AS DOUBLE) - 0.75,
         |                CAST(0 AS DOUBLE))
         |       + 0.75 * CAST(ctx.fwd AS DOUBLE)
         |         * COALESCE(CAST(bwd.bwd AS DOUBLE) / types, 0.5 / types))
         |      / CAST(ctx.cctx AS DOUBLE)
         |    ELSE COALESCE(CAST(bwd.bwd AS DOUBLE) / types, 0.5 / types)
         |    END AS p,
         |    CASE WHEN ctx.cctx IS NULL THEN 1 ELSE 0 END AS unseen
         |  FROM gs
         |  LEFT JOIN c2 ON gs.gram = c2.gram
         |  LEFT JOIN ctx ON gs.w1 = ctx.w1
         |  LEFT JOIN bwd ON gs.w2 = bwd.w2
         |  CROSS JOIN ty)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  round(CAST(SUM(CAST(-ln(p) AS DECIMAL(30,6))) AS DOUBLE)
         |        / COUNT(*), 4) AS kn_nll,
         |  CAST(SUM(unseen) AS BIGINT) AS n_unseen_ctx
         |FROM scored GROUP BY 1""".stripMargin,

    // BLEU: clipped counts from the (pair, n, gram) full-outer count
    // join; ln terms sum in ascending-n order, ONE exp, bp multiplied
    // last, 6-dp round — the engine's exact factor order.
    "q235_bleu" ->
      s"""WITH pairs AS (
         |  SELECT a.doc_id // 2 AS pair_id,
         |    list_filter(regexp_split_to_array(trim(a.text), '\\s+'),
         |      t -> len(t) > 0) AS ct,
         |    list_filter(regexp_split_to_array(trim(b.text), '\\s+'),
         |      t -> len(t) > 0) AS rt
         |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
         |  WHERE a.doc_id % 2 = 0),
         |cg AS (SELECT pair_id, n, gram, COUNT(*) AS c FROM (
         |    SELECT pair_id, 1 AS n, unnest(ct) AS gram FROM pairs
         |    UNION ALL SELECT pair_id, 2 AS n,
         |      unnest(list_transform(range(len(ct) - 1),
         |        i -> array_to_string(list_slice(ct, i + 1, i + 2), ' ')))
         |    FROM pairs
         |    UNION ALL SELECT pair_id, 3 AS n,
         |      unnest(list_transform(range(len(ct) - 2),
         |        i -> array_to_string(list_slice(ct, i + 1, i + 3), ' ')))
         |    FROM pairs
         |    UNION ALL SELECT pair_id, 4 AS n,
         |      unnest(list_transform(range(len(ct) - 3),
         |        i -> array_to_string(list_slice(ct, i + 1, i + 4), ' ')))
         |    FROM pairs)
         |  GROUP BY 1, 2, 3),
         |rg AS (SELECT pair_id, n, gram, COUNT(*) AS r FROM (
         |    SELECT pair_id, 1 AS n, unnest(rt) AS gram FROM pairs
         |    UNION ALL SELECT pair_id, 2 AS n,
         |      unnest(list_transform(range(len(rt) - 1),
         |        i -> array_to_string(list_slice(rt, i + 1, i + 2), ' ')))
         |    FROM pairs
         |    UNION ALL SELECT pair_id, 3 AS n,
         |      unnest(list_transform(range(len(rt) - 2),
         |        i -> array_to_string(list_slice(rt, i + 1, i + 3), ' ')))
         |    FROM pairs
         |    UNION ALL SELECT pair_id, 4 AS n,
         |      unnest(list_transform(range(len(rt) - 3),
         |        i -> array_to_string(list_slice(rt, i + 1, i + 4), ' ')))
         |    FROM pairs)
         |  GROUP BY 1, 2, 3),
         |st AS (SELECT COALESCE(cg.pair_id, rg.pair_id) AS pair_id,
         |    COALESCE(cg.n, rg.n) AS n,
         |    CAST(SUM(LEAST(COALESCE(cg.c, 0), COALESCE(rg.r, 0)))
         |      AS BIGINT) AS m,
         |    CAST(SUM(COALESCE(cg.c, 0)) AS BIGINT) AS t,
         |    CAST(SUM(COALESCE(rg.r, 0)) AS BIGINT) AS tr
         |  FROM cg FULL OUTER JOIN rg
         |    ON cg.pair_id = rg.pair_id AND cg.n = rg.n
         |    AND cg.gram = rg.gram
         |  GROUP BY 1, 2),
         |agg AS (SELECT pair_id,
         |    CAST(SUM(CASE WHEN n = 1 THEN m ELSE 0 END) AS BIGINT) AS m1,
         |    CAST(SUM(CASE WHEN n = 1 THEN t ELSE 0 END) AS BIGINT) AS t1,
         |    CAST(SUM(CASE WHEN n = 2 THEN m ELSE 0 END) AS BIGINT) AS m2,
         |    CAST(SUM(CASE WHEN n = 2 THEN t ELSE 0 END) AS BIGINT) AS t2,
         |    CAST(SUM(CASE WHEN n = 3 THEN m ELSE 0 END) AS BIGINT) AS m3,
         |    CAST(SUM(CASE WHEN n = 3 THEN t ELSE 0 END) AS BIGINT) AS t3,
         |    CAST(SUM(CASE WHEN n = 4 THEN m ELSE 0 END) AS BIGINT) AS m4,
         |    CAST(SUM(CASE WHEN n = 4 THEN t ELSE 0 END) AS BIGINT) AS t4,
         |    CAST(SUM(CASE WHEN n = 1 THEN tr ELSE 0 END) AS BIGINT)
         |      AS ref_len
         |  FROM st GROUP BY 1)
         |SELECT pair_id, t1 AS cand_len, ref_len,
         |  ROUND(CAST(m1 AS DOUBLE) / CAST(t1 AS DOUBLE), 6) AS p1,
         |  ROUND(CASE WHEN t1 >= ref_len THEN CAST(1 AS DOUBLE)
         |    ELSE exp(CAST(1 AS DOUBLE)
         |      - CAST(ref_len AS DOUBLE) / CAST(t1 AS DOUBLE)) END, 6)
         |    AS bp,
         |  CASE WHEN t1 = 0 THEN NULL
         |    WHEN m1 = 0 THEN CAST(0 AS DOUBLE)
         |    ELSE ROUND((CASE WHEN t1 >= ref_len THEN CAST(1 AS DOUBLE)
         |        ELSE exp(CAST(1 AS DOUBLE)
         |          - CAST(ref_len AS DOUBLE) / CAST(t1 AS DOUBLE)) END)
         |      * exp((ln(CAST(m1 AS DOUBLE) / CAST(t1 AS DOUBLE))
         |        + ln(CAST(m2 + 1 AS DOUBLE) / CAST(t2 + 1 AS DOUBLE))
         |        + ln(CAST(m3 + 1 AS DOUBLE) / CAST(t3 + 1 AS DOUBLE))
         |        + ln(CAST(m4 + 1 AS DOUBLE) / CAST(t4 + 1 AS DOUBLE)))
         |        / CAST(4 AS DOUBLE)), 6)
         |  END AS bleu
         |FROM agg""".stripMargin,

    // ROUGE-1/-2: recall/precision from the same clipped kernel; f1's
    // harmonic mean uses the UNROUNDED ratios in the engine's exact
    // order ((2*r)*p)/(r+p), rounded once at the end.
    "q236_rouge" ->
      s"""WITH pairs AS (
         |  SELECT a.doc_id // 2 AS pair_id,
         |    list_filter(regexp_split_to_array(trim(a.text), '\\s+'),
         |      t -> len(t) > 0) AS ct,
         |    list_filter(regexp_split_to_array(trim(b.text), '\\s+'),
         |      t -> len(t) > 0) AS rt
         |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
         |  WHERE a.doc_id % 2 = 0),
         |cg AS (SELECT pair_id, n, gram, COUNT(*) AS c FROM (
         |    SELECT pair_id, 1 AS n, unnest(ct) AS gram FROM pairs
         |    UNION ALL SELECT pair_id, 2 AS n,
         |      unnest(list_transform(range(len(ct) - 1),
         |        i -> array_to_string(list_slice(ct, i + 1, i + 2), ' ')))
         |    FROM pairs)
         |  GROUP BY 1, 2, 3),
         |rg AS (SELECT pair_id, n, gram, COUNT(*) AS r FROM (
         |    SELECT pair_id, 1 AS n, unnest(rt) AS gram FROM pairs
         |    UNION ALL SELECT pair_id, 2 AS n,
         |      unnest(list_transform(range(len(rt) - 1),
         |        i -> array_to_string(list_slice(rt, i + 1, i + 2), ' ')))
         |    FROM pairs)
         |  GROUP BY 1, 2, 3),
         |st AS (SELECT COALESCE(cg.pair_id, rg.pair_id) AS pair_id,
         |    COALESCE(cg.n, rg.n) AS n,
         |    CAST(SUM(LEAST(COALESCE(cg.c, 0), COALESCE(rg.r, 0)))
         |      AS BIGINT) AS m,
         |    CAST(SUM(COALESCE(cg.c, 0)) AS BIGINT) AS t,
         |    CAST(SUM(COALESCE(rg.r, 0)) AS BIGINT) AS tr
         |  FROM cg FULL OUTER JOIN rg
         |    ON cg.pair_id = rg.pair_id AND cg.n = rg.n
         |    AND cg.gram = rg.gram
         |  GROUP BY 1, 2)
         |SELECT pair_id, n,
         |  ROUND(CASE WHEN tr > 0
         |    THEN CAST(m AS DOUBLE) / CAST(tr AS DOUBLE) END, 6) AS recall,
         |  ROUND(CASE WHEN t > 0
         |    THEN CAST(m AS DOUBLE) / CAST(t AS DOUBLE) END, 6) AS prec,
         |  CASE WHEN tr = 0 OR t = 0 THEN NULL
         |    WHEN CAST(m AS DOUBLE) / CAST(tr AS DOUBLE)
         |       + CAST(m AS DOUBLE) / CAST(t AS DOUBLE) = 0
         |      THEN CAST(0 AS DOUBLE)
         |    ELSE ROUND(CAST(2 AS DOUBLE)
         |      * (CAST(m AS DOUBLE) / CAST(tr AS DOUBLE))
         |      * (CAST(m AS DOUBLE) / CAST(t AS DOUBLE))
         |      / (CAST(m AS DOUBLE) / CAST(tr AS DOUBLE)
         |         + CAST(m AS DOUBLE) / CAST(t AS DOUBLE)), 6)
         |  END AS f1
         |FROM st""".stripMargin,

    // JSD: each KL summed as c*ln(p/m) through DECIMAL(30,6) and
    // divided by the total ONCE at the end (the engine's
    // quantization-safe order); m = (p+q)/2 in doubles.
    "q237_js_divergence" ->
      s"""WITH ac AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS ca FROM (
         |    SELECT unnest($toks) AS w FROM documents WHERE lang = 'en')
         |  WHERE len(w) > 0 GROUP BY 1),
         |bc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cb FROM (
         |    SELECT unnest($toks) AS w FROM documents WHERE lang <> 'en')
         |  WHERE len(w) > 0 GROUP BY 1),
         |j AS (SELECT COALESCE(ac.ca, 0) AS ca, COALESCE(bc.cb, 0) AS cb
         |  FROM ac FULL OUTER JOIN bc ON ac.w = bc.w),
         |t AS (SELECT CAST(SUM(ca) AS BIGINT) AS ta,
         |        CAST(SUM(cb) AS BIGINT) AS tb FROM j),
         |m AS (SELECT ca, cb, ta, tb,
         |    CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE) AS p,
         |    CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE) AS q,
         |    (CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE)
         |     + CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE))
         |      / CAST(2 AS DOUBLE) AS mm
         |  FROM j CROSS JOIN t),
         |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab,
         |    MAX(ta) AS ta, MAX(tb) AS tb,
         |    CAST(SUM(CAST(CASE WHEN ca > 0
         |        THEN CAST(ca AS DOUBLE) * ln(p / mm)
         |        ELSE CAST(0 AS DOUBLE) END AS DECIMAL(30,6)))
         |      AS DOUBLE) AS ka,
         |    CAST(SUM(CAST(CASE WHEN cb > 0
         |        THEN CAST(cb AS DOUBLE) * ln(q / mm)
         |        ELSE CAST(0 AS DOUBLE) END AS DECIMAL(30,6)))
         |      AS DOUBLE) AS kb
         |  FROM m)
         |SELECT vocab, ta AS n_tokens_a, tb AS n_tokens_b,
         |  ROUND(ka / CAST(ta AS DOUBLE), 6) AS kl_pm,
         |  ROUND(kb / CAST(tb AS DOUBLE), 6) AS kl_qm,
         |  ROUND((ka / CAST(ta AS DOUBLE) + kb / CAST(tb AS DOUBLE))
         |    / CAST(2 AS DOUBLE), 6) AS jsd
         |FROM agg""".stripMargin,

    // Zipf: rank = ROW_NUMBER over (freq desc, token asc); moments
    // through DECIMAL(30,6); slope/intercept/r2 in the engine's exact
    // factor order.
    "q238_zipf" ->
      s"""WITH f AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (
         |    SELECT unnest($toks) AS w FROM documents)
         |  WHERE len(w) > 0 GROUP BY 1),
         |r AS (SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, w ASC)
         |        AS rnk FROM f),
         |p AS (SELECT ln(CAST(rnk AS DOUBLE)) AS x,
         |        ln(CAST(f AS DOUBLE)) AS y FROM r),
         |s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         |    CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE) AS sx,
         |    CAST(SUM(CAST(y AS DECIMAL(30,6))) AS DOUBLE) AS sy,
         |    CAST(SUM(CAST(x * x AS DECIMAL(30,6))) AS DOUBLE) AS sxx,
         |    CAST(SUM(CAST(x * y AS DECIMAL(30,6))) AS DOUBLE) AS sxy,
         |    CAST(SUM(CAST(y * y AS DECIMAL(30,6))) AS DOUBLE) AS syy
         |  FROM p)
         |SELECT CAST(n AS BIGINT) AS vocab,
         |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
         |  ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
         |    / n, 6) AS intercept,
         |  ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
         |    / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
         |FROM s""".stripMargin,

    // q239: the q175 merge-learning recursion supplies each word
    // type's model-token count; per-doc sums feed the q59 first-fit
    // recursion at budget 2048 on MODEL tokens.
    "q239_bpe_packing" ->
      s"""WITH RECURSIVE
         |w AS (SELECT w, COUNT(*) AS cnt FROM (
         |        SELECT unnest($toks) AS w FROM documents) GROUP BY 1),
         |v0 AS (SELECT w, ' ' || array_to_string(string_split(w, ''), '  ')
         |              || ' ' AS sp, cnt FROM w),
         |it AS (
         |  SELECT w, sp, cnt, 0 AS step FROM v0
         |  UNION ALL
         |  SELECT it.w,
         |         replace(it.sp, ' ' || tp.a || '  ' || tp.b || ' ',
         |                 ' ' || tp.a || tp.b || ' '),
         |         it.cnt, it.step + 1
         |  FROM it, (
         |    SELECT string_split(pair, ' ')[1] AS a,
         |           string_split(pair, ' ')[2] AS b
         |    FROM (
         |      SELECT pair, SUM(cnt) AS pc FROM (
         |        SELECT unnest(list_transform(
         |          range(len(string_split(trim(sp), '  ')) - 1),
         |          i -> array_to_string(list_slice(string_split(trim(sp), '  '),
         |                                          i + 1, i + 2), ' ')))
         |          AS pair, cnt
         |        FROM it) z
         |      GROUP BY 1
         |      ORDER BY pc DESC, pair LIMIT 1)) tp
         |  WHERE it.step < 6),
         |map AS (SELECT w, len(string_split(trim(sp), '  ')) AS n_bpe
         |        FROM it WHERE step = 6),
         |dt AS (SELECT doc_id, unnest($toks) AS w FROM documents),
         |d AS (SELECT doc_id, CAST(SUM(n_bpe) AS BIGINT) AS n_tokens,
         |        (${lcgSql("doc_id")})%8 AS shard
         |      FROM dt JOIN map ON dt.w = map.w GROUP BY 1),
         |r AS (SELECT *, row_number() OVER (PARTITION BY shard
         |        ORDER BY doc_id) AS rn FROM d),
         |f AS (
         |  SELECT shard, rn, doc_id, n_tokens,
         |    CAST(0 AS BIGINT) AS bin, n_tokens AS fill
         |  FROM r WHERE rn = 1
         |  UNION ALL
         |  SELECT r.shard, r.rn, r.doc_id, r.n_tokens,
         |    CASE WHEN f.fill > 0 AND f.fill + r.n_tokens > 2048
         |         THEN f.bin + 1 ELSE f.bin END,
         |    CASE WHEN f.fill > 0 AND f.fill + r.n_tokens > 2048
         |         THEN r.n_tokens ELSE f.fill + r.n_tokens END
         |  FROM f JOIN r ON r.shard = f.shard AND r.rn = f.rn + 1)
         |SELECT shard, bin, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM f GROUP BY 1, 2""".stripMargin,

    // q240: full unigram-LM replay — seed counts, micro-nat costs
    // (round(-ln(c/C)*1e6) BIGINT: exact integer DP on both engines),
    // forward Viterbi per word (recursive CTE; ties -> shortest last
    // piece via the CASE order), backward walk, EM usage counts, the
    // single-char smoothing floor, round 2, and the (n2 desc, unit
    // asc) top-20 cut.
    "q240_unigram_lm" ->
      s"""WITH RECURSIVE
         |w AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (
         |        SELECT unnest($toks) AS w FROM documents)
         |      WHERE len(w) > 0 AND len(w) <= 20 GROUP BY 1),
         |cand AS MATERIALIZED (SELECT w, f, l, unnest(range(1, len(w) - l + 2)) AS s
         |         FROM (SELECT w.w, w.f, unnest([1, 2, 3, 4]) AS l FROM w)
         |         WHERE len(w) >= l),
         |c2 AS MATERIALIZED (SELECT w, f,
         |         CASE WHEN s = 1 THEN substr(w, 1, l)
         |              ELSE '##' || substr(w, s, l) END AS tok
         |       FROM cand),
         |seed AS MATERIALIZED (SELECT tok, CAST(SUM(f) AS BIGINT) AS c FROM c2 GROUP BY 1),
         |t1 AS MATERIALIZED (SELECT CAST(SUM(c) AS BIGINT) AS tc FROM seed),
         |k1 AS MATERIALIZED (SELECT tok, CAST(round(-ln(CAST(c AS DOUBLE)
         |         / CAST(tc AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS cost
         |       FROM seed, t1),
         |dp1 AS (
         |  SELECT w, f, 0 AS i, [CAST(0 AS BIGINT)] AS best, [0] AS lens
         |  FROM w
         |  UNION ALL
         |  SELECT w, f, i,
         |    list_append(best, LEAST(x1, x2, x3, x4)),
         |    list_append(lens, CASE WHEN x1 = LEAST(x1, x2, x3, x4) THEN 1
         |                           WHEN x2 = LEAST(x1, x2, x3, x4) THEN 2
         |                           WHEN x3 = LEAST(x1, x2, x3, x4) THEN 3
         |                           ELSE 4 END)
         |  FROM (
         |    SELECT d.w, d.f, d.i + 1 AS i, d.best, d.lens,
         |      d.best[d.i + 1] + COALESCE(ca.cost, 1000000000000) AS x1,
         |      CASE WHEN d.i >= 1 THEN d.best[d.i]
         |        + COALESCE(cb.cost, 1000000000000)
         |        ELSE 1000000000000 END AS x2,
         |      CASE WHEN d.i >= 2 THEN d.best[d.i - 1]
         |        + COALESCE(cc.cost, 1000000000000)
         |        ELSE 1000000000000 END AS x3,
         |      CASE WHEN d.i >= 3 THEN d.best[d.i - 2]
         |        + COALESCE(cd.cost, 1000000000000)
         |        ELSE 1000000000000 END AS x4
         |    FROM dp1 d
         |    LEFT JOIN k1 ca ON ca.tok = CASE WHEN d.i = 0
         |      THEN substr(d.w, 1, 1) ELSE '##' || substr(d.w, d.i + 1, 1) END
         |    LEFT JOIN k1 cb ON d.i >= 1 AND cb.tok = CASE WHEN d.i = 1
         |      THEN substr(d.w, 1, 2) ELSE '##' || substr(d.w, d.i, 2) END
         |    LEFT JOIN k1 cc ON d.i >= 2 AND cc.tok = CASE WHEN d.i = 2
         |      THEN substr(d.w, 1, 3) ELSE '##' || substr(d.w, d.i - 1, 3) END
         |    LEFT JOIN k1 cd ON d.i >= 3 AND cd.tok = CASE WHEN d.i = 3
         |      THEN substr(d.w, 1, 4) ELSE '##' || substr(d.w, d.i - 2, 4) END
         |    WHERE d.i < len(d.w)) z),
         |fin1 AS MATERIALIZED (SELECT w, f, lens FROM dp1 WHERE i = len(w)),
         |bk1 AS (
         |  SELECT w, f, len(w) AS p, lens, CAST(NULL AS VARCHAR) AS tok
         |  FROM fin1
         |  UNION ALL
         |  SELECT w, f, p - lens[p + 1], lens,
         |    CASE WHEN p - lens[p + 1] = 0 THEN substr(w, 1, lens[p + 1])
         |         ELSE '##' || substr(w, p - lens[p + 1] + 1, lens[p + 1]) END
         |  FROM bk1 WHERE p > 0),
         |n1 AS MATERIALIZED (SELECT tok, CAST(SUM(f) AS BIGINT) AS n FROM bk1
         |       WHERE tok IS NOT NULL GROUP BY 1),
         |cnt2 AS MATERIALIZED (SELECT s.tok,
         |           CASE WHEN len(s.tok) = 1
         |                  OR (s.tok LIKE '##%' AND len(s.tok) = 3)
         |                THEN GREATEST(COALESCE(n1.n, 0), 1)
         |                ELSE COALESCE(n1.n, 0) END AS c
         |         FROM seed s LEFT JOIN n1 USING (tok)),
         |cnt2f AS MATERIALIZED (SELECT tok, c FROM cnt2 WHERE c > 0),
         |t2 AS MATERIALIZED (SELECT CAST(SUM(c) AS BIGINT) AS tc FROM cnt2f),
         |k2 AS MATERIALIZED (SELECT tok, CAST(round(-ln(CAST(c AS DOUBLE)
         |         / CAST(tc AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS cost
         |       FROM cnt2f, t2),
         |dp2 AS (
         |  SELECT w, f, 0 AS i, [CAST(0 AS BIGINT)] AS best, [0] AS lens
         |  FROM w
         |  UNION ALL
         |  SELECT w, f, i,
         |    list_append(best, LEAST(x1, x2, x3, x4)),
         |    list_append(lens, CASE WHEN x1 = LEAST(x1, x2, x3, x4) THEN 1
         |                           WHEN x2 = LEAST(x1, x2, x3, x4) THEN 2
         |                           WHEN x3 = LEAST(x1, x2, x3, x4) THEN 3
         |                           ELSE 4 END)
         |  FROM (
         |    SELECT d.w, d.f, d.i + 1 AS i, d.best, d.lens,
         |      d.best[d.i + 1] + COALESCE(ca.cost, 1000000000000) AS x1,
         |      CASE WHEN d.i >= 1 THEN d.best[d.i]
         |        + COALESCE(cb.cost, 1000000000000)
         |        ELSE 1000000000000 END AS x2,
         |      CASE WHEN d.i >= 2 THEN d.best[d.i - 1]
         |        + COALESCE(cc.cost, 1000000000000)
         |        ELSE 1000000000000 END AS x3,
         |      CASE WHEN d.i >= 3 THEN d.best[d.i - 2]
         |        + COALESCE(cd.cost, 1000000000000)
         |        ELSE 1000000000000 END AS x4
         |    FROM dp2 d
         |    LEFT JOIN k2 ca ON ca.tok = CASE WHEN d.i = 0
         |      THEN substr(d.w, 1, 1) ELSE '##' || substr(d.w, d.i + 1, 1) END
         |    LEFT JOIN k2 cb ON d.i >= 1 AND cb.tok = CASE WHEN d.i = 1
         |      THEN substr(d.w, 1, 2) ELSE '##' || substr(d.w, d.i, 2) END
         |    LEFT JOIN k2 cc ON d.i >= 2 AND cc.tok = CASE WHEN d.i = 2
         |      THEN substr(d.w, 1, 3) ELSE '##' || substr(d.w, d.i - 1, 3) END
         |    LEFT JOIN k2 cd ON d.i >= 3 AND cd.tok = CASE WHEN d.i = 3
         |      THEN substr(d.w, 1, 4) ELSE '##' || substr(d.w, d.i - 2, 4) END
         |    WHERE d.i < len(d.w)) z),
         |fin2 AS MATERIALIZED (SELECT w, f, lens FROM dp2 WHERE i = len(w)),
         |bk2 AS (
         |  SELECT w, f, len(w) AS p, lens, CAST(NULL AS VARCHAR) AS tok
         |  FROM fin2
         |  UNION ALL
         |  SELECT w, f, p - lens[p + 1], lens,
         |    CASE WHEN p - lens[p + 1] = 0 THEN substr(w, 1, lens[p + 1])
         |         ELSE '##' || substr(w, p - lens[p + 1] + 1, lens[p + 1]) END
         |  FROM bk2 WHERE p > 0),
         |n2 AS MATERIALIZED (SELECT tok, CAST(SUM(f) AS BIGINT) AS n FROM bk2
         |       WHERE tok IS NOT NULL GROUP BY 1),
         |sel AS MATERIALIZED (SELECT s.tok,
         |          (len(s.tok) = 1
         |            OR (s.tok LIKE '##%' AND len(s.tok) = 3)) AS is_single,
         |          s.c AS seed_c, COALESCE(n1.n, 0) AS n_em1,
         |          COALESCE(n2.n, 0) AS n_em2
         |        FROM seed s LEFT JOIN n1 USING (tok)
         |          LEFT JOIN n2 USING (tok)
         |        WHERE (len(s.tok) = 1
         |            OR (s.tok LIKE '##%' AND len(s.tok) = 3))
         |          OR COALESCE(n1.n, 0) > 0),
         |topm AS (SELECT tok FROM sel WHERE NOT is_single AND n_em2 > 0
         |         ORDER BY n_em2 DESC, tok ASC LIMIT 20)
         |SELECT sel.tok AS unit, sel.is_single,
         |  CAST(sel.seed_c AS BIGINT) AS seed_c,
         |  CAST(sel.n_em1 AS BIGINT) AS n_em1,
         |  CAST(sel.n_em2 AS BIGINT) AS n_em_final,
         |  (sel.is_single OR topm.tok IS NOT NULL) AS kept
         |FROM sel LEFT JOIN topm ON sel.tok = topm.tok""".stripMargin,

    // q243: the q240 selection replay (word frame renamed wt) chained
    // into the q225 greedy-cursor recursion over the KEPT vocabulary.
    "q243_unigram_segment" ->
      s"""WITH RECURSIVE
         |wt AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (
         |        SELECT unnest($toks) AS w FROM documents)
         |      WHERE len(w) > 0 AND len(w) <= 20 GROUP BY 1),
         |cand AS MATERIALIZED (SELECT w, f, l, unnest(range(1, len(w) - l + 2)) AS s
         |         FROM (SELECT wt.w, wt.f, unnest([1, 2, 3, 4]) AS l FROM wt)
         |         WHERE len(w) >= l),
         |c2 AS MATERIALIZED (SELECT w, f,
         |         CASE WHEN s = 1 THEN substr(w, 1, l)
         |              ELSE '##' || substr(w, s, l) END AS tok
         |       FROM cand),
         |seed AS MATERIALIZED (SELECT tok, CAST(SUM(f) AS BIGINT) AS c FROM c2 GROUP BY 1),
         |t1 AS MATERIALIZED (SELECT CAST(SUM(c) AS BIGINT) AS tc FROM seed),
         |k1 AS MATERIALIZED (SELECT tok, CAST(round(-ln(CAST(c AS DOUBLE)
         |         / CAST(tc AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS cost
         |       FROM seed, t1),
         |dp1 AS (
         |  SELECT w, f, 0 AS i, [CAST(0 AS BIGINT)] AS best, [0] AS lens
         |  FROM wt
         |  UNION ALL
         |  SELECT w, f, i,
         |    list_append(best, LEAST(x1, x2, x3, x4)),
         |    list_append(lens, CASE WHEN x1 = LEAST(x1, x2, x3, x4) THEN 1
         |                           WHEN x2 = LEAST(x1, x2, x3, x4) THEN 2
         |                           WHEN x3 = LEAST(x1, x2, x3, x4) THEN 3
         |                           ELSE 4 END)
         |  FROM (
         |    SELECT d.w, d.f, d.i + 1 AS i, d.best, d.lens,
         |      d.best[d.i + 1] + COALESCE(ca.cost, 1000000000000) AS x1,
         |      CASE WHEN d.i >= 1 THEN d.best[d.i]
         |        + COALESCE(cb.cost, 1000000000000)
         |        ELSE 1000000000000 END AS x2,
         |      CASE WHEN d.i >= 2 THEN d.best[d.i - 1]
         |        + COALESCE(cc.cost, 1000000000000)
         |        ELSE 1000000000000 END AS x3,
         |      CASE WHEN d.i >= 3 THEN d.best[d.i - 2]
         |        + COALESCE(cd.cost, 1000000000000)
         |        ELSE 1000000000000 END AS x4
         |    FROM dp1 d
         |    LEFT JOIN k1 ca ON ca.tok = CASE WHEN d.i = 0
         |      THEN substr(d.w, 1, 1) ELSE '##' || substr(d.w, d.i + 1, 1) END
         |    LEFT JOIN k1 cb ON d.i >= 1 AND cb.tok = CASE WHEN d.i = 1
         |      THEN substr(d.w, 1, 2) ELSE '##' || substr(d.w, d.i, 2) END
         |    LEFT JOIN k1 cc ON d.i >= 2 AND cc.tok = CASE WHEN d.i = 2
         |      THEN substr(d.w, 1, 3) ELSE '##' || substr(d.w, d.i - 1, 3) END
         |    LEFT JOIN k1 cd ON d.i >= 3 AND cd.tok = CASE WHEN d.i = 3
         |      THEN substr(d.w, 1, 4) ELSE '##' || substr(d.w, d.i - 2, 4) END
         |    WHERE d.i < len(d.w)) z),
         |fin1 AS MATERIALIZED (SELECT w, f, lens FROM dp1 WHERE i = len(w)),
         |bk1 AS (
         |  SELECT w, f, len(w) AS p, lens, CAST(NULL AS VARCHAR) AS tok
         |  FROM fin1
         |  UNION ALL
         |  SELECT w, f, p - lens[p + 1], lens,
         |    CASE WHEN p - lens[p + 1] = 0 THEN substr(w, 1, lens[p + 1])
         |         ELSE '##' || substr(w, p - lens[p + 1] + 1, lens[p + 1]) END
         |  FROM bk1 WHERE p > 0),
         |n1 AS MATERIALIZED (SELECT tok, CAST(SUM(f) AS BIGINT) AS n FROM bk1
         |       WHERE tok IS NOT NULL GROUP BY 1),
         |cnt2 AS MATERIALIZED (SELECT s.tok,
         |           CASE WHEN len(s.tok) = 1
         |                  OR (s.tok LIKE '##%' AND len(s.tok) = 3)
         |                THEN GREATEST(COALESCE(n1.n, 0), 1)
         |                ELSE COALESCE(n1.n, 0) END AS c
         |         FROM seed s LEFT JOIN n1 USING (tok)),
         |cnt2f AS MATERIALIZED (SELECT tok, c FROM cnt2 WHERE c > 0),
         |t2 AS MATERIALIZED (SELECT CAST(SUM(c) AS BIGINT) AS tc FROM cnt2f),
         |k2 AS MATERIALIZED (SELECT tok, CAST(round(-ln(CAST(c AS DOUBLE)
         |         / CAST(tc AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS cost
         |       FROM cnt2f, t2),
         |dp2 AS (
         |  SELECT w, f, 0 AS i, [CAST(0 AS BIGINT)] AS best, [0] AS lens
         |  FROM wt
         |  UNION ALL
         |  SELECT w, f, i,
         |    list_append(best, LEAST(x1, x2, x3, x4)),
         |    list_append(lens, CASE WHEN x1 = LEAST(x1, x2, x3, x4) THEN 1
         |                           WHEN x2 = LEAST(x1, x2, x3, x4) THEN 2
         |                           WHEN x3 = LEAST(x1, x2, x3, x4) THEN 3
         |                           ELSE 4 END)
         |  FROM (
         |    SELECT d.w, d.f, d.i + 1 AS i, d.best, d.lens,
         |      d.best[d.i + 1] + COALESCE(ca.cost, 1000000000000) AS x1,
         |      CASE WHEN d.i >= 1 THEN d.best[d.i]
         |        + COALESCE(cb.cost, 1000000000000)
         |        ELSE 1000000000000 END AS x2,
         |      CASE WHEN d.i >= 2 THEN d.best[d.i - 1]
         |        + COALESCE(cc.cost, 1000000000000)
         |        ELSE 1000000000000 END AS x3,
         |      CASE WHEN d.i >= 3 THEN d.best[d.i - 2]
         |        + COALESCE(cd.cost, 1000000000000)
         |        ELSE 1000000000000 END AS x4
         |    FROM dp2 d
         |    LEFT JOIN k2 ca ON ca.tok = CASE WHEN d.i = 0
         |      THEN substr(d.w, 1, 1) ELSE '##' || substr(d.w, d.i + 1, 1) END
         |    LEFT JOIN k2 cb ON d.i >= 1 AND cb.tok = CASE WHEN d.i = 1
         |      THEN substr(d.w, 1, 2) ELSE '##' || substr(d.w, d.i, 2) END
         |    LEFT JOIN k2 cc ON d.i >= 2 AND cc.tok = CASE WHEN d.i = 2
         |      THEN substr(d.w, 1, 3) ELSE '##' || substr(d.w, d.i - 1, 3) END
         |    LEFT JOIN k2 cd ON d.i >= 3 AND cd.tok = CASE WHEN d.i = 3
         |      THEN substr(d.w, 1, 4) ELSE '##' || substr(d.w, d.i - 2, 4) END
         |    WHERE d.i < len(d.w)) z),
         |fin2 AS MATERIALIZED (SELECT w, f, lens FROM dp2 WHERE i = len(w)),
         |bk2 AS (
         |  SELECT w, f, len(w) AS p, lens, CAST(NULL AS VARCHAR) AS tok
         |  FROM fin2
         |  UNION ALL
         |  SELECT w, f, p - lens[p + 1], lens,
         |    CASE WHEN p - lens[p + 1] = 0 THEN substr(w, 1, lens[p + 1])
         |         ELSE '##' || substr(w, p - lens[p + 1] + 1, lens[p + 1]) END
         |  FROM bk2 WHERE p > 0),
         |n2 AS MATERIALIZED (SELECT tok, CAST(SUM(f) AS BIGINT) AS n FROM bk2
         |       WHERE tok IS NOT NULL GROUP BY 1),
         |sel AS MATERIALIZED (SELECT s.tok,
         |          (len(s.tok) = 1
         |            OR (s.tok LIKE '##%' AND len(s.tok) = 3)) AS is_single,
         |          COALESCE(n1.n, 0) AS n_em1, COALESCE(n2.n, 0) AS n_em2
         |        FROM seed s LEFT JOIN n1 USING (tok)
         |          LEFT JOIN n2 USING (tok)
         |        WHERE (len(s.tok) = 1
         |            OR (s.tok LIKE '##%' AND len(s.tok) = 3))
         |          OR COALESCE(n1.n, 0) > 0),
         |topm AS (SELECT tok FROM sel WHERE NOT is_single AND n_em2 > 0
         |         ORDER BY n_em2 DESC, tok ASC LIMIT 20),
         |kept AS MATERIALIZED (SELECT DISTINCT tok FROM (
         |          SELECT tok FROM sel WHERE is_single
         |          UNION ALL SELECT tok FROM topm)),
         |vl AS MATERIALIZED (SELECT list(tok) AS vs FROM kept),
         |wf AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (
         |    SELECT unnest($toks) AS w FROM documents)
         |  WHERE length(w) > 0 GROUP BY 1),
         |it AS (
         |  SELECT w, f, length(w) AS n, 1 AS p, '' AS pieces
         |  FROM wf WHERE length(w) <= 20
         |  UNION ALL
         |  SELECT w, f, n, p + pick AS p,
         |    CASE WHEN pieces = '' THEN tok
         |         ELSE pieces || ' ' || tok END AS pieces
         |  FROM (
         |    SELECT w, f, n, p, pieces,
         |      CASE WHEN ok4 THEN 4 WHEN ok3 THEN 3
         |           WHEN ok2 THEN 2 ELSE 1 END AS pick,
         |      CASE WHEN ok4 THEN c4 WHEN ok3 THEN c3
         |           WHEN ok2 THEN c2 ELSE c1 END AS tok
         |    FROM (
         |      SELECT it.w, it.f, it.n, it.p, it.pieces,
         |        (it.p + 3 <= it.n AND list_contains(vs,
         |          CASE WHEN it.p = 1 THEN substring(it.w, 1, 4)
         |               ELSE '##' || substring(it.w, it.p, 4) END)) AS ok4,
         |        (it.p + 2 <= it.n AND list_contains(vs,
         |          CASE WHEN it.p = 1 THEN substring(it.w, 1, 3)
         |               ELSE '##' || substring(it.w, it.p, 3) END)) AS ok3,
         |        (it.p + 1 <= it.n AND list_contains(vs,
         |          CASE WHEN it.p = 1 THEN substring(it.w, 1, 2)
         |               ELSE '##' || substring(it.w, it.p, 2) END)) AS ok2,
         |        CASE WHEN it.p = 1 THEN substring(it.w, 1, 4)
         |             ELSE '##' || substring(it.w, it.p, 4) END AS c4,
         |        CASE WHEN it.p = 1 THEN substring(it.w, 1, 3)
         |             ELSE '##' || substring(it.w, it.p, 3) END AS c3,
         |        CASE WHEN it.p = 1 THEN substring(it.w, 1, 2)
         |             ELSE '##' || substring(it.w, it.p, 2) END AS c2,
         |        CASE WHEN it.p = 1 THEN substring(it.w, 1, 1)
         |             ELSE '##' || substring(it.w, it.p, 1) END AS c1
         |      FROM it, vl
         |      WHERE it.p <= it.n)))
         |SELECT w AS word, f AS cnt, pieces,
         |  CAST(len(string_split(pieces, ' ')) AS BIGINT) AS n_pieces
         |FROM it WHERE p > n
         |UNION ALL
         |SELECT w AS word, f AS cnt, '[UNK]' AS pieces,
         |  CAST(1 AS BIGINT) AS n_pieces
         |FROM wf WHERE length(w) > 20""".stripMargin
  )
}
