package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.operators.{Forecast, Linkage, Profiler, RankStats, Regression,
  Skew, TargetEncode}
import graft.queries.OracleSql.{lcgSql, toks}

/** Round-7 statistics family: model fits as aggregation (OLS, binned
  * logistic GD), rank/distribution-free tests (Spearman, Mann-Whitney,
  * two-sample KS), distribution audits (Benford, daily ACF, Hill tail
  * index, mutual information) and entity-resolution clustering. Every
  * oracle recomputes the semantics in DuckDB from first principles;
  * iterative fits replay as recursive CTEs with the identical 9-dp
  * quantization.
  */
object StatsQueries {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(

    // OLS of extended price on (quantity, discount): 9 exact-decimal
    // moments in ONE map-side-combined pass, normal equations solved
    // closed-form (Cramer) inside the plan — regression without a
    // second corpus pass or a driver loop.
    "q191_ols" -> ((s, d) => {
      Regression.olsTwoFeature(lineitem(s, d), "l_extendedprice",
        "l_quantity", "l_discount")
    }),

    // Binned logistic regression (y = order status 'F' on normalized
    // total price): 12 gradient-ascent rounds on a 64-bin histogram —
    // the corpus folds once, iterations ride the bounded bin frame,
    // every step quantized to 9 decimals and replayed by the oracle's
    // recursive CTE round-for-round.
    "q192_logit_gd" -> ((s, d) => {
      Regression.logitBinned(orders(s, d), "o_totalprice",
        col("o_orderstatus") === "F", lo = 0.0, hi = 600000.0, nBins = 64,
        lr = 0.5, iters = 12)
    }),

    // Spearman rank correlation of quantity vs extended price:
    // midranks from the per-distinct-value frame (two-phase bucketed
    // cumsum, no single-partition window), Pearson over exact-decimal
    // rank sums.
    "q193_spearman" -> ((s, d) => {
      RankStats.spearman(lineitem(s, d), "l_quantity", "l_extendedprice")
    }),

    // Benford first-digit audit of order totals — the fabricated-data
    // / broken-ETL smell test; leading digit via the decimal STRING
    // form (no log10-at-power-boundary hazard).
    "q194_benford" -> ((s, d) => {
      Profiler.benfordAudit(orders(s, d), "o_totalprice")
    }),

    // Autocorrelation of the daily order count at lags 1..7 — the
    // seasonality diagnostic; corpus folds once to the calendar-
    // bounded day frame, numerators in exact scaled-integer decimals.
    "q195_acf" -> ((s, d) => {
      Forecast.dailyAcf(orders(s, d), "o_orderdate", maxLag = 7)
    }),

    // Hill tail-index of the token frequency distribution (k = 100):
    // how Zipfian is the vocabulary — the quantitative basis for cap
    // and salt budgets. Only ordered work is TakeOrdered(k+1).
    "q196_zipf_tail" -> ((s, d) => {
      val counts = documents(s, d)
        .select(explode(graft.llm.TextStats.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("f"))
      Skew.hillTailIndex(counts, "f", "w", k = 100)
    }),

    // Two-sample Kolmogorov-Smirnov: do finished ('F') and open order
    // totals follow the same distribution? Exact integer D-numerator
    // over the pooled distinct-value frame; bucketed cumsums.
    "q197_ks_test" -> ((s, d) => {
      RankStats.ksTwoSample(orders(s, d), "o_totalprice",
        col("o_orderstatus") === "F")
    }),

    // Mutual information between market segment and nation — the
    // model-free categorical dependence score (per-term 9-dp
    // quantized entropy sums, contingency frame built once).
    "q198_mutual_info" -> ((s, d) => {
      TargetEncode.mutualInfo(customer(s, d), "c_mktsegment", "c_nationkey")
    }),

    // Entity-resolution CLUSTERS: the q125 blocked Levenshtein pairs
    // closed into components (pointer-jumping CC) and summarized per
    // cluster — the golden-cluster step after pairwise linkage.
    "q199_er_clusters" -> ((s, d) => {
      val pairs = Linkage.fuzzyPairs(
        customer(s, d).filter(col("c_custkey") < 200),
        "c_custkey", "c_name", "c_nationkey", maxDist = 1)
      graft.llm.Components.dedupGroups(pairs, "id_a", "id_b")
    }),

    // Mann-Whitney U: is the returned-flag quantity stochastically
    // larger? Heavy integer ties exercise the midrank + tie-corrected
    // variance path; the rank sum folds over the 50-value frame.
    "q200_mann_whitney" -> ((s, d) => {
      RankStats.mannWhitney(lineitem(s, d), "l_quantity",
        col("l_returnflag") === "R")
    }),

    // Ridge regression (lambda = 1000 on the slopes): the q191
    // moments with a penalized diagonal; R2 from the full quadratic
    // SSE since ridge residuals aren't orthogonal to the design.
    "q201_ridge" -> ((s, d) => {
      Regression.ridgeTwoFeature(lineitem(s, d), "l_extendedprice",
        "l_quantity", "l_discount", lambda = 1000.0)
    }),

    // 5-fold cross-validated OLS: per-fold moments in ONE pass, train
    // stats by global-minus-fold subtraction, k Cramer solves in the
    // plan, held-out RMSE per fold — distributed CV in two passes.
    "q202_cv_ols" -> ((s, d) => {
      Regression.cvOls(
        lineitem(s, d).withColumn("rid",
          col("l_orderkey") * 10 + col("l_linenumber")),
        "rid", "l_extendedprice", "l_quantity", "l_discount", k = 5)
    }),

    // Randomization test: does the 'F'-status mean total differ from
    // the rest beyond label-exchange noise? 64 deterministic LCG
    // relabelings in one exploded pass (the q176 economics).
    "q203_perm_test" -> ((s, d) => {
      graft.operators.AbTest.permutationTest(orders(s, d), "o_orderkey",
        "o_totalprice", col("o_orderstatus") === "F", b = 64)
    }),

    // Kendall's tau-b, EXACT at any row count: the contingency-table
    // identity makes concordance quadratic in CELLS (50x11 here),
    // never rows - the naive all-pairs form is O(n^2) and unrunnable.
    "q210_kendall_tau" -> ((s, d) => {
      RankStats.kendallTauB(lineitem(s, d), "l_quantity", "l_discount")
    }),

    // REAL decode -> REAL bilinear resize: the q189 BMP fixtures
    // resampled to a 4x4 RGB grid (center-aligned half-pixel
    // convention, clamped edges); the oracle replays the bilinear
    // arithmetic value-for-value from the generative pixel formula.
    "q211_bmp_resize" -> ((s, d) => {
      import s.implicits._
      val pix = (x: Int, y: Int) =>
        ((x * 7 + y * 13) % 256, (x * 3 + y * 5 + 17) % 256,
         (x + y * 2 + 101) % 256)
      val ds = Seq((1L, 8, 5), (2L, 16, 9), (3L, 7, 3)).map {
        case (id, w, h) => graft.llm.Multimodal.MediaRow(
          id, graft.llm.ImageFixtures.bmp(w, h, pix), "image")
      }.toDS()
      graft.llm.Multimodal.extractResizedBmp(ds, 4, 4).toDF()
        .select(col("id").as("image_id"),
                posexplode(col("features")).as(Seq("pos", "v")))
        .select(col("image_id"), col("pos"),
                round(col("v").cast("double"), 4).as("value"))
    }),

    // Decode -> DFT: spectral energy at bins 0..3 over the decoded
    // PCM clips (bin 0 = DC = the sample sum, an independent decode
    // check) - trig factors 9-dp-quantized, terms in exact decimals,
    // so the oracle replays the DFT bit-for-bit from the formula.
    "q212_wav_spectral" -> ((s, d) => {
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
      graft.llm.Multimodal.spectralEnergies(
        graft.llm.Multimodal
          .extractFeatures(ds, graft.llm.Multimodal.BmpWavDecoder).toDF(),
        "id", "features", freqs = Seq(0, 1, 2, 3))
    }),

    // Perceptual image near-dup: decode -> bilinear 8x8 -> luma ->
    // 64-bit aHash -> pairwise Hamming. The bit strings and distances
    // hash-match an oracle that replays the WHOLE pipeline (including
    // the float casts) from the generative pixel formula.
    "q213_phash" -> ((s, d) => {
      import s.implicits._
      val pix = (x: Int, y: Int) =>
        ((x * 7 + y * 13) % 256, (x * 3 + y * 5 + 17) % 256,
         (x + y * 2 + 101) % 256)
      val ds = Seq((1L, 8, 5), (2L, 16, 9), (3L, 7, 3)).map {
        case (id, w, h) => graft.llm.Multimodal.MediaRow(
          id, graft.llm.ImageFixtures.bmp(w, h, pix), "image")
      }.toDS()
      val hashes = graft.llm.Multimodal.perceptualHash64(
        graft.llm.Multimodal.extractResizedBmp(ds, 8, 8).toDF(),
        "id", "features")
      val a = hashes.select(col("image_id").as("id_a"),
        col("bits").as("bits_a"))
      val b = hashes.select(col("image_id").as("id_b"),
        col("bits").as("bits_b"))
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          graft.llm.NearDup.hammingBits(col("bits_a"), col("bits_b"))
            .as("hamming"),
          col("bits_a"), col("bits_b"))
    }),

    // Perceptual-hash near-dup AT SCALE SHAPE: 500 synthetic 64-bit
    // hashes in 5 planted clusters (base pattern from doc_id % 5,
    // 2-5 noise-flipped bits per doc), paired through the r+1 = 7
    // band pigeonhole index (NearDup.hammingNearDupPairs - band
    // equi-joins, NEVER the q213 all-pairs join) and exact-Hamming
    // verified at <= 6. The oracle rebuilds every bit string from
    // the same formula and takes the truth from brute-force all
    // pairs, so hash-equality proves the banded candidate set has
    // zero false negatives AND the verify drops every candidate
    // beyond r.
    "q214_phash_banded" -> ((s, d) => {
      // doc_id < 500 pins the fixture slice across SFs (the q28
      // precedent): the planted clusters are |group| = 100, so the
      // TRUE pair set stays fixture-bounded — at sf0.1 the unsliced
      // 5000-doc corpus would make the truth itself quadratic
      // (5 clusters x 1000 docs), a property of the planted data,
      // not of the banded operator under test.
      val bits = documents(s, d).filter(col("doc_id") < 500)
        .select(col("doc_id"),
        array_join(transform(sequence(lit(0), lit(63)), j => {
          val base = (col("doc_id") % 5 * 37 + j * 11 + 3) % 5 < 2
          val flip =
            (col("doc_id") * 13 + j * 7) % 64 < col("doc_id") % 4 + 2
          when(base =!= flip, lit("1")).otherwise(lit("0"))
        }), "").as("bits"))
      graft.llm.NearDup.hammingNearDupPairs(bits, "doc_id", "bits", r = 6)
    }),

    // The FULL multimodal near-dup pipeline at corpus shape, PNG in:
    // 120 per-executor-generated PNGs (10 content groups x 12 docs,
    // per-doc blue-channel perturbation, RGBA for even ids, varied
    // dims) -> Inflater decode -> bilinear 8x8 -> luma aHash ->
    // BANDED Hamming pairs at r=10 (never all-pairs). The oracle
    // replays decode->resize->hash from the generative formula (the
    // q213 arithmetic, parametrized per image) and takes the truth
    // from brute-force pairs — one wrong PNG filter undo, resize
    // sample, luma digit or banding drop breaks the hash.
    "q217_png_phash_pipeline" -> ((s, d) => {
      import s.implicits._
      val ds = documents(s, d).select(col("doc_id"))
        .filter(col("doc_id") < 120).as[Long].map { id =>
          val g = (id % 10).toInt; val dd = (id % 4).toInt
          val w = 8 + g; val h = 5 + (g % 5)
          val pix = (x: Int, y: Int) => (
            (x * 7 + y * 13 + g * 37) % 256,
            (x * 3 + y * 5 + 17 + g * 53) % 256,
            (x + y * 2 + 101 + g * 11 + dd * 29) % 256)
          graft.llm.Multimodal.MediaRow(id,
            graft.llm.ImageFixtures.pngFull(w, h, pix, rgba = id % 2 == 0),
            "image")
        }
      val hashes = graft.llm.Multimodal.perceptualHash64(
        graft.llm.Multimodal.extractResizedBmp(ds, 8, 8).toDF(),
        "id", "features")
      graft.llm.NearDup.hammingNearDupPairs(hashes, "image_id", "bits",
          r = 10)
        .select(col("id_a"), col("id_b"), col("hamming"))
    }),

    // PNG pixel decode through the JDK-Inflater path: fixture PNGs
    // (RGB and RGBA, scanline filters CYCLING None/Sub/Up/Average/
    // Paeth, IDAT split across two chunks) decoded to raw RGB
    // planes; the oracle regenerates every channel value from the
    // generative pixel formula, so one wrong filter undo, channel
    // order, alpha slip or chunk-concat bug breaks the hash.
    "q215_png_decode" -> ((s, d) => {
      import s.implicits._
      val pix = (x: Int, y: Int) =>
        ((x * 7 + y * 13) % 256, (x * 3 + y * 5 + 17) % 256,
         (x + y * 2 + 101) % 256)
      // image 4: PALETTE (PLTE) PNG with a tRNS chunk the decoder must
      // skip — 16 deterministic palette entries, index (x*3 + y*7) % 16
      val pal = (0 until 16).map(i =>
        ((i * 11) % 256, (i * 29 + 3) % 256, (i * 53 + 7) % 256))
      val ds = (Seq((1L, 9, 7, false), (2L, 16, 11, true), (3L, 5, 13, true))
        .map { case (id, w, h, rgba) => graft.llm.Multimodal.MediaRow(
          id, graft.llm.ImageFixtures.pngFull(w, h, pix, rgba), "image") } :+
        graft.llm.Multimodal.MediaRow(4L,
          graft.llm.ImageFixtures.pngPalette(8, 9, pal,
            (x, y) => (x * 3 + y * 7) % 16, withTrns = true), "image"))
        .toDS()
      graft.llm.Multimodal.extractFeatures(ds,
          graft.llm.Multimodal.BmpWavDecoder).toDF()
        .select(col("id").as("image_id"),
                posexplode(col("features")).as(Seq("pos", "v")))
        .select(col("image_id"), col("pos"),
                col("v").cast("double").as("value"))
    }),

    // Baseline JPEG decode through the full dispatch (SOI sniff ->
    // JpegCodec: Huffman + dequantize + IDCT + YCbCr), q29-style
    // invariant envelope: three own-encoder fixtures (one
    // non-multiple-of-8, one with restart markers) decode back to the
    // generative smooth plane within the quantization error bound.
    // JPEG is lossy, so the oracle pins the exact value count from the
    // dims and expects the error booleans TRUE - a Huffman, zigzag,
    // IDCT or upsample bug blows the bound (structural errors measure
    // 128+), a dims bug breaks n_values.
    "q242_jpeg_decode" -> ((s, d) => {
      import s.implicits._
      val smooth = (x: Int, y: Int) =>
        (96 + x * 2 + y, 80 + x + y * 2, 120 + x - y / 2)
      val imgs = Seq((1L, 24, 16, 0), (2L, 17, 13, 0), (3L, 24, 24, 2))
      val ds = imgs.map { case (id, w, h, ri) =>
        graft.llm.Multimodal.MediaRow(id,
          graft.llm.JpegCodec.encode(w, h, smooth, quality = 95,
            restartInterval = ri), "image")
      }.toDS()
      val dec = graft.llm.Multimodal
        .extractFeatures(ds, graft.llm.Multimodal.BmpWavDecoder).toDF()
        .select(col("id").as("image_id"),
                posexplode(col("features")).as(Seq("pos", "v")))
      val exp = imgs.map { case (id, w, h, _) => (id, w, h) }
        .toDF("image_id", "w", "h")
        .withColumn("y", explode(sequence(lit(0), col("h") - 1)))
        .withColumn("x", explode(sequence(lit(0), col("w") - 1)))
        .withColumn("c", explode(sequence(lit(0), lit(2))))
        .select(col("image_id"),
          ((col("y") * col("w") + col("x")) * 3 + col("c")).as("pos"),
          when(col("c") === 0, lit(96) + col("x") * 2 + col("y"))
            .when(col("c") === 1, lit(80) + col("x") + col("y") * 2)
            .otherwise(lit(120) + col("x") - expr("y div 2"))
            .cast("double").as("expected"))
      dec.join(exp, Seq("image_id", "pos"))
        .groupBy(col("image_id"))
        .agg(count(lit(1)).as("n_values"),
             max(abs(col("v").cast("double") - col("expected"))).as("__maxe"),
             avg(abs(col("v").cast("double") - col("expected"))).as("__meane"))
        .select(col("image_id"), col("n_values"),
                (col("__maxe") <= 6.0).as("max_err_le_6"),
                (col("__meane") <= 2.0).as("mean_err_le_2"))
    }),

    // Codec-parity invariant for the full multimodal pipeline: the
    // SAME generative plane encoded losslessly (PNG) and lossily
    // (JPEG q95) rides decode -> bilinear 8x8 -> aHash on BOTH codec
    // paths, and the perceptual hashes must agree within a small
    // Hamming envelope (measured max 2 / mean 0.35 across the 60
    // planes; pinned at <= 6). A JPEG Huffman/IDCT/upsample bug or a
    // dispatch regression blows the bound (unrelated planes sit near
    // 32 bits apart); the oracle pins the image set and expects the
    // booleans TRUE (the q29/q36 envelope pattern - the hash value
    // itself is deterministic but oracle-opaque for a lossy codec).
    "q244_jpeg_phash_parity" -> ((s, d) => {
      import s.implicits._
      val rows = documents(s, d).select(col("doc_id"))
        .filter(col("doc_id") < 60).as[Long].flatMap { id =>
          val g = (id % 10).toInt; val dd = (id % 4).toInt
          val w = 8 + g; val h = 5 + (g % 5)
          val pix = (x: Int, y: Int) => (
            (x * 7 + y * 13 + g * 37) % 256,
            (x * 3 + y * 5 + 17 + g * 53) % 256,
            (x + y * 2 + 101 + g * 11 + dd * 29) % 256)
          Seq(
            graft.llm.Multimodal.MediaRow(id,
              graft.llm.ImageFixtures.pngFull(w, h, pix), "image"),
            graft.llm.Multimodal.MediaRow(id + 1000L,
              graft.llm.JpegCodec.encode(w, h, pix, quality = 95), "image"))
        }
      val hashes = graft.llm.Multimodal.perceptualHash64(
        graft.llm.Multimodal.extractResizedBmp(rows, 8, 8).toDF(),
        "id", "features")
      val png = hashes.filter(col("image_id") < 1000)
        .select(col("image_id").as("image_id"), col("bits").as("pb"))
      val jpg = hashes.filter(col("image_id") >= 1000)
        .select((col("image_id") - 1000).as("image_id"),
                col("bits").as("jb"))
      png.join(jpg, "image_id")
        .select(col("image_id"),
          (graft.llm.NearDup.hammingBits(col("pb"), col("jb")) <= 6)
            .as("phash_within_6_bits"))
    }),

    // Log-mel filterbank energies over the portable DFT — the
    // standard acoustic-model feature: HTK triangles derived in-plan
    // from the mel formula, bin powers from the q212 spectral kernel,
    // broadcast filter join, exact-decimal reduction. The oracle
    // re-derives the full ladder (DFT terms, 9-dp weights, 6-dp
    // products, 3-dp energies, post-round log).
    "q251_mel_energies" -> ((s, d) => {
      import s.implicits._
      val clips = Seq((1L, 200, 37, 0), (2L, 200, 53, 11), (3L, 160, 91, 7))
      val ds = clips.map { case (id, n, a, b) =>
        (id, (0 until n).map(t =>
          (((t * a + b) % 2001) - 1000).toFloat).toArray)
      }.toDF("clip_id", "samples")
      graft.llm.Multimodal.melEnergies(ds, "clip_id", "samples",
        sampleRate = 8000, nMels = 8, nBins = 81)
    }),

    // VIDEO near-dup: the full frame pipeline decode -> bilinear 8x8
    // -> aHash over two MJPEG AVIs, the second a LOWER-QUALITY
    // re-encode of the first — per-frame hashes must land within the
    // re-encode Hamming envelope (measured 1-6, pinned <= 12) while
    // DIFFERENT frames stay far apart (measured 28-49, pinned >= 20).
    // The video twin of q244's codec-parity invariant: hash values
    // are lossy-codec-dependent, so the oracle pins the pair set and
    // expects the booleans TRUE.
    "q255_video_phash" -> ((s, d) => {
      import s.implicits._
      val mk = (f: Int) => (x: Int, y: Int) => (
        (x * 31 + y * 47 + f * 101) % 256,
        (x * 13 + y * 7 + f * 59 + 31) % 256,
        (x * 5 + y * 29 + f * 151 + 7) % 256)
      val ds = Seq(
        graft.llm.Multimodal.MediaRow(1L,
          graft.llm.VideoFixtures.aviMjpeg(24, 18, 3, mk, quality = 95),
          "video"),
        graft.llm.Multimodal.MediaRow(2L,
          graft.llm.VideoFixtures.aviMjpeg(24, 18, 3, mk, quality = 70),
          "video")).toDS()
      val frames = graft.llm.Multimodal.extractVideoFrames(ds)
        .map(r => (r.id * 100 + r.frame,
          graft.llm.Multimodal.resizeBilinear(r.features, r.w, r.h, 8, 8)))
        .toDF("key", "features")
      val hashes = graft.llm.Multimodal
        .perceptualHash64(frames, "key", "features")
      val h1 = hashes.filter(col("image_id") < 200)
        .select((col("image_id") - 100).as("f"), col("bits").as("b1"))
      val h2 = hashes.filter(col("image_id") >= 200)
        .select((col("image_id") - 200).as("f"), col("bits").as("b2"))
      val re = h1.join(h2, "f")
        .select(lit("reencode").as("kind"), col("f").cast("int").as("a"),
          col("f").cast("int").as("b"),
          (graft.llm.NearDup.hammingBits(col("b1"), col("b2")) <= 12)
            .as("holds"))
      val cross = h1.join(h1.select(col("f").as("g"), col("b1").as("bg")),
          col("f") < col("g"))
        .select(lit("cross").as("kind"), col("f").cast("int").as("a"),
          col("g").cast("int").as("b"),
          (graft.llm.NearDup.hammingBits(col("b1"), col("bg")) >= 20)
            .as("holds"))
      re.unionByName(cross)
    }),

    // Linear resample 8000 -> 5000 Hz and 8000 -> 16000 Hz (down- and
    // up-sampling through one exact-rational kernel) over decoded
    // 16-bit WAV samples — the rate normalizer; the oracle replays
    // every interpolated value from the sample formula with the same
    // integer idx/frac arithmetic.
    "q254_resample" -> ((s, d) => {
      import s.implicits._
      val clips = Seq((1L, 60, 97, 3), (2L, 41, 211, 17))
      val ds = clips.map { case (id, n, a, b) =>
        val samples = Array.tabulate(n)(t => (((t * a + b) % 2001) - 1000).toShort)
        graft.llm.Multimodal.MediaRow(id,
          graft.llm.AudioFixtures.wavPcm16(8000, 1, samples), "audio")
      }.toDS()
      val dec = graft.llm.Multimodal.extractFeatures(ds,
          graft.llm.Multimodal.BmpWavDecoder).toDF()
        .select(col("id").as("clip_id"), col("features"))
      graft.llm.Multimodal
        .resampleLinear(dec, "clip_id", "features", 8000, 5000)
        .select(col("clip_id"), lit(5000).as("dst_rate"), col("j"), col("value"))
        .unionByName(graft.llm.Multimodal
          .resampleLinear(dec, "clip_id", "features", 8000, 16000)
          .select(col("clip_id"), lit(16000).as("dst_rate"), col("j"),
                  col("value")))
    }),

    // Area-average (box) downscale over REAL decoded planes (one BMP,
    // one PNG through the container sniff): every target cell is the
    // exact fractional-overlap average of the source pixels its box
    // covers — the anti-aliased thumbnail op bilinear is not. Inputs
    // are lossless, so the oracle replays every output cell from the
    // generative formula through the same overlap/quantization ladder.
    "q253_area_resize" -> ((s, d) => {
      import s.implicits._
      val pix = (x: Int, y: Int) =>
        ((x * 7 + y * 13) % 256, (x * 3 + y * 5 + 17) % 256,
         (x + y * 2 + 101) % 256)
      val ds = Seq(
          (1L, graft.llm.ImageFixtures.bmp(13, 9, pix)),
          (2L, graft.llm.ImageFixtures.pngFull(16, 11, pix)))
        .toDS().map { case (id, bytes) =>
          val (w, h, px) =
            graft.llm.Multimodal.BmpWavDecoder.decodeImageWithDims(bytes)
          (id, w, h, px)
        }.toDF("image_id", "w", "h", "features")
      graft.llm.Multimodal.resizeAreaAvg(ds, "image_id", "w", "h",
        "features", tw = 5, th = 4)
    }),

    // MFCCs on top of the q251 filterbank: type-II DCT of the log-mel
    // vector, basis derived in-plan — the classic compact acoustic
    // feature, oracle-replayed coefficient-for-coefficient.
    "q252_mfcc" -> ((s, d) => {
      import s.implicits._
      val clips = Seq((1L, 200, 37, 0), (2L, 200, 53, 11), (3L, 160, 91, 7))
      val ds = clips.map { case (id, n, a, b) =>
        (id, (0 until n).map(t =>
          (((t * a + b) % 2001) - 1000).toFloat).toArray)
      }.toDF("clip_id", "samples")
      graft.llm.Multimodal.melCepstra(ds, "clip_id", "samples",
        sampleRate = 8000, nMels = 8, nBins = 81, nCoef = 5)
    }),

    // Baseline-TIFF decode through the full image dispatch: the scan/
    // archive-crawl workhorse across its honest matrix — LZW (early
    // width change) + horizontal predictor, PackBits multi-strip
    // big-endian RGB, Deflate grayscale, raw 16-bit samples, 16-bit-
    // ColorMap palette expansion, MSB-packed bilevel. Every supported
    // compression is lossless, so the oracle replays each sample from
    // the generative formulas; TiffCodecSpec additionally pins the
    // codec against the JDK's independent TIFF plugin in BOTH
    // directions (our bytes → ImageIO; ImageIO's LZW/PackBits/
    // Deflate output → our decoder).
    "q262_tiff_decode" -> ((s, d) => {
      import s.implicits._
      import graft.llm.TiffCodec
      import graft.llm.TiffCodec.Options
      val rgb = (x: Int, y: Int) =>
        ((x * 7 + y * 13) % 256, (x * 3 + y * 5 + 17) % 256,
         (x + y * 2 + 101) % 256)
      val runs = (x: Int, y: Int) =>
        ((x / 9) * 31 % 256, (y / 4) * 53 % 256, 77)
      val g8 = (x: Int, y: Int) => (x * 11 + y * 17 + 3) % 256
      val g16 = (x: Int, y: Int) => (x * 2021 + y * 977 + 11) % 65536
      val pal = (0 until 5).map(i =>
        ((i * 37 + 11) % 256, (i * 73 + 5) % 256, (i * 151 + 97) % 256))
      val pidx = (x: Int, y: Int) => (x * 3 + y * 7) % 5
      val b1 = (x: Int, y: Int) => (x * x + y * 3) % 2
      val ds = Seq(
        graft.llm.Multimodal.MediaRow(1L, TiffCodec.encodeRgb(21, 13, rgb,
          Options(compression = 5, predictor = 2)), "image"),
        graft.llm.Multimodal.MediaRow(2L, TiffCodec.encodeRgb(24, 18, runs,
          Options(littleEndian = false, compression = 32773,
            rowsPerStrip = 5)), "image"),
        graft.llm.Multimodal.MediaRow(3L, TiffCodec.encodeGray(17, 9, g8,
          opts = Options(compression = 8)), "image"),
        graft.llm.Multimodal.MediaRow(4L, TiffCodec.encodeGray(12, 7, g16,
          bits = 16, opts = Options(littleEndian = false)), "image"),
        graft.llm.Multimodal.MediaRow(5L, TiffCodec.encodePalette(14, 8,
          pal, pidx, opts = Options(compression = 5)), "image"),
        graft.llm.Multimodal.MediaRow(6L, TiffCodec.encodeGray(19, 11, b1,
          bits = 1, opts = Options(compression = 32773)), "image"),
        // r13: CCITT G4/G3-1D/MH (the scanned-document staple) and
        // tiled organization with clipped edge tiles
        graft.llm.Multimodal.MediaRow(7L, TiffCodec.encodeGray(70, 23,
          (x, y) => (x / 5 + y / 3) % 2, bits = 1, photo = 0,
          opts = Options(compression = 4)), "image"),
        graft.llm.Multimodal.MediaRow(8L, TiffCodec.encodeRgb(37, 19, rgb,
          Options(compression = 5, tile = 16)), "image"),
        graft.llm.Multimodal.MediaRow(9L, TiffCodec.encodeGray(45, 13,
          (x, y) => if ((x * 3 + y) % 7 < 3) 1 else 0, bits = 1, photo = 0,
          opts = Options(compression = 3, littleEndian = false)), "image"),
        graft.llm.Multimodal.MediaRow(10L, TiffCodec.encodeGray(30, 9, b1,
          bits = 1, photo = 0, opts = Options(compression = 2)), "image"))
        .toDS()
      graft.llm.Multimodal.extractFeatures(ds,
          graft.llm.Multimodal.BmpWavDecoder).toDF()
        .select(col("id").as("image_id"),
                posexplode(col("features")).as(Seq("pos", "v")))
        .select(col("image_id"), col("pos"),
                col("v").cast("double").as("value"))
    }),

    // ICO (favicon) decode through the full image dispatch: the
    // container at nearly every site root. The matrix covers 32-bpp
    // DIB with a real alpha byte, 24-bpp + AND-mask transparency,
    // 8-bpp BGRA palette, an embedded-PNG entry (riding the JDK-
    // cross-validated PNG path, alpha lifted to 255), and best-entry
    // selection over a multi-image directory (largest area, deepest
    // bit-count). Lossless throughout — the oracle replays every
    // RGBA sample from the generative formulas.
    "q263_ico_decode" -> ((s, d) => {
      import s.implicits._
      import graft.llm.IcoCodec
      import graft.llm.IcoCodec.{DibEntry, PngEntry}
      val rgb = (x: Int, y: Int) =>
        ((x * 7 + y * 13) % 256, (x * 3 + y * 5 + 17) % 256,
         (x + y * 2 + 101) % 256)
      val a32 = (x: Int, y: Int) => (x * 29 + y * 41) % 256
      val mask = (x: Int, y: Int) => if ((x + y) % 3 == 0) 0 else 255
      val pal = (0 until 16).map(i =>
        ((i * 37 + 11) % 256, (i * 73 + 5) % 256, (i * 151 + 97) % 256))
      val pidx = (x: Int, y: Int) => (x * 3 + y * 7) % 16
      val ds = Seq(
        graft.llm.Multimodal.MediaRow(1L, IcoCodec.encode(Seq(
          DibEntry(13, 9, 32, rgb = rgb, alpha = a32))), "image"),
        graft.llm.Multimodal.MediaRow(2L, IcoCodec.encode(Seq(
          DibEntry(13, 7, 24, rgb = rgb, alpha = mask))), "image"),
        graft.llm.Multimodal.MediaRow(3L, IcoCodec.encode(Seq(
          DibEntry(11, 6, 8, palette = pal, idx = pidx,
            alpha = mask))), "image"),
        graft.llm.Multimodal.MediaRow(4L, IcoCodec.encode(Seq(
          PngEntry(graft.llm.ImageFixtures.pngFull(10, 8, rgb), 10, 8))),
          "image"),
        graft.llm.Multimodal.MediaRow(5L, IcoCodec.encode(Seq(
          DibEntry(8, 8, 32, rgb = (_, _) => (1, 2, 3)),
          DibEntry(16, 16, 8, palette = Seq((5, 5, 5)), idx = (_, _) => 0),
          DibEntry(16, 16, 24, rgb = (_, _) => (9, 8, 7)))), "image"))
        .toDS()
      graft.llm.Multimodal.extractFeatures(ds,
          graft.llm.Multimodal.BmpWavDecoder).toDF()
        .select(col("id").as("image_id"),
                posexplode(col("features")).as(Seq("pos", "v")))
        .select(col("image_id"), col("pos"),
                col("v").cast("double").as("value"))
    }),

    // EXIF-orientation-normalized decode: eight lossless TIFFs, one
    // per orientation value, through the tag-aware pipeline (parse
    // tag 274, decode, remap stored→display pixels, dims swapping
    // for 5-8). The oracle replays the coordinate remap symbolically
    // — a transposed axis, missed flip or un-swapped dimension moves
    // every pixel and breaks the hash. ExifSpec additionally pins
    // all eight remaps against the JDK's AffineTransformOp and the
    // JPEG APP1 parse path in both byte orders.
    "q264_exif_orient" -> ((s, d) => {
      import s.implicits._
      import graft.llm.TiffCodec
      val rgb = (x: Int, y: Int) =>
        ((x * 7 + y * 13) % 256, (x * 3 + y * 5 + 17) % 256,
         (x + y * 2 + 101) % 256)
      val ds = (1 to 8).map { o =>
        graft.llm.Multimodal.MediaRow(o.toLong,
          TiffCodec.encodeRgb(9, 5, rgb,
            TiffCodec.Options(compression = 5, orientation = o)), "image")
      }.toDS()
      graft.llm.Multimodal.extractOriented(ds).toDF()
        .select(col("id").as("image_id"), col("orient"),
                posexplode(col("features")).as(Seq("pos", "v")))
        .select(col("image_id"), col("orient"), col("pos"),
                col("v").cast("double").as("value"))
    }),

    // Netpbm P1-P6 through the full image dispatch: ASCII and binary
    // variants, 8- and 16-bit maxvals, header comments, MSB-packed
    // bitmaps. Zero compression — the oracle replays every raw
    // sample from the generative formulas.
    "q266_pnm_decode" -> ((s, d) => {
      import s.implicits._
      import graft.llm.PnmCodec
      val rgb = (x: Int, y: Int) =>
        ((x * 7 + y * 13) % 256, (x * 3 + y * 5 + 17) % 256,
         (x + y * 2 + 101) % 256)
      val g8 = (x: Int, y: Int) => (x * 11 + y * 17 + 3) % 256
      val g16 = (x: Int, y: Int) => (x * 2021 + y * 977 + 11) % 65536
      val p16 = (x: Int, y: Int) =>
        (g16(x, y), (g16(x, y) + 7) % 65536, x * 999 + y)
      val bit = (x: Int, y: Int) => (x * x + y * 3) % 2
      val ds = Seq(
        graft.llm.Multimodal.MediaRow(1L,
          PnmCodec.encodeGray(17, 9, g8, comment = Some("gray8")), "image"),
        graft.llm.Multimodal.MediaRow(2L,
          PnmCodec.encodeGray(12, 7, g16, maxval = 65535, binary = false),
          "image"),
        graft.llm.Multimodal.MediaRow(3L,
          PnmCodec.encodeRgb(13, 8, rgb), "image"),
        graft.llm.Multimodal.MediaRow(4L,
          PnmCodec.encodeRgb(6, 5, p16, maxval = 65535, binary = false),
          "image"),
        graft.llm.Multimodal.MediaRow(5L,
          PnmCodec.encodeGray(19, 11, bit, maxval = 1), "image"),
        graft.llm.Multimodal.MediaRow(6L,
          PnmCodec.encodeGray(9, 4, bit, maxval = 1, binary = false),
          "image"))
        .toDS()
      graft.llm.Multimodal.extractFeatures(ds,
          graft.llm.Multimodal.BmpWavDecoder).toDF()
        .select(col("id").as("image_id"),
                posexplode(col("features")).as(Seq("pos", "v")))
        .select(col("image_id"), col("pos"),
                col("v").cast("double").as("value"))
    }),

    // TGA decode through the full image dispatch (the format has no
    // magic — the stb_image-style header-consistency sniff runs
    // after every real magic): truecolor 24/32-bit BGR[A], RLE runs
    // + literals, bottom-up AND top-down row order, 8-bit grayscale,
    // palette with an alpha-bearing 32-bit map widening to RGBA, an
    // ID field to skip. Lossless — the oracle replays every sample.
    "q269_tga_decode" -> ((s, d) => {
      import s.implicits._
      import graft.llm.TgaCodec
      import graft.llm.TgaCodec.Options
      val rgb = (x: Int, y: Int) =>
        ((x * 7 + y * 13) % 256, (x * 3 + y * 5 + 17) % 256,
         (x + y * 2 + 101) % 256)
      val runs = (x: Int, y: Int) =>
        ((x / 9) * 31 % 256, (y / 4) * 53 % 256, 77)
      val g8 = (x: Int, y: Int) => (x * 11 + y * 17 + 3) % 256
      val a8 = (x: Int, y: Int) => (x * 29 + y * 41) % 256
      val pal = (0 until 7).map(i => ((i * 37 + 11) % 256,
        (i * 73 + 5) % 256, (i * 151 + 97) % 256,
        ((i * 37 + 11) % 256 + (i * 73 + 5) % 256) % 256))
      val pidx = (x: Int, y: Int) => (x * 3 + y * 7) % 7
      val ds = Seq(
        graft.llm.Multimodal.MediaRow(1L,
          TgaCodec.encodeRgb(21, 13, rgb, opts = Options(idField = "graft")),
          "image"),
        graft.llm.Multimodal.MediaRow(2L,
          TgaCodec.encodeRgb(40, 24, runs, opts = Options(rle = true)),
          "image"),
        graft.llm.Multimodal.MediaRow(3L,
          TgaCodec.encodeRgb(21, 13, rgb, alpha = a8,
            opts = Options(rle = true, topDown = true)), "image"),
        graft.llm.Multimodal.MediaRow(4L,
          TgaCodec.encodeGray(17, 9, g8, Options(rle = true)), "image"),
        graft.llm.Multimodal.MediaRow(5L,
          TgaCodec.encodePalette(14, 8, pal, pidx, mapBits = 32,
            Options(rle = true)), "image"))
        .toDS()
      graft.llm.Multimodal.extractFeatures(ds,
          graft.llm.Multimodal.BmpWavDecoder).toDF()
        .select(col("id").as("image_id"),
                posexplode(col("features")).as(Seq("pos", "v")))
        .select(col("image_id"), col("pos"),
                col("v").cast("double").as("value"))
    }),

    // APNG frame decode + compositing: acTL/fcTL/fdAT walk, the
    // default image as frame 0, SOURCE blends across all three
    // dispose ops (none / background-clear / restore-previous) on an
    // RGBA canvas. SOURCE compositing is exact integer state, so the
    // oracle replays the per-frame canvas symbolically — a rect
    // offset, dispose order or fdAT sequence bug moves pixels and
    // breaks the hash. ApngCodecSpec covers OVER blending (double
    // arithmetic) and container validity via the JDK's PNG reader.
    "q270_apng_frames" -> ((s, d) => {
      import s.implicits._
      import graft.llm.ApngCodec
      import graft.llm.ApngCodec.FrameSpec
      val base = (x: Int, y: Int) =>
        ((x * 7 + y * 13) % 256, (x * 3 + y * 5 + 17) % 256,
         (x + y * 2 + 101) % 256)
      val apng = ApngCodec.encode(Seq(
        FrameSpec(16, 10, 0, 0, base),
        FrameSpec(4, 3, 2, 1, (_, _) => (200, 10, 20), dispose = 1),
        FrameSpec(5, 4, 8, 5, (_, _) => (5, 15, 220), dispose = 2),
        FrameSpec(2, 2, 0, 0, (_, _) => (200, 10, 20))))
      val ds = Seq(graft.llm.Multimodal.MediaRow(1L, apng, "image")).toDS()
      graft.llm.Multimodal.extractApngFrames(ds).toDF()
        .select(col("frame"),
                posexplode(col("features")).as(Seq("pos", "v")))
        .select(col("frame"), col("pos"),
                col("v").cast("double").as("value"))
    }),

    // QOI decode through the full image dispatch: the one-page
    // lossless format's full op set — DIFF/LUMA deltas on a smooth
    // gradient, literals on a noise field, RUN packing, INDEX hits
    // on a repeating palette, RGBA with alpha switches, wraparound
    // deltas at the 255->0 crossing. Lossless — every sample replays
    // from the generative formulas.
    "q271_qoi_decode" -> ((s, d) => {
      import s.implicits._
      import graft.llm.QoiCodec
      val ds = Seq(
        graft.llm.Multimodal.MediaRow(1L,
          QoiCodec.encode(23, 17, (x, y) => (x + y, x + y + 1, x + y)),
          "image"),
        graft.llm.Multimodal.MediaRow(2L,
          QoiCodec.encode(21, 13, (x, y) => ((x * 149 + y * 211) % 256,
            (x * 83 + y * 59) % 256, (x * 7 + y * 131) % 256)), "image"),
        graft.llm.Multimodal.MediaRow(3L,
          QoiCodec.encode(40, 24, (x, y) => ((x / 9) * 31 % 256,
            (y / 4) * 53 % 256, 77)), "image"),
        graft.llm.Multimodal.MediaRow(4L,
          QoiCodec.encode(31, 9, (x, y) => { val i = (x + y * 3) % 4
            (i * 61 % 256, i * 97 % 256, i * 193 % 256) }), "image"),
        graft.llm.Multimodal.MediaRow(5L,
          QoiCodec.encode(19, 11, (x, y) => ((x * 7 + y * 13) % 256,
            (x * 3 + y * 5 + 17) % 256, (x + y * 2 + 101) % 256),
            (x, y) => if ((x + y) % 5 == 0) 128 else 255), "image"))
        .toDS()
      graft.llm.Multimodal.extractFeatures(ds,
          graft.llm.Multimodal.BmpWavDecoder).toDF()
        .select(col("id").as("image_id"),
                posexplode(col("features")).as(Seq("pos", "v")))
        .select(col("image_id"), col("pos"),
                col("v").cast("double").as("value"))
    }),

    // MP4 sample-table indexing: per-sample (dts, duration, size,
    // absolute offset, keyframe) straight from moov/stbl metadata —
    // the random-access frame index a video pipeline computes
    // WITHOUT a codec. Video 1 exercises multi-run stts, per-sample
    // stsz, a two-run stsc chunk map and an stss sync set; video 2
    // exercises uniform stsz, co64 (64-bit offsets past 2^32) and
    // the all-sync default. The oracle replays dts as closed-form
    // run arithmetic and offsets as within-chunk window cumsums.
    "q274_mp4_index" -> ((s, d) => {
      import s.implicits._
      import graft.llm.VideoFixtures
      val v1 = VideoFixtures.mp4Stbl("isom", 600, "avc1", 320, 180,
        sttsRuns = Seq((10, 100L), (20, 150L), (10, 120L)),
        sizes = (0 until 40).map(i => 100L + (i % 7) * 3),
        stscRuns = Seq((1, 4), (6, 5)),
        chunkOffsets = (0 until 9).map(c => 10000L + c * 1000),
        sync = Some(Seq(1, 9, 17, 25, 33)))
      val v2 = VideoFixtures.mp4Stbl("isom", 90000, "hvc1", 64, 64,
        sttsRuns = Seq((6, 3000L)), sizes = Seq.fill(6)(500L),
        stscRuns = Seq((1, 6)), chunkOffsets = Seq(5000000000L),
        forceUniform = true, useCo64 = true)
      graft.sources.Mp4Index.index(
        Seq((1L, v1), (2L, v2)).toDF("video_id", "bytes"),
        "video_id", "bytes")
        .select(col("id").as("video_id"), col("track"), col("codec"),
          col("width"), col("height"), col("timescale"), col("sample"),
          col("dts"), col("duration"), col("size"), col("offset"),
          col("keyframe"))
    }),

    // IMA/DVI ADPCM WAV decode through the audio dispatch: the lossy-
    // compressed-but-exactly-specified block format (4-byte headers
    // carrying the initial predictor + step index, low-nibble-first
    // shift-add state machine, stereo 8-sample group interleave).
    // Unlike the lossless codecs the oracle cannot replay a pixel
    // formula — it replays the STATE MACHINE itself as a recursive
    // CTE over the nibble stream (the q240 DP-oracle pattern), with
    // the 89-entry step table embedded as a list literal: a clamp,
    // sign, table or interleave bug breaks the hash.
    "q259_adpcm_decode" -> ((s, d) => {
      import s.implicits._
      import graft.llm.AudioFixtures.wavRaw
      def le16(v: Int) = Seq((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
      // clip 1: mono, one 40-byte block (4 header + 36 data = 73 samples)
      val mono = wavRaw(8000, 1, 0x11, 4,
        (le16(123) ++ Seq(17.toByte, 0.toByte) ++
          (0 until 36).map(k => ((k * 37 + 11) % 256).toByte)).toArray,
        alignOverride = 40)
      // clip 2: stereo, one 24-byte block (two 4-byte headers + two
      // 8-byte channel streams in 4-byte groups = 17 frames)
      val stereo = wavRaw(8000, 2, 0x11, 4,
        (le16(1000) ++ Seq(30.toByte, 0.toByte) ++
          le16(-800) ++ Seq(44.toByte, 0.toByte) ++
          (0 until 16).map(k => ((k * 53 + 7) % 256).toByte)).toArray,
        alignOverride = 24)
      val ds = Seq(
        graft.llm.Multimodal.MediaRow(1L, mono, "audio"),
        graft.llm.Multimodal.MediaRow(2L, stereo, "audio")).toDS()
      graft.llm.Multimodal.extractFeatures(ds,
          graft.llm.Multimodal.BmpWavDecoder).toDF()
        .select(col("id").as("clip_id"),
                posexplode(col("features")).as(Seq("t", "v")))
        .select(col("clip_id"), col("t"),
                col("v").cast("double").as("value"))
    }),

    // AIFF/AIFF-C and Sun AU decode through the audio dispatch — the
    // big-endian container family (cross-validated BOTH directions
    // against the JDK sound stack in MultimodalDecodeSpec): BE PCM
    // (AIFF 8-bit is SIGNED, unlike WAV), the sowt little-endian
    // AIFC byte swap, BE float32, the 80-bit extended-float sample
    // rate, and AU's offset-skipping header. Lossless sample layout,
    // so the oracle replays every sample from the integer formulas.
    "q261_be_audio_decode" -> ((s, d) => {
      import s.implicits._
      import graft.llm.AudioFixtures.{aiff, au}
      def be16(v: Int) = Seq(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
      def le16(v: Int) = Seq((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
      def be24(v: Int) = Seq(((v >> 16) & 0xFF).toByte,
        ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
      def be32f(f: Float) = {
        val i = java.lang.Float.floatToIntBits(f)
        Seq(((i >> 24) & 0xFF).toByte, ((i >> 16) & 0xFF).toByte,
          ((i >> 8) & 0xFF).toByte, (i & 0xFF).toByte)
      }
      val s16 = Array.tabulate(40)(t => (t * 29 + 3) % 3001 - 1500)
      val s8 = Array.tabulate(16)(t => t * 15 - 120)
      val sw = Array.tabulate(12)(t => t * 531 - 3000)
      val fl = Array.tabulate(9)(t => t * 0.25f - 1f)
      val a16 = Array.tabulate(20)(t => (t * 53 + 7) % 2001 - 1000)
      val a24 = Array.tabulate(10)(t => t * 400003 - 1500000)
      val ds = Seq(
        graft.llm.Multimodal.MediaRow(1L,
          aiff(8000, 1, 16, s16.flatMap(be16).toArray), "audio"),
        graft.llm.Multimodal.MediaRow(2L,
          aiff(8000, 1, 8, s8.map(_.toByte)), "audio"),
        graft.llm.Multimodal.MediaRow(3L,
          aiff(44100, 1, 16, sw.flatMap(le16).toArray,
            comp = "sowt"), "audio"),
        graft.llm.Multimodal.MediaRow(4L,
          aiff(48000, 1, 32, fl.flatMap(be32f).toArray,
            comp = "fl32"), "audio"),
        graft.llm.Multimodal.MediaRow(5L,
          au(8000, 1, 3, a16.flatMap(be16).toArray), "audio"),
        graft.llm.Multimodal.MediaRow(6L,
          au(16000, 1, 4, a24.flatMap(be24).toArray), "audio")).toDS()
      graft.llm.Multimodal.extractFeatures(ds,
          graft.llm.Multimodal.BmpWavDecoder).toDF()
        .select(col("id").as("clip_id"),
                posexplode(col("features")).as(Seq("t", "v")))
        .select(col("clip_id"), col("t"),
                col("v").cast("double").as("value"))
    }),

    // MS ADPCM WAV decode through the audio dispatch: the OTHER
    // ubiquitous ADPCM — coefficient-pair prediction with C-TRUNCATING
    // /256 (not a floor shift; they differ on negative sums, and the
    // oracle encodes the truncation explicitly), signed 4-bit error
    // scaled by a table-adapted delta floored at 16, header samples
    // playing oldest-first, high-nibble-first frames (opposite of
    // IMA), stereo one-frame-per-byte. The oracle replays the state
    // machine as a recursive CTE, channel-seeded for stereo.
    "q260_ms_adpcm_decode" -> ((s, d) => {
      import s.implicits._
      import graft.llm.AudioFixtures.wavRaw
      def le16(v: Int) = Seq((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
      // clip 1: mono, coef pair 1 (512,-256), one 20-byte block
      val mono = wavRaw(8000, 1, 2, 4,
        (Seq(1.toByte) ++ le16(32) ++ le16(500) ++ le16(-300) ++
          (0 until 13).map(k => ((k * 37 + 11) % 256).toByte)).toArray,
        alignOverride = 20)
      // clip 2: stereo, coef pairs 0 and 4, one 22-byte block
      val stereo = wavRaw(8000, 2, 2, 4,
        (Seq(0.toByte, 4.toByte) ++ le16(40) ++ le16(25) ++
          le16(800) ++ le16(-650) ++ le16(-120) ++ le16(90) ++
          (0 until 8).map(k => ((k * 91 + 5) % 256).toByte)).toArray,
        alignOverride = 22)
      val ds = Seq(
        graft.llm.Multimodal.MediaRow(1L, mono, "audio"),
        graft.llm.Multimodal.MediaRow(2L, stereo, "audio")).toDS()
      graft.llm.Multimodal.extractFeatures(ds,
          graft.llm.Multimodal.BmpWavDecoder).toDF()
        .select(col("id").as("clip_id"),
                posexplode(col("features")).as(Seq("t", "v")))
        .select(col("clip_id"), col("t"),
                col("v").cast("double").as("value"))
    }),

    // FLAC sample decode through the audio dispatch (container
    // sniffed off the fLaC magic): constant/fixed/LPC/escape
    // subframes, wasted bits, multi-frame streams, mid/side and
    // left/side stereo — all generatively encoded by the fixture
    // encoder, STREAMINFO-MD5-verified on decode, and because FLAC is
    // LOSSLESS the oracle replays every sample from the integer
    // formulas without knowing FLAC exists: any Rice, predictor,
    // decorrelation, CRC or framing bug breaks the hash.
    "q256_flac_decode" -> ((s, d) => {
      import s.implicits._
      import graft.llm.FlacCodec
      def ramp(n: Int, a: Long, b: Long, m: Long): Array[Int] =
        Array.tabulate(n)(t => ((t * a + b) % m - m / 2).toInt)
      // 1: mono 16-bit, three frames (48+48+34), auto fixed predictors
      val c1 = FlacCodec.encode(8000, 1, 16,
        Array.tabulate(130)(t => (t * 37 + 11) % 4001 - 2000), blockSize = 48)
      // 2: wasted bits — every sample shares 3 trailing zero bits
      val c2 = FlacCodec.encode(8000, 1, 16,
        Array.tabulate(64)(t => ((t * 13 + 7) % 257 - 128) * 8))
      // 3: stereo mid/side (side one bit deeper)
      val c3 = FlacCodec.encode(48000, 2, 16,
        Array.tabulate(160)(i =>
          if (i % 2 == 0) (i / 2 * 29 + 3) % 3001 - 1500
          else (i / 2 * 17 + 19) % 2501 - 1250), stereo = "mid_side")
      // 4: 24-bit forced-LPC (arbitrary quantized coefficients)
      val c4 = FlacCodec.encode(16000, 1, 24,
        ramp(200, 400003L, 7L, 8388607L),
        mode = FlacCodec.ForceLpc(Array(120, -60, 31, -5, 1),
          shift = 6, precision = 9))
      // 5: 8-bit, raw-binary ESCAPE partitions at order 2
      val c5 = FlacCodec.encode(8000, 1, 8,
        Array.tabulate(64)(t => (t * 77 + 13) % 251 - 125),
        partitionOrder = 2, forceEscape = true)
      // 6: stereo left/side across two frames
      val c6 = FlacCodec.encode(44100, 2, 16,
        Array.tabulate(120)(i =>
          if (i % 2 == 0) (i / 2 * 53 + 5) % 2001 - 1000
          else (i / 2 * 31 + 29) % 1801 - 900),
        blockSize = 40, stereo = "left_side")
      val ds = Seq(c1, c2, c3, c4, c5, c6).zipWithIndex.map {
        case (bytes, i) =>
          graft.llm.Multimodal.MediaRow(i + 1L, bytes, "audio") }.toDS()
      graft.llm.Multimodal.extractFeatures(ds,
          graft.llm.Multimodal.BmpWavDecoder).toDF()
        .select(col("id").as("clip_id"),
                posexplode(col("features")).as(Seq("t", "v")))
        .select(col("clip_id"), col("t"),
                col("v").cast("double").as("value"))
    }),

    // WAV encoding matrix through the audio dispatch: 8-bit
    // offset-binary, 24-bit signed, IEEE float32 (plain and inside a
    // WAVE_FORMAT_EXTENSIBLE wrapper), and G.711 mu-law/A-law — every
    // byte formula-generated, every decoded sample replayed by the
    // oracle (the G.711 expansions re-derived in SQL bit arithmetic,
    // cross-checked against the JDK codec in MultimodalDecodeSpec).
    "q250_wav_formats" -> ((s, d) => {
      import s.implicits._
      import graft.llm.AudioFixtures.wavRaw
      def le24(v: Int) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
        ((v >> 16) & 0xFF).toByte)
      def f32(f: Float) = {
        val i = java.lang.Float.floatToIntBits(f)
        Array((i & 0xFF).toByte, ((i >> 8) & 0xFF).toByte,
          ((i >> 16) & 0xFF).toByte, ((i >> 24) & 0xFF).toByte)
      }
      val d8 = Array.tabulate(16)(t => ((t * 37 + 5) % 256).toByte)
      val d24 = (0 until 20).toArray.flatMap(t => le24(t * 400003 - 4000000))
      val df = (0 until 12).toArray.flatMap(t => f32(t * 0.25f - 100f))
      val dmu = Array.tabulate(24)(t => ((t * 7 + 13) % 256).toByte)
      val dal = Array.tabulate(24)(t => ((t * 11 + 5) % 256).toByte)
      val ds = Seq(
        graft.llm.Multimodal.MediaRow(1L, wavRaw(8000, 1, 1, 8, d8), "audio"),
        graft.llm.Multimodal.MediaRow(2L, wavRaw(16000, 1, 1, 24, d24), "audio"),
        graft.llm.Multimodal.MediaRow(3L, wavRaw(44100, 1, 3, 32, df), "audio"),
        graft.llm.Multimodal.MediaRow(4L, wavRaw(8000, 1, 7, 8, dmu), "audio"),
        graft.llm.Multimodal.MediaRow(5L, wavRaw(8000, 1, 6, 8, dal), "audio"),
        graft.llm.Multimodal.MediaRow(6L,
          wavRaw(48000, 2, 3, 32, df, extensible = true), "audio")).toDS()
      graft.llm.Multimodal.extractFeatures(ds,
          graft.llm.Multimodal.BmpWavDecoder).toDF()
        .select(col("id").as("clip_id"),
                posexplode(col("features")).as(Seq("t", "v")))
        .select(col("clip_id"), col("t"),
                col("v").cast("double").as("value"))
    }),

    // GIF decode through the frame pipeline: a static palette GIF, an
    // INTERLACED one (decode must be interlace-invariant), and a
    // 2-frame ANIMATION whose second frame is a partial rect with a
    // transparent hole — compositing must show frame 1 through it.
    // GIF is lossless, so the oracle replays every channel value from
    // the palette formula, compositing included: an LZW, interlace,
    // rect-offset or transparency bug breaks the hash.
    "q249_gif_decode" -> ((s, d) => {
      import s.implicits._
      val pal = (0 until 16).map(i =>
        ((i * 11) % 256, (i * 29 + 3) % 256, (i * 53 + 7) % 256))
      val stat = (x: Int, y: Int) => (x * 3 + y * 7) % 16
      val base = (x: Int, y: Int) => (x + y) % 16
      val overlay = (xr: Int, yr: Int) => (xr * 5 + yr) % 16
      val ds = Seq(
        graft.llm.Multimodal.MediaRow(1L, graft.llm.GifCodec.encode(
          13, 9, pal, Seq(graft.llm.GifCodec.FrameSpec(0, 0, 13, 9, stat))),
          "image"),
        graft.llm.Multimodal.MediaRow(2L, graft.llm.GifCodec.encode(
          16, 11, pal, Seq(graft.llm.GifCodec.FrameSpec(0, 0, 16, 11, stat)),
          interlace = true), "image"),
        graft.llm.Multimodal.MediaRow(3L, graft.llm.GifCodec.encode(
          8, 6, pal, Seq(
            graft.llm.GifCodec.FrameSpec(0, 0, 8, 6, base),
            graft.llm.GifCodec.FrameSpec(2, 1, 4, 3, overlay,
              transparentIndex = 7))), "image"),
        // disposal-3 (restore previous): frame 1's overlay must VANISH
        // under frame 2 — the canvas reverts to the pre-draw snapshot,
        // not to background (a disposal-2 confusion breaks the hash)
        graft.llm.Multimodal.MediaRow(4L, graft.llm.GifCodec.encode(
          8, 6, pal, Seq(
            graft.llm.GifCodec.FrameSpec(0, 0, 8, 6, base),
            graft.llm.GifCodec.FrameSpec(2, 1, 4, 3, overlay,
              disposal = 3),
            graft.llm.GifCodec.FrameSpec(1, 2, 3, 2,
              (xr, yr) => (xr * 7 + yr * 3 + 2) % 16))), "image")).toDS()
      graft.llm.Multimodal.extractGifFrames(ds).toDF()
        .select(col("id").as("image_id"), col("frame").as("frame_idx"),
                posexplode(col("features")).as(Seq("pos", "v")))
        .select(col("image_id"), col("frame_idx"), col("pos"),
                col("v").cast("double").as("value"))
    }),

    // VP8L (lossless WebP) decode through the full dispatch: plain
    // literals, LZ77 backrefs + color cache, the stacked
    // subtract-green/predictor/color transforms, 2-bit-bundled color
    // indexing, and two meta prefix-code groups — all generatively
    // encoded by the fixture encoder, and because VP8L is LOSSLESS
    // the oracle replays every channel value from the pixel formulas
    // without knowing WebP exists: a prefix-code, LZ77-distance,
    // cache-hash, transform or bundling bug breaks the hash.
    "q258_vp8l_decode" -> ((s, d) => {
      import s.implicits._
      import graft.llm.Vp8lCodec
      val pix = (x: Int, y: Int) =>
        ((x * 7 + y * 13) % 256, (x * 3 + y * 5 + 17) % 256,
         (x + y * 2 + 101) % 256)
      val runs = (x: Int, y: Int) =>
        ((x / 7) * 31 % 256, (y / 3) * 53 % 256, 77)
      val pal = (0 until 4).map(i =>
        ((i * 37 + 11) % 256, (i * 73 + 5) % 256, (i * 151 + 97) % 256))
      val palPx = (x: Int, y: Int) =>
        if (y == 0 && x < 4) pal(x) else pal((x * 3 + y * 7) % 4)
      val split = (x: Int, y: Int) =>
        if (x < 16) ((x + y) % 4, (x * y) % 4, 3)
        else ((x * 31 + y * 7) % 256, (x * 13 + y * 3) % 256, (x + y) % 256)
      val ds = Seq(
        graft.llm.Multimodal.MediaRow(1L,
          Vp8lCodec.encode(13, 9, pix,
            Vp8lCodec.Options(useLz77 = false)), "image"),
        graft.llm.Multimodal.MediaRow(2L,
          Vp8lCodec.encode(24, 18, runs,
            Vp8lCodec.Options(cacheBits = 4)), "image"),
        graft.llm.Multimodal.MediaRow(3L,
          Vp8lCodec.encode(19, 12, pix,
            Vp8lCodec.Options(subtractGreen = true, predictorMode = 5,
              colorMults = Some((0x30, 0x15, 0x08)))), "image"),
        graft.llm.Multimodal.MediaRow(4L,
          Vp8lCodec.encode(15, 8, palPx,
            Vp8lCodec.Options(paletteSize = 4)), "image"),
        graft.llm.Multimodal.MediaRow(5L,
          Vp8lCodec.encode(32, 12, split,
            Vp8lCodec.Options(metaGroups = 2, cacheBits = 5)), "image"))
        .toDS()
      graft.llm.Multimodal.extractFeatures(ds,
          graft.llm.Multimodal.BmpWavDecoder).toDF()
        .select(col("id").as("image_id"),
                posexplode(col("features")).as(Seq("pos", "v")))
        .select(col("image_id"), col("pos"),
                col("v").cast("double").as("value"))
    }),

    // PNG bit-depth matrix through the full dispatch: grayscale at
    // 1/2/4/16 bits (sub-byte samples MSB-packed, 16-bit big-endian
    // pairs), 16-bit truecolor, and 2-bit palette indices — sample
    // values stay RAW (the JDK raster convention,
    // MultimodalDecodeSpec cross-checks every depth), and PNG is
    // lossless, so the oracle replays each value from the generative
    // formula: a packing-order, endianness, filter-step or scatter
    // bug at any depth breaks the hash. Images 2 and 6 are Adam7.
    "q257_png_depths" -> ((s, d) => {
      import s.implicits._
      val g = (x: Int, y: Int) => x * 7 + y * 3 + 1 // masked per depth
      val pix16 = (x: Int, y: Int) =>
        (x * 2021 + y * 977, x * 313 + y * 57 + 40000, x + y * 4099 + 7)
      val pal = (0 until 4).map(i =>
        ((i * 11) % 256, (i * 29 + 3) % 256, (i * 53 + 7) % 256))
      val ds = Seq(
        graft.llm.Multimodal.MediaRow(1L,
          graft.llm.ImageFixtures.pngGray(13, 9, g, depth = 1), "image"),
        graft.llm.Multimodal.MediaRow(2L,
          graft.llm.ImageFixtures.pngGray(11, 7, g, interlace = true,
            depth = 2), "image"),
        graft.llm.Multimodal.MediaRow(3L,
          graft.llm.ImageFixtures.pngGray(10, 8, g, depth = 4), "image"),
        graft.llm.Multimodal.MediaRow(4L,
          graft.llm.ImageFixtures.pngGray(9, 6, g, depth = 16), "image"),
        graft.llm.Multimodal.MediaRow(5L,
          graft.llm.ImageFixtures.pngFull(11, 6, pix16, depth = 16), "image"),
        graft.llm.Multimodal.MediaRow(6L,
          graft.llm.ImageFixtures.pngPalette(10, 7, pal,
            (x, y) => (x * 3 + y * 5) % 4, interlace = true, depth = 2),
          "image")).toDS()
      graft.llm.Multimodal.extractFeatures(ds,
          graft.llm.Multimodal.BmpWavDecoder).toDF()
        .select(col("id").as("image_id"),
                posexplode(col("features")).as(Seq("pos", "v")))
        .select(col("image_id"), col("pos"),
                col("v").cast("double").as("value"))
    }),

    // Adam7-INTERLACED PNG decode through the full dispatch: seven
    // independently filtered reduced sub-images scattered back to the
    // full plane. PNG is lossless, so the oracle regenerates every
    // channel value from the generative formula (the q215 pattern) —
    // a pass-geometry, scatter, or per-pass filter-undo bug breaks
    // the hash. Dims at 7x5 leave some passes EMPTY ( zero bytes),
    // 16x11 exercises the ceil geometry, and image 3 is RGBA with the
    // alpha channel dropped by the plane contract.
    "q247_png_adam7" -> ((s, d) => {
      import s.implicits._
      val pix = (x: Int, y: Int) =>
        ((x * 7 + y * 13) % 256, (x * 3 + y * 5 + 17) % 256,
         (x + y * 2 + 101) % 256)
      val gray = (x: Int, y: Int) => (x * 9 + y * 5 + 31) % 256
      val ds = (Seq((1L, 16, 11, false), (2L, 7, 5, false), (3L, 9, 12, true))
        .map { case (id, w, h, rgba) => graft.llm.Multimodal.MediaRow(
          id, graft.llm.ImageFixtures.pngFull(w, h, pix, rgba,
            interlace = true), "image") } ++ Seq(
        // grayscale color types through the SAME pass scatter: type 0
        // interlaced, type 4 (gray+alpha) plain — gray replicates to RGB
        graft.llm.Multimodal.MediaRow(4L,
          graft.llm.ImageFixtures.pngGray(11, 7, gray, interlace = true),
          "image"),
        graft.llm.Multimodal.MediaRow(5L,
          graft.llm.ImageFixtures.pngGray(6, 8, gray, withAlpha = true),
          "image")))
        .toDS()
      graft.llm.Multimodal.extractFeatures(ds,
          graft.llm.Multimodal.BmpWavDecoder).toDF()
        .select(col("id").as("image_id"),
                posexplode(col("features")).as(Seq("pos", "v")))
        .select(col("image_id"), col("pos"),
                col("v").cast("double").as("value"))
    }),

    // JPEG mode matrix through the full dispatch: the SAME generative
    // plane staged at all three subsampled layouts (4:2:2, 4:4:0,
    // 4:2:0) and, per layout, as BOTH a sequential (SOF0) and a
    // progressive (SOF2 spectral-selection) stream. Decode error vs
    // the formula is bounded (chroma subsampling loses a little more
    // than 4:4:4; structural Huffman/upsample bugs measure 100+), and
    // the progressive decode must equal the sequential decode EXACTLY
    // — spectral selection re-orders the same quantized coefficients,
    // so the multi-scan accumulator has one right answer.
    "q245_jpeg_modes" -> ((s, d) => {
      import s.implicits._
      val smooth = (x: Int, y: Int) =>
        (96 + x * 2 + y, 80 + x + y * 2, 120 + x - y / 2)
      val imgs = Seq((1L, 20, 14, 2, 1), (2L, 15, 18, 1, 2),
                     (3L, 22, 17, 2, 2))
      val ds = imgs.flatMap { case (id, w, h, sh, sv) => Seq(
        graft.llm.Multimodal.MediaRow(id,
          graft.llm.JpegCodec.encode(w, h, smooth, quality = 95,
            sampH = sh, sampV = sv), "image"),
        graft.llm.Multimodal.MediaRow(id + 100L,
          graft.llm.JpegCodec.encode(w, h, smooth, quality = 95,
            sampH = sh, sampV = sv, progressive = true), "image"))
      }.toDS()
      val dec = graft.llm.Multimodal
        .extractFeatures(ds, graft.llm.Multimodal.BmpWavDecoder).toDF()
        .select(col("id"), posexplode(col("features")).as(Seq("pos", "v")))
      val seqDec = dec.filter(col("id") < 100)
        .select(col("id").as("image_id"), col("pos"),
                col("v").cast("double").as("v"))
      val progDec = dec.filter(col("id") >= 100)
        .select((col("id") - 100).as("image_id"), col("pos"),
                col("v").cast("double").as("pv"))
      val exp = imgs.map { case (id, w, h, _, _) => (id, w, h) }
        .toDF("image_id", "w", "h")
        .withColumn("y", explode(sequence(lit(0), col("h") - 1)))
        .withColumn("x", explode(sequence(lit(0), col("w") - 1)))
        .withColumn("c", explode(sequence(lit(0), lit(2))))
        .select(col("image_id"),
          ((col("y") * col("w") + col("x")) * 3 + col("c")).as("pos"),
          when(col("c") === 0, lit(96) + col("x") * 2 + col("y"))
            .when(col("c") === 1, lit(80) + col("x") + col("y") * 2)
            .otherwise(lit(120) + col("x") - expr("y div 2"))
            .cast("double").as("expected"))
      seqDec.join(progDec, Seq("image_id", "pos"))
        .join(exp, Seq("image_id", "pos"))
        .groupBy(col("image_id"))
        .agg(count(lit(1)).as("n_values"),
             max(abs(col("v") - col("expected"))).as("__maxe"),
             max(abs(col("v") - col("pv"))).as("__pd"))
        .select(col("image_id"), col("n_values"),
                (col("__maxe") <= 10.0).as("max_err_le_10"),
                (col("__pd") === 0.0).as("prog_equals_seq"))
    }),

    // Market-basket association: part-class pairs co-bought within an
    // order - support/confidence/lift off one basket-keyed pair join
    // (Sigma|basket|^2 bounded) + broadcast marginals.
    "q207_assoc_rules" -> ((s, d) => {
      graft.operators.Association.pairRules(
        lineitem(s, d).select(col("l_orderkey").as("basket"),
          (col("l_partkey") % 50).as("item")),
        "basket", "item", minPairs = 20)
    }),

    // Partial correlation of quantity and price holding discount
    // fixed - the confounder check, all three Pearson terms from one
    // micro-unit moment pass.
    "q208_partial_corr" -> ((s, d) => {
      graft.operators.Profiler.partialCorr(lineitem(s, d),
        "l_quantity", "l_extendedprice", "l_discount")
    }),

    // Levene's (mean-centered) variance-homogeneity W across return
    // flags: two passes - exact group means, then 9-dp-quantized
    // |deviation| sums; the within term folds algebraically.
    "q209_levene" -> ((s, d) => {
      graft.operators.AbTest.leveneMeanCentered(lineitem(s, d),
        "l_extendedprice", "l_returnflag")
    }),

    // OLS influence: the 20 most fit-moving lineitems by Cook's
    // distance — leverage from the broadcast 3x3 inverse quadratic
    // form, residuals vs the q191 fit, TakeOrdered only.
    "q206_influence" -> ((s, d) => {
      Regression.olsInfluence(
        lineitem(s, d).withColumn("rid",
          col("l_orderkey") * 10 + col("l_linenumber")),
        "rid", "l_extendedprice", "l_quantity", "l_discount", topK = 20)
    }),

    // EXACT corpus-scale quantiles by rank-select over the bucketed
    // cumsum (percentile() is exact but buffers whole groups; this
    // never holds more than the distinct-value frame) — the ordered
    // pass is the same two-phase shape PlanShapeSpec sweeps for.
    "q205_exact_quantiles" -> ((s, d) => {
      graft.operators.OrderedStats.exactQuantiles(orders(s, d),
        "o_totalprice", Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99))
    }),

    // HITS hubs/authorities on the directed customer -> order-bucket
    // graph: 2 rounds of quantized-sum half-steps, max-normalized;
    // the oracle unrolls both rounds CTE-for-CTE.
    "q204_hits" -> ((s, d) => {
      val e = orders(s, d)
        .select((col("o_custkey") % 500).as("src"),
                (lit(1000000) + col("o_orderkey") % 300).as("dst"))
        .distinct()
      graft.operators.Graph.hits(e, "src", "dst", iterations = 2)
    }),

    // Chi-square independence + Cramér's V on the SAME contingency
    // pair as q198's mutual information - the significance statistic
    // next to the information one; per-cell terms 9-dp quantized,
    // marginals broadcast off the cell frame (never a second corpus
    // pass).
    "q218_chi_square" -> ((s, d) => {
      graft.operators.AbTest.chiSquareIndependence(customer(s, d),
        "c_mktsegment", "c_nationkey")
    }),

    // One-way ANOVA F for extended price across return flags - the
    // mean-shift companion to q209's variance-homogeneity W; one
    // corpus pass to per-group exact moments.
    "q219_anova" -> ((s, d) => {
      graft.operators.AbTest.anovaOneWay(lineitem(s, d),
        "l_extendedprice", "l_returnflag")
    }),

    // Welch's unequal-variance t on the q203 grouping - the
    // parametric p-value next to the randomization one, with the
    // Welch-Satterthwaite df; one pass to two moment rows.
    "q220_welch_t" -> ((s, d) => {
      graft.operators.AbTest.welchTTest(orders(s, d), "o_totalprice",
        col("o_orderstatus") === "F")
    }),

    // DeLong variance + 95% CI around the exact q137 AUC: placement
    // values collapse per distinct score, both cumsums ride the
    // two-phase bucketed form - the error bar without an all-pairs
    // or single-partition pass.
    "q221_delong_auc" -> ((s, d) => {
      graft.operators.Eval.aucDeLong(orders(s, d), "o_totalprice",
        col("o_orderstatus") === "F")
    }),

    // Classical additive decomposition of the daily order count:
    // centered 7-day MA trend via a delta-explode equi-join on the
    // calendar-bounded day frame (q195's shape - no time-ordered
    // window), weekly seasonal index per anchored weekday, residual.
    "q227_seasonal" -> ((s, d) => {
      graft.operators.Forecast.seasonalDecompose(orders(s, d),
        "o_orderdate")
    })
  )

  // The shared q251/q252 mel-ladder CTE prefix: DFT terms -> bin
  // powers -> in-plan HTK mel points/triangles -> per-filter energies.
  private val melLadderSql: String =
    """WITH clips AS (SELECT * FROM (VALUES (1, 200, 37, 0),
        |    (2, 200, 53, 11), (3, 160, 91, 7)) t(clip_id, n, a, b)),
        |s0 AS (SELECT clip_id, n, a, b, unnest(range(n)) AS t FROM clips),
        |sv AS (SELECT clip_id, n, t,
        |    ((t*a + b) % 2001) - 1000 AS s FROM s0),
        |ks AS (SELECT unnest(range(81)) AS k),
        |term AS (SELECT clip_id, n, k, t, s,
        |    2 * pi() * k * t / n AS arg FROM sv, ks),
        |ag AS (SELECT clip_id, n, k,
        |    CAST(SUM(CAST(round(CAST(s AS DOUBLE) * round(cos(arg), 9), 9)
        |      AS DECIMAL(38,9))) AS DOUBLE) AS re,
        |    CAST(SUM(CAST(round(CAST(s AS DOUBLE) * (-round(sin(arg), 9)), 9)
        |      AS DECIMAL(38,9))) AS DOUBLE) AS im
        |  FROM term GROUP BY 1, 2, 3),
        |pw AS (SELECT clip_id, n, k,
        |    round(round(re, 4)*round(re, 4) + round(im, 4)*round(im, 4), 3)
        |      AS power FROM ag),
        |pts AS (SELECT i, round(700.0 * (pow(10.0,
        |      i * (2595.0 * log10(1.0 + 4000.0/700.0)) / 9.0 / 2595.0)
        |      - 1.0), 9) AS hz
        |  FROM (SELECT unnest(range(10)) AS i)),
        |tri AS (SELECT c.i AS m, l.hz AS l, c.hz AS c, r.hz AS r
        |  FROM pts c JOIN pts l ON l.i = c.i - 1
        |    JOIN pts r ON r.i = c.i + 1
        |  WHERE c.i BETWEEN 1 AND 8),
        |wgt AS (SELECT p.clip_id, p.k, t.m, p.power,
        |    round(GREATEST(0.0, LEAST(
        |      (round(p.k * 8000.0 / p.n, 9) - t.l) / (t.c - t.l),
        |      (t.r - round(p.k * 8000.0 / p.n, 9)) / (t.r - t.c))), 9) AS w
        |  FROM pw p, tri t),
        |en AS (SELECT clip_id, m AS mel,
        |    round(CAST(SUM(CAST(round(w * power, 6) AS DECIMAL(38,9)))
        |      AS DOUBLE), 3) AS energy
        |  FROM wgt WHERE w > 0 GROUP BY 1, 2),
        |lm AS (SELECT clip_id, mel, energy,
        |    round(ln(1.0 + GREATEST(energy, 0.0)), 6) AS log_energy
        |  FROM en)""".stripMargin

  val oracles: Map[String, String] = Map(

    "q191_ols" ->
      """WITH d AS (SELECT
        |    CAST(round(CAST(l_extendedprice AS DOUBLE) * 1000000.0, 0)
        |         AS DECIMAL(19,0)) AS y,
        |    CAST(round(CAST(l_quantity AS DOUBLE) * 1000000.0, 0)
        |         AS DECIMAL(19,0)) AS x1,
        |    CAST(round(CAST(l_discount AS DOUBLE) * 1000000.0, 0)
        |         AS DECIMAL(19,0)) AS x2
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        |    AND l_discount IS NOT NULL),
        |m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(x1) AS DOUBLE) / 1000000.0 AS s1,
        |    CAST(SUM(x2) AS DOUBLE) / 1000000.0 AS s2,
        |    CAST(SUM(y) AS DOUBLE) / 1000000.0 AS sy,
        |    CAST(SUM(x1*x1) AS DOUBLE) / 1000000000000.0 AS s11,
        |    CAST(SUM(x1*x2) AS DOUBLE) / 1000000000000.0 AS s12,
        |    CAST(SUM(x2*x2) AS DOUBLE) / 1000000000000.0 AS s22,
        |    CAST(SUM(x1*y) AS DOUBLE) / 1000000000000.0 AS s1y,
        |    CAST(SUM(x2*y) AS DOUBLE) / 1000000000000.0 AS s2y,
        |    CAST(SUM(y*y) AS DOUBLE) / 1000000000000.0 AS syy
        |  FROM d),
        |b AS (SELECT n, sy, s1y, s2y, syy,
        |    (sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)
        |      + s2*(s1y*s12 - s11*s2y))
        |    / (n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
        |      + s2*(s1*s12 - s11*s2)) AS b0,
        |    (n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2)
        |      + s2*(s1*s2y - s1y*s2))
        |    / (n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
        |      + s2*(s1*s12 - s11*s2)) AS b1,
        |    (n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)
        |      + sy*(s1*s12 - s11*s2))
        |    / (n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
        |      + s2*(s1*s12 - s11*s2)) AS b2
        |  FROM m)
        |SELECT CAST(n AS BIGINT) AS n,
        |  round(b0, 6) AS b0, round(b1, 6) AS b1, round(b2, 6) AS b2,
        |  round(1.0 - (syy - b0*sy - b1*s1y - b2*s2y)
        |        / (syy - sy*sy/n), 6) AS r2
        |FROM b""".stripMargin,

    "q192_logit_gd" ->
      """WITH RECURSIVE
        |hist AS (SELECT b, COUNT(*) AS nb,
        |    CAST(SUM(CASE WHEN st = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS np
        |  FROM (SELECT greatest(least(CAST(floor(CAST(o_totalprice AS DOUBLE)
        |            / 9375.0) AS BIGINT), 63), 0) AS b,
        |          o_orderstatus AS st
        |        FROM orders WHERE o_totalprice IS NOT NULL)
        |  GROUP BY 1),
        |tot AS (SELECT CAST(SUM(nb) AS BIGINT) AS n,
        |               CAST(SUM(np) AS BIGINT) AS n_pos FROM hist),
        |it AS (
        |  SELECT CAST(0 AS DOUBLE) AS w0, CAST(0 AS DOUBLE) AS w1, 0 AS step
        |  UNION ALL
        |  SELECT round(t.w0 + 0.5 * t.g0 / t.n, 9),
        |         round(t.w1 + 0.5 * t.g1 / t.n, 9),
        |         t.step + 1
        |  FROM (
        |    SELECT cur.step, cur.w0, cur.w1, (SELECT n FROM tot) AS n,
        |      CAST(SUM(CAST(round(h.np - h.nb
        |          * round(1.0/(1.0 + exp(-(cur.w0 + cur.w1
        |              * ((CAST(h.b AS DOUBLE) + 0.5)/64.0)))), 9), 9)
        |        AS DECIMAL(38,9))) AS DOUBLE) AS g0,
        |      CAST(SUM(CAST(round((h.np - h.nb
        |          * round(1.0/(1.0 + exp(-(cur.w0 + cur.w1
        |              * ((CAST(h.b AS DOUBLE) + 0.5)/64.0)))), 9))
        |          * ((CAST(h.b AS DOUBLE) + 0.5)/64.0), 9)
        |        AS DECIMAL(38,9))) AS DOUBLE) AS g1
        |    FROM it cur, hist h
        |    WHERE cur.step < 12
        |    GROUP BY 1, 2, 3) t)
        |SELECT t.n, t.n_pos, round(f.w0, 6) AS w0, round(f.w1, 6) AS w1,
        |  round(CAST(SUM(CAST(round(
        |      h.np * ln(round(1.0/(1.0 + exp(-(f.w0 + f.w1
        |          * ((CAST(h.b AS DOUBLE) + 0.5)/64.0)))), 9))
        |      + (h.nb - h.np) * ln(1.0 - round(1.0/(1.0 + exp(-(f.w0 + f.w1
        |          * ((CAST(h.b AS DOUBLE) + 0.5)/64.0)))), 9)), 9)
        |    AS DECIMAL(38,9))) AS DOUBLE), 6) AS loglik
        |FROM hist h, (SELECT w0, w1 FROM it WHERE step = 12) f, tot t
        |GROUP BY t.n, t.n_pos, f.w0, f.w1""".stripMargin,

    "q193_spearman" ->
      """WITH rws AS (SELECT round(CAST(l_quantity AS DOUBLE), 6) AS vx,
        |    round(CAST(l_extendedprice AS DOUBLE), 6) AS vy
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |gx AS (SELECT vx AS v, COUNT(*) AS cnt FROM rws GROUP BY 1),
        |rx AS (SELECT v, CAST(SUM(cnt) OVER (ORDER BY v) - cnt AS DOUBLE)
        |         + CAST(cnt + 1 AS DOUBLE)/2.0 AS r FROM gx),
        |gy AS (SELECT vy AS v, COUNT(*) AS cnt FROM rws GROUP BY 1),
        |ry AS (SELECT v, CAST(SUM(cnt) OVER (ORDER BY v) - cnt AS DOUBLE)
        |         + CAST(cnt + 1 AS DOUBLE)/2.0 AS r FROM gy),
        |j AS (SELECT CAST(r1.r AS DECIMAL(18,1)) AS rx,
        |             CAST(r2.r AS DECIMAL(18,1)) AS ry
        |      FROM rws JOIN rx r1 ON rws.vx = r1.v
        |               JOIN ry r2 ON rws.vy = r2.v),
        |m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(rx) AS DOUBLE) AS sx, CAST(SUM(ry) AS DOUBLE) AS sy,
        |    CAST(SUM(rx*rx) AS DOUBLE) AS sxx,
        |    CAST(SUM(ry*ry) AS DOUBLE) AS syy,
        |    CAST(SUM(rx*ry) AS DOUBLE) AS sxy
        |  FROM j)
        |SELECT CAST(n AS BIGINT) AS n,
        |  round((n*sxy - sx*sy)
        |    / sqrt((n*sxx - sx*sx)*(n*syy - sy*sy)), 6) AS rho
        |FROM m""".stripMargin,

    "q194_benford" ->
      """WITH d AS (SELECT CAST(substr(CAST(CAST(round(
        |      CAST(o_totalprice AS DOUBLE), 2) AS DECIMAL(30,2))
        |      AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM orders WHERE CAST(o_totalprice AS DOUBLE) >= 1.0),
        |g AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT SUM(n) AS tot FROM g),
        |s AS (SELECT digit, CAST(n AS BIGINT) AS n,
        |    round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS obs_share,
        |    round(ln(1.0 + 1.0/CAST(digit AS DOUBLE)) / ln(10.0), 6)
        |      AS benford_share
        |  FROM g, t)
        |SELECT digit, n, obs_share, benford_share,
        |  round(abs(obs_share - benford_share), 6) AS abs_dev
        |FROM s""".stripMargin,

    "q195_acf" ->
      """WITH days AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    COUNT(*) AS c FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS s,
        |               CAST(COUNT(*) AS BIGINT) AS nd FROM days),
        |cent AS (SELECT d, CAST(c * (SELECT nd FROM tot)
        |    - (SELECT s FROM tot) AS DECIMAL(18,0)) AS e FROM days),
        |den AS (SELECT SUM(e*e) AS dn FROM cent),
        |lags AS (SELECT CAST(unnest(range(1, 8)) AS INT) AS lag),
        |p AS (SELECT lag, a.e AS e1, b.e AS e2
        |      FROM cent a, lags, cent b
        |      WHERE b.d = a.d + lag)
        |SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  round(CAST(SUM(e1*e2) AS DOUBLE)
        |    / CAST((SELECT dn FROM den) AS DOUBLE), 6) AS acf
        |FROM p GROUP BY 1""".stripMargin,

    "q196_zipf_tail" ->
      s"""WITH t AS (SELECT w, COUNT(*) AS f FROM (
         |    SELECT unnest($toks) AS w FROM documents) GROUP BY 1),
         |top AS (SELECT CAST(f AS BIGINT) AS f, w FROM t
         |        ORDER BY f DESC, w ASC LIMIT 101),
         |thr AS (SELECT MIN(f) AS thr FROM top)
         |SELECT CAST(COUNT(*) AS BIGINT) AS k,
         |  (SELECT thr FROM thr) AS f_threshold,
         |  round(CAST(COUNT(*) AS DOUBLE)
         |    / CAST(SUM(CAST(round(ln(CAST(f AS DOUBLE)
         |        / CAST((SELECT thr FROM thr) AS DOUBLE)), 9)
         |      AS DECIMAL(38,9))) AS DOUBLE), 6) AS alpha
         |FROM top WHERE f > (SELECT thr FROM thr)""".stripMargin,

    "q197_ks_test" ->
      """WITH v AS (SELECT round(CAST(o_totalprice AS DOUBLE), 6) AS v,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS g
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |c AS (SELECT v, SUM(g) AS c1, SUM(1 - g) AS c2 FROM v GROUP BY 1),
        |r AS (SELECT v, SUM(c1) OVER (ORDER BY v) AS cum1,
        |             SUM(c2) OVER (ORDER BY v) AS cum2 FROM c),
        |t AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
        |             CAST(SUM(c2) AS BIGINT) AS n2 FROM c)
        |SELECT t.n1, t.n2,
        |  CAST(MAX(abs(cum1*t.n2 - cum2*t.n1)) AS BIGINT) AS d_num,
        |  round(CAST(MAX(abs(cum1*t.n2 - cum2*t.n1)) AS DOUBLE)
        |    / (CAST(t.n1 AS DOUBLE) * CAST(t.n2 AS DOUBLE)), 6) AS ks
        |FROM r, t GROUP BY t.n1, t.n2""".stripMargin,

    "q198_mutual_info" ->
      """WITH cells AS (SELECT CAST(c_mktsegment AS VARCHAR) AS a,
        |    CAST(c_nationkey AS VARCHAR) AS b, COUNT(*) AS nij
        |  FROM customer
        |  WHERE c_mktsegment IS NOT NULL AND c_nationkey IS NOT NULL
        |  GROUP BY 1, 2),
        |ma AS (SELECT a, SUM(nij) AS ni FROM cells GROUP BY 1),
        |mb AS (SELECT b, SUM(nij) AS nj FROM cells GROUP BY 1),
        |tot AS (SELECT SUM(nij) AS nn FROM cells),
        |ha AS (SELECT round(CAST(SUM(CAST(round(
        |      (CAST(ni AS DOUBLE)/CAST(nn AS DOUBLE))
        |      * ln(CAST(nn AS DOUBLE)/CAST(ni AS DOUBLE)), 9)
        |    AS DECIMAL(38,9))) AS DOUBLE), 6) AS h_a FROM ma, tot),
        |hb AS (SELECT round(CAST(SUM(CAST(round(
        |      (CAST(nj AS DOUBLE)/CAST(nn AS DOUBLE))
        |      * ln(CAST(nn AS DOUBLE)/CAST(nj AS DOUBLE)), 9)
        |    AS DECIMAL(38,9))) AS DOUBLE), 6) AS h_b FROM mb, tot),
        |mi AS (SELECT CAST(nn AS BIGINT) AS n,
        |    round(CAST(SUM(CAST(round(
        |      (CAST(nij AS DOUBLE)/CAST(nn AS DOUBLE))
        |      * ln((CAST(nij AS DOUBLE)*CAST(nn AS DOUBLE))
        |           /(CAST(ni AS DOUBLE)*CAST(nj AS DOUBLE))), 9)
        |    AS DECIMAL(38,9))) AS DOUBLE), 6) AS mi
        |  FROM cells JOIN ma USING (a) JOIN mb USING (b), tot
        |  GROUP BY nn)
        |SELECT n, h_a, h_b, mi,
        |  round(mi / sqrt(CASE WHEN h_a*h_b > 0 THEN h_a*h_b END), 6) AS nmi
        |FROM mi, ha, hb""".stripMargin,

    "q199_er_clusters" ->
      """WITH RECURSIVE c AS (SELECT c_custkey, c_name, c_nationkey
        |  FROM customer WHERE c_custkey < 200),
        |edges AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
        |  FROM c a JOIN c b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |  WHERE levenshtein(a.c_name, b.c_name) <= 1),
        |sym AS (SELECT id_a AS node, id_b AS nbr FROM edges
        |        UNION ALL SELECT id_b, id_a FROM edges),
        |walk AS (
        |  SELECT node, node AS reach FROM (SELECT DISTINCT node FROM sym)
        |  UNION
        |  SELECT w.node, s.nbr AS reach
        |  FROM walk w JOIN sym s ON s.node = w.reach),
        |lab AS (SELECT node, MIN(reach) AS label FROM walk GROUP BY node)
        |SELECT label AS group_rep, COUNT(*) AS n_docs,
        |  CAST(SUM(node) AS BIGINT) AS id_checksum, MAX(node) AS max_id
        |FROM lab GROUP BY label""".stripMargin,

    "q201_ridge" ->
      """WITH d AS (SELECT
        |    CAST(round(CAST(l_extendedprice AS DOUBLE) * 1000000.0, 0)
        |         AS DECIMAL(19,0)) AS y,
        |    CAST(round(CAST(l_quantity AS DOUBLE) * 1000000.0, 0)
        |         AS DECIMAL(19,0)) AS x1,
        |    CAST(round(CAST(l_discount AS DOUBLE) * 1000000.0, 0)
        |         AS DECIMAL(19,0)) AS x2
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        |    AND l_discount IS NOT NULL),
        |m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(x1) AS DOUBLE) / 1000000.0 AS s1,
        |    CAST(SUM(x2) AS DOUBLE) / 1000000.0 AS s2,
        |    CAST(SUM(y) AS DOUBLE) / 1000000.0 AS sy,
        |    CAST(SUM(x1*x1) AS DOUBLE) / 1000000000000.0 AS s11,
        |    CAST(SUM(x1*x2) AS DOUBLE) / 1000000000000.0 AS s12,
        |    CAST(SUM(x2*x2) AS DOUBLE) / 1000000000000.0 AS s22,
        |    CAST(SUM(x1*y) AS DOUBLE) / 1000000000000.0 AS s1y,
        |    CAST(SUM(x2*y) AS DOUBLE) / 1000000000000.0 AS s2y,
        |    CAST(SUM(y*y) AS DOUBLE) / 1000000000000.0 AS syy
        |  FROM d),
        |mp AS (SELECT m.*, s11 + 1000.0 AS s11p, s22 + 1000.0 AS s22p
        |       FROM m),
        |b AS (SELECT n, s1, s2, sy, s11, s12, s22, s1y, s2y, syy,
        |    (sy*(s11p*s22p - s12*s12) - s1*(s1y*s22p - s12*s2y)
        |      + s2*(s1y*s12 - s11p*s2y))
        |    / (n*(s11p*s22p - s12*s12) - s1*(s1*s22p - s12*s2)
        |      + s2*(s1*s12 - s11p*s2)) AS b0,
        |    (n*(s1y*s22p - s12*s2y) - sy*(s1*s22p - s12*s2)
        |      + s2*(s1*s2y - s1y*s2))
        |    / (n*(s11p*s22p - s12*s12) - s1*(s1*s22p - s12*s2)
        |      + s2*(s1*s12 - s11p*s2)) AS b1,
        |    (n*(s11p*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)
        |      + sy*(s1*s12 - s11p*s2))
        |    / (n*(s11p*s22p - s12*s12) - s1*(s1*s22p - s12*s2)
        |      + s2*(s1*s12 - s11p*s2)) AS b2
        |  FROM mp),
        |q AS (SELECT b.*,
        |    syy - 2*(b0*sy + b1*s1y + b2*s2y)
        |      + (b0*b0*n + b1*b1*s11 + b2*b2*s22
        |      + 2*b0*b1*s1 + 2*b0*b2*s2 + 2*b1*b2*s12) AS sse
        |  FROM b)
        |SELECT CAST(n AS BIGINT) AS n,
        |  round(b0, 6) AS b0, round(b1, 6) AS b1, round(b2, 6) AS b2,
        |  round(1.0 - sse / (syy - sy*sy/n), 6) AS r2
        |FROM q""".stripMargin,

    "q202_cv_ols" ->
      """WITH d AS (SELECT (l_orderkey*10 + l_linenumber) % 5 AS fold,
        |    CAST(round(CAST(l_extendedprice AS DOUBLE) * 1000000.0, 0)
        |         AS DECIMAL(19,0)) AS y,
        |    CAST(round(CAST(l_quantity AS DOUBLE) * 1000000.0, 0)
        |         AS DECIMAL(19,0)) AS x1,
        |    CAST(round(CAST(l_discount AS DOUBLE) * 1000000.0, 0)
        |         AS DECIMAL(19,0)) AS x2
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        |    AND l_discount IS NOT NULL),
        |pf AS (SELECT fold, COUNT(*) AS cn,
        |    SUM(x1) AS c1, SUM(x2) AS c2, SUM(y) AS cy,
        |    SUM(x1*x1) AS c11, SUM(x1*x2) AS c12, SUM(x2*x2) AS c22,
        |    SUM(x1*y) AS c1y, SUM(x2*y) AS c2y, SUM(y*y) AS cyy
        |  FROM d GROUP BY 1),
        |g AS (SELECT SUM(cn) AS gn, SUM(c1) AS g1, SUM(c2) AS g2,
        |    SUM(cy) AS gy, SUM(c11) AS g11, SUM(c12) AS g12,
        |    SUM(c22) AS g22, SUM(c1y) AS g1y, SUM(c2y) AS g2y
        |  FROM pf),
        |tr AS (SELECT fold, cn AS n_test,
        |    CAST(gn - cn AS DOUBLE) AS n,
        |    CAST(g1 - c1 AS DOUBLE) / 1000000.0 AS s1,
        |    CAST(g2 - c2 AS DOUBLE) / 1000000.0 AS s2,
        |    CAST(gy - cy AS DOUBLE) / 1000000.0 AS sy,
        |    CAST(g11 - c11 AS DOUBLE) / 1000000000000.0 AS s11,
        |    CAST(g12 - c12 AS DOUBLE) / 1000000000000.0 AS s12,
        |    CAST(g22 - c22 AS DOUBLE) / 1000000000000.0 AS s22,
        |    CAST(g1y - c1y AS DOUBLE) / 1000000000000.0 AS s1y,
        |    CAST(g2y - c2y AS DOUBLE) / 1000000000000.0 AS s2y
        |  FROM pf, g),
        |b AS (SELECT fold, CAST(n AS BIGINT) AS n_train, n_test,
        |    (sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)
        |      + s2*(s1y*s12 - s11*s2y))
        |    / (n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
        |      + s2*(s1*s12 - s11*s2)) AS b0,
        |    (n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2)
        |      + s2*(s1*s2y - s1y*s2))
        |    / (n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
        |      + s2*(s1*s12 - s11*s2)) AS b1,
        |    (n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)
        |      + sy*(s1*s12 - s11*s2))
        |    / (n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
        |      + s2*(s1*s12 - s11*s2)) AS b2
        |  FROM tr),
        |sc AS (SELECT d.fold, b.n_train, b.n_test, b.b0, b.b1, b.b2,
        |    round((CAST(d.y AS DOUBLE)/1000000.0
        |        - (b.b0 + b.b1*(CAST(d.x1 AS DOUBLE)/1000000.0)
        |           + b.b2*(CAST(d.x2 AS DOUBLE)/1000000.0)))
        |      * (CAST(d.y AS DOUBLE)/1000000.0
        |        - (b.b0 + b.b1*(CAST(d.x1 AS DOUBLE)/1000000.0)
        |           + b.b2*(CAST(d.x2 AS DOUBLE)/1000000.0))), 9) AS r2q
        |  FROM d JOIN b USING (fold))
        |SELECT fold, n_train, CAST(n_test AS BIGINT) AS n_test,
        |  round(b0, 6) AS b0, round(b1, 6) AS b1, round(b2, 6) AS b2,
        |  round(sqrt(CAST(SUM(CAST(r2q AS DECIMAL(38,9))) AS DOUBLE)
        |    / CAST(n_test AS DOUBLE)), 6) AS rmse
        |FROM sc GROUP BY fold, n_train, n_test, b0, b1, b2""".stripMargin,

    "q203_perm_test" ->
      s"""WITH r AS (SELECT o_orderkey AS id,
         |    CAST(round(CAST(o_totalprice AS DOUBLE) * 1000000.0, 0)
         |         AS BIGINT) AS xq,
         |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS g
         |  FROM orders WHERE o_totalprice IS NOT NULL),
         |obs AS (SELECT COUNT(*) AS n, CAST(SUM(g) AS BIGINT) AS n1,
         |    round(round(CAST(SUM(CASE WHEN g = 1
         |          THEN CAST(xq AS DECIMAL(38,0)) ELSE 0 END) AS DOUBLE)
         |        / 1000000.0 / CAST(SUM(g) AS DOUBLE), 9)
         |      - round(CAST(SUM(CAST(xq AS DECIMAL(38,0)))
         |          - SUM(CASE WHEN g = 1 THEN CAST(xq AS DECIMAL(38,0))
         |                ELSE 0 END) AS DOUBLE)
         |        / 1000000.0 / CAST(COUNT(*) - SUM(g) AS DOUBLE), 9), 6)
         |      AS diff_obs
         |  FROM r),
         |bits AS (SELECT xq, ((${lcgSql("id*64 + rep")}) >> 16) % 2 AS bit,
         |    rep
         |  FROM (SELECT id, xq, unnest(range(64)) AS rep FROM r)),
         |reps AS (SELECT rep,
         |    round(round(CAST(SUM(CASE WHEN bit = 1
         |          THEN CAST(xq AS DECIMAL(38,0)) ELSE 0 END) AS DOUBLE)
         |        / 1000000.0 / CAST(SUM(bit) AS DOUBLE), 9)
         |      - round(CAST(SUM(CAST(xq AS DECIMAL(38,0)))
         |          - SUM(CASE WHEN bit = 1 THEN CAST(xq AS DECIMAL(38,0))
         |                ELSE 0 END) AS DOUBLE)
         |        / 1000000.0 / CAST(COUNT(*) - SUM(bit) AS DOUBLE), 9), 6)
         |      AS diff_rep
         |  FROM bits GROUP BY 1)
         |SELECT o.n, o.n1, o.diff_obs, CAST(64 AS BIGINT) AS b,
         |  CAST(COUNT(diff_rep) AS BIGINT) AS n_valid,
         |  CAST(SUM(CASE WHEN abs(diff_rep) >= abs(o.diff_obs)
         |        THEN 1 ELSE 0 END) AS BIGINT) AS n_ge,
         |  round((1.0 + CAST(SUM(CASE WHEN abs(diff_rep) >= abs(o.diff_obs)
         |        THEN 1 ELSE 0 END) AS DOUBLE)) / 65.0, 6) AS p_value
         |FROM reps, obs o GROUP BY 1, 2, 3, 4""".stripMargin,

    "q213_phash" -> {
      def px(x: String, y: String) =
        s"CAST(CASE WHEN c = 0 THEN (($x)*7 + ($y)*13) % 256 " +
          s"WHEN c = 1 THEN (($x)*3 + ($y)*5 + 17) % 256 " +
          s"ELSE (($x) + ($y)*2 + 101) % 256 END AS DOUBLE)"
      s"""WITH imgs AS (SELECT * FROM (VALUES (1, 8, 5), (2, 16, 9),
         |                                    (3, 7, 3)) t(image_id, w, h)),
         |uu AS (SELECT image_id, w, h, unnest(range(8)) AS v FROM imgs),
         |uv AS (SELECT image_id, w, h, v, unnest(range(8)) AS u FROM uu),
         |uvc AS (SELECT image_id, w, h, v, u, unnest(range(3)) AS c
         |        FROM uv),
         |g AS (SELECT image_id, w, h, u, v, c,
         |    greatest(0.0, least(CAST(h AS DOUBLE) - 1.0,
         |      (CAST(v AS DOUBLE) + 0.5) * CAST(h AS DOUBLE) / 8.0 - 0.5))
         |      AS syc,
         |    greatest(0.0, least(CAST(w AS DOUBLE) - 1.0,
         |      (CAST(u AS DOUBLE) + 0.5) * CAST(w AS DOUBLE) / 8.0 - 0.5))
         |      AS sxc
         |  FROM uvc),
         |q AS (SELECT image_id, w, h, u, v, c,
         |    CAST(floor(syc) AS BIGINT) AS y0,
         |    CAST(floor(sxc) AS BIGINT) AS x0,
         |    syc - CAST(floor(syc) AS BIGINT) AS fy,
         |    sxc - CAST(floor(sxc) AS BIGINT) AS fx,
         |    least(h - 1, CAST(floor(syc) AS BIGINT) + 1) AS y1,
         |    least(w - 1, CAST(floor(sxc) AS BIGINT) + 1) AS x1
         |  FROM g),
         |r AS (SELECT image_id, u, v, c,
         |    CAST(CAST((1 - fy) * ((1 - fx) * ${px("x0", "y0")}
         |      + fx * ${px("x1", "y0")})
         |    + fy * ((1 - fx) * ${px("x0", "y1")}
         |      + fx * ${px("x1", "y1")}) AS FLOAT) AS DOUBLE) AS val
         |  FROM q),
         |cellp AS (SELECT image_id, v*8 + u AS cell,
         |    MAX(CASE WHEN c = 0 THEN val END) AS r,
         |    MAX(CASE WHEN c = 1 THEN val END) AS g,
         |    MAX(CASE WHEN c = 2 THEN val END) AS b
         |  FROM r GROUP BY 1, 2),
         |cells AS (SELECT image_id, cell,
         |    round(0.299 * r + 0.587 * g + 0.114 * b, 9) AS luma
         |  FROM cellp),
         |mn AS (SELECT image_id,
         |    round(CAST(SUM(CAST(round(luma, 9) AS DECIMAL(38,9)))
         |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9) AS mean
         |  FROM cells GROUP BY 1),
         |bits AS (SELECT image_id,
         |    string_agg(CASE WHEN luma > mean THEN '1' ELSE '0' END,
         |               '' ORDER BY cell) AS bits
         |  FROM cells JOIN mn USING (image_id) GROUP BY 1),
         |ham AS (SELECT a.image_id AS ia, b.image_id AS ib,
         |    a.bits AS ba, b.bits AS bb
         |  FROM bits a JOIN bits b ON a.image_id < b.image_id)
         |SELECT CAST(ia AS BIGINT) AS id_a, CAST(ib AS BIGINT) AS id_b,
         |  CAST(SUM(CASE WHEN substr(ba, CAST(j + 1 AS INT), 1)
         |      <> substr(bb, CAST(j + 1 AS INT), 1) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS hamming,
         |  ba AS bits_a, bb AS bits_b
         |FROM ham, (SELECT unnest(range(64)) AS j)
         |GROUP BY 1, 2, 4, 5""".stripMargin
    },

    "q214_phash_banded" ->
      """WITH js AS (SELECT unnest(range(64)) AS j),
        |bits AS (
        |  SELECT doc_id,
        |    string_agg(CASE WHEN
        |        (((doc_id % 5) * 37 + j * 11 + 3) % 5 < 2)
        |        <> ((doc_id * 13 + j * 7) % 64 < (doc_id % 4) + 2)
        |      THEN '1' ELSE '0' END, '' ORDER BY j) AS bits
        |  FROM documents, js WHERE doc_id < 500 GROUP BY doc_id),
        |ham AS (SELECT a.doc_id AS ia, b.doc_id AS ib,
        |    a.bits AS ba, b.bits AS bb
        |  FROM bits a JOIN bits b ON a.doc_id < b.doc_id)
        |SELECT ia AS id_a, ib AS id_b,
        |  CAST(SUM(CASE WHEN substr(ba, CAST(j + 1 AS INT), 1)
        |      <> substr(bb, CAST(j + 1 AS INT), 1) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS hamming,
        |  ba AS bits_a, bb AS bits_b
        |FROM ham, js
        |GROUP BY 1, 2, 4, 5
        |HAVING CAST(SUM(CASE WHEN substr(ba, CAST(j + 1 AS INT), 1)
        |      <> substr(bb, CAST(j + 1 AS INT), 1) THEN 1 ELSE 0 END)
        |    AS BIGINT) <= 6""".stripMargin,

    "q217_png_phash_pipeline" -> {
      def px(x: String, y: String) =
        s"CAST(CASE WHEN c = 0 THEN (($x)*7 + ($y)*13 + gp*37) % 256 " +
          s"WHEN c = 1 THEN (($x)*3 + ($y)*5 + 17 + gp*53) % 256 " +
          s"ELSE (($x) + ($y)*2 + 101 + gp*11 + dd*29) % 256 END AS DOUBLE)"
      s"""WITH imgs AS (SELECT doc_id AS image_id,
         |    CAST(doc_id % 10 AS BIGINT) AS gp,
         |    CAST(doc_id % 4 AS BIGINT) AS dd,
         |    CAST(8 + doc_id % 10 AS BIGINT) AS w,
         |    CAST(5 + (doc_id % 10) % 5 AS BIGINT) AS h
         |  FROM documents WHERE doc_id < 120),
         |uu AS (SELECT image_id, gp, dd, w, h, unnest(range(8)) AS v
         |       FROM imgs),
         |uv AS (SELECT image_id, gp, dd, w, h, v, unnest(range(8)) AS u
         |       FROM uu),
         |uvc AS (SELECT image_id, gp, dd, w, h, v, u,
         |               unnest(range(3)) AS c FROM uv),
         |g AS (SELECT image_id, gp, dd, w, h, u, v, c,
         |    greatest(0.0, least(CAST(h AS DOUBLE) - 1.0,
         |      (CAST(v AS DOUBLE) + 0.5) * CAST(h AS DOUBLE) / 8.0 - 0.5))
         |      AS syc,
         |    greatest(0.0, least(CAST(w AS DOUBLE) - 1.0,
         |      (CAST(u AS DOUBLE) + 0.5) * CAST(w AS DOUBLE) / 8.0 - 0.5))
         |      AS sxc
         |  FROM uvc),
         |q AS (SELECT image_id, gp, dd, w, h, u, v, c,
         |    CAST(floor(syc) AS BIGINT) AS y0,
         |    CAST(floor(sxc) AS BIGINT) AS x0,
         |    syc - CAST(floor(syc) AS BIGINT) AS fy,
         |    sxc - CAST(floor(sxc) AS BIGINT) AS fx,
         |    least(h - 1, CAST(floor(syc) AS BIGINT) + 1) AS y1,
         |    least(w - 1, CAST(floor(sxc) AS BIGINT) + 1) AS x1
         |  FROM g),
         |r AS (SELECT image_id, u, v, c,
         |    CAST(CAST((1 - fy) * ((1 - fx) * ${px("x0", "y0")}
         |      + fx * ${px("x1", "y0")})
         |    + fy * ((1 - fx) * ${px("x0", "y1")}
         |      + fx * ${px("x1", "y1")}) AS FLOAT) AS DOUBLE) AS val
         |  FROM q),
         |cellp AS (SELECT image_id, v*8 + u AS cell,
         |    MAX(CASE WHEN c = 0 THEN val END) AS r,
         |    MAX(CASE WHEN c = 1 THEN val END) AS g,
         |    MAX(CASE WHEN c = 2 THEN val END) AS b
         |  FROM r GROUP BY 1, 2),
         |cells AS (SELECT image_id, cell,
         |    round(0.299 * r + 0.587 * g + 0.114 * b, 9) AS luma
         |  FROM cellp),
         |mn AS (SELECT image_id,
         |    round(CAST(SUM(CAST(round(luma, 9) AS DECIMAL(38,9)))
         |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9) AS mean
         |  FROM cells GROUP BY 1),
         |bits AS (SELECT image_id,
         |    string_agg(CASE WHEN luma > mean THEN '1' ELSE '0' END,
         |               '' ORDER BY cell) AS bits
         |  FROM cells JOIN mn USING (image_id) GROUP BY 1),
         |ham AS (SELECT a.image_id AS ia, b.image_id AS ib,
         |    a.bits AS ba, b.bits AS bb
         |  FROM bits a JOIN bits b ON a.image_id < b.image_id)
         |SELECT ia AS id_a, ib AS id_b,
         |  CAST(SUM(CASE WHEN substr(ba, CAST(j + 1 AS INT), 1)
         |      <> substr(bb, CAST(j + 1 AS INT), 1) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS hamming
         |FROM ham, (SELECT unnest(range(64)) AS j)
         |GROUP BY 1, 2
         |HAVING CAST(SUM(CASE WHEN substr(ba, CAST(j + 1 AS INT), 1)
         |      <> substr(bb, CAST(j + 1 AS INT), 1) THEN 1 ELSE 0 END)
         |    AS BIGINT) <= 10""".stripMargin
    },

    "q215_png_decode" ->
      """WITH imgs AS (SELECT * FROM (VALUES (1, 9, 7), (2, 16, 11),
        |                                    (3, 5, 13)) t(image_id, w, h)),
        |yy AS (SELECT image_id, w, h, unnest(range(h)) AS y FROM imgs),
        |xx AS (SELECT image_id, w, y, unnest(range(w)) AS x FROM yy),
        |cc AS (SELECT image_id, w, y, x, unnest(range(3)) AS c FROM xx),
        |tc AS (SELECT image_id, CAST((y * w + x) * 3 + c AS INT) AS pos,
        |  CAST(CASE WHEN c = 0 THEN (x*7 + y*13) % 256
        |            WHEN c = 1 THEN (x*3 + y*5 + 17) % 256
        |            ELSE (x + y*2 + 101) % 256 END AS DOUBLE) AS value
        |FROM cc),
        |py AS (SELECT unnest(range(9)) AS y),
        |px AS (SELECT y, unnest(range(8)) AS x FROM py),
        |pc AS (SELECT y, x, (x*3 + y*7) % 16 AS i,
        |              unnest(range(3)) AS c FROM px),
        |pal AS (SELECT 4 AS image_id, CAST((y * 8 + x) * 3 + c AS INT) AS pos,
        |  CAST(CASE WHEN c = 0 THEN (i*11) % 256
        |            WHEN c = 1 THEN (i*29 + 3) % 256
        |            ELSE (i*53 + 7) % 256 END AS DOUBLE) AS value
        |FROM pc)
        |SELECT image_id, pos, value FROM tc
        |UNION ALL SELECT image_id, pos, value FROM pal""".stripMargin,

    // q251: the q212 DFT kernel extended by the mel ladder — filter
    // points from the mel formula (libm split absorbed by 9-dp
    // rounding), triangles in Hz against each clip's own bin grid.

    "q251_mel_energies" -> (melLadderSql + """
        |SELECT CAST(clip_id AS BIGINT) AS clip_id, CAST(mel AS INT) AS mel,
        |  energy, log_energy
        |FROM lm""".stripMargin),

    // q255: the pair set pinned exactly; both Hamming envelopes are
    // Spark-side claims (lossy hash values are oracle-opaque).
    "q255_video_phash" ->
      """SELECT 'reencode' AS kind, CAST(f AS INT) AS a, CAST(f AS INT) AS b,
        |  TRUE AS holds
        |FROM (SELECT unnest(range(3)) AS f)
        |UNION ALL
        |SELECT 'cross' AS kind, CAST(f AS INT) AS a, CAST(g AS INT) AS b,
        |  TRUE AS holds
        |FROM (SELECT unnest(range(3)) AS f), (SELECT unnest(range(3)) AS g)
        |WHERE f < g""".stripMargin,

    // q254: idx/frac from the same integer arithmetic; the clamped
    // last-sample branch exercised by the upsampling tail.
    "q254_resample" ->
      """WITH clips AS (SELECT * FROM (VALUES (1, 60, 97, 3),
        |    (2, 41, 211, 17)) t(clip_id, n, a, b)),
        |rates AS (SELECT unnest([5000, 16000]) AS dst),
        |js AS (SELECT clip_id, n, a, b, dst,
        |    unnest(range(((n - 1) * dst) // 8000 + 1)) AS j
        |  FROM clips, rates),
        |ix AS (SELECT clip_id, n, a, b, dst, j,
        |    (j * 8000) // dst AS i, (j * 8000) % dst AS r FROM js),
        |sv AS (SELECT clip_id, dst, j,
        |    CAST(((i*a + b) % 2001) - 1000 AS DOUBLE) AS x0,
        |    CAST(((LEAST(i + 1, n - 1)*a + b) % 2001) - 1000 AS DOUBLE) AS x1,
        |    CAST(r AS DOUBLE) / dst AS f
        |  FROM ix)
        |SELECT CAST(clip_id AS BIGINT) AS clip_id, CAST(dst AS INT)
        |    AS dst_rate, CAST(j AS INT) AS j,
        |  round((1.0 - f) * x0 + f * x1, 6) AS value
        |FROM sv""".stripMargin,

    // q253: full overlap replay — both engines compute identical
    // rounded overlaps, 6-dp terms, decimal sums, one end division.
    "q253_area_resize" ->
      """WITH imgs AS (SELECT * FROM (VALUES (1, 13, 9), (2, 16, 11))
        |           t(image_id, w, h)),
        |yy AS (SELECT image_id, w, h, unnest(range(h)) AS sy FROM imgs),
        |xx AS (SELECT image_id, w, h, sy, unnest(range(w)) AS sx FROM yy),
        |sp AS (SELECT image_id, w, h, sy, sx, c,
        |    CAST(CASE WHEN c = 0 THEN (sx*7 + sy*13) % 256
        |              WHEN c = 1 THEN (sx*3 + sy*5 + 17) % 256
        |              ELSE (sx + sy*2 + 101) % 256 END AS DOUBLE) AS p
        |  FROM xx, (SELECT unnest(range(3)) AS c)),
        |tg AS (SELECT u, tv FROM (SELECT unnest(range(5)) AS u),
        |                        (SELECT unnest(range(4)) AS tv)),
        |ov AS (SELECT image_id, w, h, u, tv, c, p,
        |    round(LEAST((u + 1) * w / 5.0, sx + 1)
        |      - GREATEST(u * w / 5.0, CAST(sx AS DOUBLE)), 9) AS ox,
        |    round(LEAST((tv + 1) * h / 4.0, sy + 1)
        |      - GREATEST(tv * h / 4.0, CAST(sy AS DOUBLE)), 9) AS oy
        |  FROM sp, tg)
        |SELECT CAST(image_id AS BIGINT) AS image_id,
        |  CAST((tv * 5 + u) * 3 + c AS INT) AS pos,
        |  round(CAST(SUM(CAST(round(ox * oy * p, 6) AS DECIMAL(38,9)))
        |    AS DOUBLE) * 5.0 * 4.0 / (w * h), 4) AS value
        |FROM ov WHERE ox > 0 AND oy > 0
        |GROUP BY image_id, w, h, tv, u, c""".stripMargin,

    // q252: the ladder extended by the in-plan DCT-II basis.
    "q252_mfcc" -> (melLadderSql + """,
        |dct AS (SELECT clip_id, i,
        |    round(log_energy * round(cos(pi() * i * (mel - 0.5) / 8.0), 9),
        |      6) AS term
        |  FROM lm, (SELECT unnest(range(5)) AS i))
        |SELECT CAST(clip_id AS BIGINT) AS clip_id, CAST(i AS INT) AS i,
        |  round(CAST(SUM(CAST(term AS DECIMAL(38,9))) AS DOUBLE), 4) AS mfcc
        |FROM dct GROUP BY clip_id, i""".stripMargin),

    // q262: every TIFF compression in the decode matrix is lossless,
    // so each sample replays from its generative formula — an LZW
    // width-change, predictor, strip, ColorMap or bit-packing bug in
    // the codec breaks the hash. Channel counts differ per image
    // (RGB/palette 3, grayscale/bilevel 1), mirroring the decoder's
    // raw-sample contract.
    "q262_tiff_decode" ->
      """WITH rgb1 AS (SELECT 1 AS image_id, CAST((y*21 + x)*3 + c AS INT) AS pos,
        |    CAST(CASE WHEN c = 0 THEN (x*7 + y*13) % 256
        |              WHEN c = 1 THEN (x*3 + y*5 + 17) % 256
        |              ELSE (x + y*2 + 101) % 256 END AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(13)) AS y),
        |       (SELECT unnest(range(21)) AS x),
        |       (SELECT unnest(range(3)) AS c)),
        |rgb2 AS (SELECT 2 AS image_id, CAST((y*24 + x)*3 + c AS INT) AS pos,
        |    CAST(CASE WHEN c = 0 THEN ((x//9)*31) % 256
        |              WHEN c = 1 THEN ((y//4)*53) % 256
        |              ELSE 77 END AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(18)) AS y),
        |       (SELECT unnest(range(24)) AS x),
        |       (SELECT unnest(range(3)) AS c)),
        |g3 AS (SELECT 3 AS image_id, CAST(y*17 + x AS INT) AS pos,
        |    CAST((x*11 + y*17 + 3) % 256 AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(9)) AS y),
        |       (SELECT unnest(range(17)) AS x)),
        |g4 AS (SELECT 4 AS image_id, CAST(y*12 + x AS INT) AS pos,
        |    CAST((x*2021 + y*977 + 11) % 65536 AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(7)) AS y),
        |       (SELECT unnest(range(12)) AS x)),
        |p5 AS (SELECT 5 AS image_id, CAST((y*14 + x)*3 + c AS INT) AS pos,
        |    CAST(CASE WHEN c = 0 THEN (((x*3 + y*7) % 5)*37 + 11) % 256
        |              WHEN c = 1 THEN (((x*3 + y*7) % 5)*73 + 5) % 256
        |              ELSE (((x*3 + y*7) % 5)*151 + 97) % 256
        |         END AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(8)) AS y),
        |       (SELECT unnest(range(14)) AS x),
        |       (SELECT unnest(range(3)) AS c)),
        |b6 AS (SELECT 6 AS image_id, CAST(y*19 + x AS INT) AS pos,
        |    CAST((x*x + y*3) % 2 AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(11)) AS y),
        |       (SELECT unnest(range(19)) AS x)),
        |g7 AS (SELECT 7 AS image_id, CAST(y*70 + x AS INT) AS pos,
        |    CAST((x//5 + y//3) % 2 AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(23)) AS y),
        |       (SELECT unnest(range(70)) AS x)),
        |rgb8 AS (SELECT 8 AS image_id, CAST((y*37 + x)*3 + c AS INT) AS pos,
        |    CAST(CASE WHEN c = 0 THEN (x*7 + y*13) % 256
        |              WHEN c = 1 THEN (x*3 + y*5 + 17) % 256
        |              ELSE (x + y*2 + 101) % 256 END AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(19)) AS y),
        |       (SELECT unnest(range(37)) AS x),
        |       (SELECT unnest(range(3)) AS c)),
        |g9 AS (SELECT 9 AS image_id, CAST(y*45 + x AS INT) AS pos,
        |    CAST(CASE WHEN (x*3 + y) % 7 < 3 THEN 1 ELSE 0 END AS DOUBLE)
        |      AS value
        |  FROM (SELECT unnest(range(13)) AS y),
        |       (SELECT unnest(range(45)) AS x)),
        |g10 AS (SELECT 10 AS image_id, CAST(y*30 + x AS INT) AS pos,
        |    CAST((x*x + y*3) % 2 AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(9)) AS y),
        |       (SELECT unnest(range(30)) AS x))
        |SELECT CAST(image_id AS BIGINT) AS image_id, pos, value
        |FROM (SELECT * FROM rgb1 UNION ALL SELECT * FROM rgb2
        |      UNION ALL SELECT * FROM g3 UNION ALL SELECT * FROM g4
        |      UNION ALL SELECT * FROM p5 UNION ALL SELECT * FROM b6
        |      UNION ALL SELECT * FROM g7 UNION ALL SELECT * FROM rgb8
        |      UNION ALL SELECT * FROM g9 UNION ALL SELECT * FROM g10)""".stripMargin,

    // q263: ICO decode is lossless RGBA — each image replays its
    // generative formula; image 5 must surface ONLY the best entry
    // (16x16 24-bpp constant (9,8,7), alpha 255): a selection,
    // AND-mask, palette or bottom-up bug breaks the hash.
    "q263_ico_decode" ->
      """WITH i1 AS (SELECT 1 AS image_id, CAST((y*13 + x)*4 + c AS INT) AS pos,
        |    CAST(CASE WHEN c = 0 THEN (x*7 + y*13) % 256
        |              WHEN c = 1 THEN (x*3 + y*5 + 17) % 256
        |              WHEN c = 2 THEN (x + y*2 + 101) % 256
        |              ELSE (x*29 + y*41) % 256 END AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(9)) AS y),
        |       (SELECT unnest(range(13)) AS x),
        |       (SELECT unnest(range(4)) AS c)),
        |i2 AS (SELECT 2 AS image_id, CAST((y*13 + x)*4 + c AS INT) AS pos,
        |    CAST(CASE WHEN c = 0 THEN (x*7 + y*13) % 256
        |              WHEN c = 1 THEN (x*3 + y*5 + 17) % 256
        |              WHEN c = 2 THEN (x + y*2 + 101) % 256
        |              ELSE CASE WHEN (x + y) % 3 = 0 THEN 0 ELSE 255 END
        |         END AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(7)) AS y),
        |       (SELECT unnest(range(13)) AS x),
        |       (SELECT unnest(range(4)) AS c)),
        |i3 AS (SELECT 3 AS image_id, CAST((y*11 + x)*4 + c AS INT) AS pos,
        |    CAST(CASE WHEN c = 0 THEN (((x*3 + y*7) % 16)*37 + 11) % 256
        |              WHEN c = 1 THEN (((x*3 + y*7) % 16)*73 + 5) % 256
        |              WHEN c = 2 THEN (((x*3 + y*7) % 16)*151 + 97) % 256
        |              ELSE CASE WHEN (x + y) % 3 = 0 THEN 0 ELSE 255 END
        |         END AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(6)) AS y),
        |       (SELECT unnest(range(11)) AS x),
        |       (SELECT unnest(range(4)) AS c)),
        |i4 AS (SELECT 4 AS image_id, CAST((y*10 + x)*4 + c AS INT) AS pos,
        |    CAST(CASE WHEN c = 0 THEN (x*7 + y*13) % 256
        |              WHEN c = 1 THEN (x*3 + y*5 + 17) % 256
        |              WHEN c = 2 THEN (x + y*2 + 101) % 256
        |              ELSE 255 END AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(8)) AS y),
        |       (SELECT unnest(range(10)) AS x),
        |       (SELECT unnest(range(4)) AS c)),
        |i5 AS (SELECT 5 AS image_id, CAST((y*16 + x)*4 + c AS INT) AS pos,
        |    CAST(CASE WHEN c = 0 THEN 9 WHEN c = 1 THEN 8
        |              WHEN c = 2 THEN 7 ELSE 255 END AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(16)) AS y),
        |       (SELECT unnest(range(16)) AS x),
        |       (SELECT unnest(range(4)) AS c))
        |SELECT CAST(image_id AS BIGINT) AS image_id, pos, value
        |FROM (SELECT * FROM i1 UNION ALL SELECT * FROM i2
        |      UNION ALL SELECT * FROM i3 UNION ALL SELECT * FROM i4
        |      UNION ALL SELECT * FROM i5)""".stripMargin,

    // q264: the display remap is pure coordinate algebra over a
    // lossless decode — the oracle inverts each orientation
    // symbolically (sx, sy per CIPA DC-008 §4.6.4) and replays the
    // generative formula at the source coordinate.
    "q264_exif_orient" ->
      """WITH o AS (SELECT unnest(range(1, 9)) AS o),
        |g AS (SELECT o, CASE WHEN o >= 5 THEN 5 ELSE 9 END AS dw,
        |             CASE WHEN o >= 5 THEN 9 ELSE 5 END AS dh FROM o),
        |grid AS (SELECT o, dw, dh, y, x
        |  FROM g, (SELECT unnest(range(9)) AS y), (SELECT unnest(range(9)) AS x)
        |  WHERE y < dh AND x < dw),
        |m AS (SELECT o, dw, x, y,
        |    CASE o WHEN 1 THEN x WHEN 2 THEN 8 - x WHEN 3 THEN 8 - x
        |           WHEN 4 THEN x WHEN 5 THEN y WHEN 6 THEN y
        |           WHEN 7 THEN 8 - y ELSE 8 - y END AS sx,
        |    CASE o WHEN 1 THEN y WHEN 2 THEN y WHEN 3 THEN 4 - y
        |           WHEN 4 THEN 4 - y WHEN 5 THEN x WHEN 6 THEN 4 - x
        |           WHEN 7 THEN 4 - x ELSE x END AS sy
        |  FROM grid)
        |SELECT CAST(o AS BIGINT) AS image_id, CAST(o AS INT) AS orient,
        |  CAST((y*dw + x)*3 + c AS INT) AS pos,
        |  CAST(CASE WHEN c = 0 THEN (sx*7 + sy*13) % 256
        |            WHEN c = 1 THEN (sx*3 + sy*5 + 17) % 256
        |            ELSE (sx + sy*2 + 101) % 256 END AS DOUBLE) AS value
        |FROM m, (SELECT unnest(range(3)) AS c)""".stripMargin,

    // q266: PNM carries no compression at all — a header-tokenizer,
    // endianness, bit-packing or ASCII-raster bug is the only way to
    // break the replay.
    "q266_pnm_decode" ->
      """WITH g1 AS (SELECT 1 AS image_id, CAST(y*17 + x AS INT) AS pos,
        |    CAST((x*11 + y*17 + 3) % 256 AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(9)) AS y),
        |       (SELECT unnest(range(17)) AS x)),
        |g2 AS (SELECT 2 AS image_id, CAST(y*12 + x AS INT) AS pos,
        |    CAST((x*2021 + y*977 + 11) % 65536 AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(7)) AS y),
        |       (SELECT unnest(range(12)) AS x)),
        |c3 AS (SELECT 3 AS image_id, CAST((y*13 + x)*3 + c AS INT) AS pos,
        |    CAST(CASE WHEN c = 0 THEN (x*7 + y*13) % 256
        |              WHEN c = 1 THEN (x*3 + y*5 + 17) % 256
        |              ELSE (x + y*2 + 101) % 256 END AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(8)) AS y),
        |       (SELECT unnest(range(13)) AS x),
        |       (SELECT unnest(range(3)) AS c)),
        |c4 AS (SELECT 4 AS image_id, CAST((y*6 + x)*3 + c AS INT) AS pos,
        |    CAST(CASE WHEN c = 0 THEN (x*2021 + y*977 + 11) % 65536
        |              WHEN c = 1 THEN (x*2021 + y*977 + 18) % 65536
        |              ELSE x*999 + y END AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(5)) AS y),
        |       (SELECT unnest(range(6)) AS x),
        |       (SELECT unnest(range(3)) AS c)),
        |b5 AS (SELECT 5 AS image_id, CAST(y*19 + x AS INT) AS pos,
        |    CAST((x*x + y*3) % 2 AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(11)) AS y),
        |       (SELECT unnest(range(19)) AS x)),
        |b6 AS (SELECT 6 AS image_id, CAST(y*9 + x AS INT) AS pos,
        |    CAST((x*x + y*3) % 2 AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(4)) AS y),
        |       (SELECT unnest(range(9)) AS x))
        |SELECT CAST(image_id AS BIGINT) AS image_id, pos, value
        |FROM (SELECT * FROM g1 UNION ALL SELECT * FROM g2
        |      UNION ALL SELECT * FROM c3 UNION ALL SELECT * FROM c4
        |      UNION ALL SELECT * FROM b5 UNION ALL SELECT * FROM b6)""".stripMargin,

    // q269: TGA is lossless (RLE only) — every sample replays; a
    // BGR-swap, RLE-packet, row-order or map-alpha bug breaks it.
    "q269_tga_decode" ->
      """WITH t1 AS (SELECT 1 AS image_id, CAST((y*21 + x)*3 + c AS INT) AS pos,
        |    CAST(CASE WHEN c = 0 THEN (x*7 + y*13) % 256
        |              WHEN c = 1 THEN (x*3 + y*5 + 17) % 256
        |              ELSE (x + y*2 + 101) % 256 END AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(13)) AS y),
        |       (SELECT unnest(range(21)) AS x),
        |       (SELECT unnest(range(3)) AS c)),
        |t2 AS (SELECT 2 AS image_id, CAST((y*40 + x)*3 + c AS INT) AS pos,
        |    CAST(CASE WHEN c = 0 THEN ((x//9)*31) % 256
        |              WHEN c = 1 THEN ((y//4)*53) % 256
        |              ELSE 77 END AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(24)) AS y),
        |       (SELECT unnest(range(40)) AS x),
        |       (SELECT unnest(range(3)) AS c)),
        |t3 AS (SELECT 3 AS image_id, CAST((y*21 + x)*4 + c AS INT) AS pos,
        |    CAST(CASE WHEN c = 0 THEN (x*7 + y*13) % 256
        |              WHEN c = 1 THEN (x*3 + y*5 + 17) % 256
        |              WHEN c = 2 THEN (x + y*2 + 101) % 256
        |              ELSE (x*29 + y*41) % 256 END AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(13)) AS y),
        |       (SELECT unnest(range(21)) AS x),
        |       (SELECT unnest(range(4)) AS c)),
        |t4 AS (SELECT 4 AS image_id, CAST(y*17 + x AS INT) AS pos,
        |    CAST((x*11 + y*17 + 3) % 256 AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(9)) AS y),
        |       (SELECT unnest(range(17)) AS x)),
        |t5 AS (SELECT 5 AS image_id, CAST((y*14 + x)*4 + c AS INT) AS pos,
        |    CAST(CASE WHEN c = 0 THEN (((x*3 + y*7) % 7)*37 + 11) % 256
        |              WHEN c = 1 THEN (((x*3 + y*7) % 7)*73 + 5) % 256
        |              WHEN c = 2 THEN (((x*3 + y*7) % 7)*151 + 97) % 256
        |              ELSE ((((x*3 + y*7) % 7)*37 + 11) % 256
        |                    + (((x*3 + y*7) % 7)*73 + 5) % 256) % 256
        |         END AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(8)) AS y),
        |       (SELECT unnest(range(14)) AS x),
        |       (SELECT unnest(range(4)) AS c))
        |SELECT CAST(image_id AS BIGINT) AS image_id, pos, value
        |FROM (SELECT * FROM t1 UNION ALL SELECT * FROM t2
        |      UNION ALL SELECT * FROM t3 UNION ALL SELECT * FROM t4
        |      UNION ALL SELECT * FROM t5)""".stripMargin,

    // q270: SOURCE compositing is exact integer state, so each
    // frame's full RGBA canvas replays symbolically — the rect
    // membership tests encode the dispose semantics (background-
    // cleared R1 stays transparent from frame 2 on; the previous-
    // disposed R2 reverts by frame 3).
    "q270_apng_frames" ->
      """WITH g AS (SELECT f, y, x, c,
        |    (x BETWEEN 2 AND 5 AND y BETWEEN 1 AND 3) AS r1,
        |    (x BETWEEN 8 AND 12 AND y BETWEEN 5 AND 8) AS r2,
        |    (x <= 1 AND y <= 1) AS r3
        |  FROM (SELECT unnest(range(4)) AS f),
        |       (SELECT unnest(range(10)) AS y),
        |       (SELECT unnest(range(16)) AS x),
        |       (SELECT unnest(range(4)) AS c)),
        |v AS (SELECT f, y, x, c,
        |    CASE WHEN c = 0 THEN (x*7 + y*13) % 256
        |         WHEN c = 1 THEN (x*3 + y*5 + 17) % 256
        |         WHEN c = 2 THEN (x + y*2 + 101) % 256
        |         ELSE 255 END AS base,
        |    CASE WHEN c = 0 THEN 200 WHEN c = 1 THEN 10
        |         WHEN c = 2 THEN 20 ELSE 255 END AS red,
        |    CASE WHEN c = 0 THEN 5 WHEN c = 1 THEN 15
        |         WHEN c = 2 THEN 220 ELSE 255 END AS blue,
        |    r1, r2, r3
        |  FROM g)
        |SELECT CAST(f AS INT) AS frame, CAST((y*16 + x)*4 + c AS INT) AS pos,
        |  CAST(CASE
        |    WHEN f = 0 THEN base
        |    WHEN f = 1 THEN CASE WHEN r1 THEN red ELSE base END
        |    WHEN f = 2 THEN CASE WHEN r2 THEN blue WHEN r1 THEN 0
        |                         ELSE base END
        |    ELSE CASE WHEN r3 THEN red WHEN r1 THEN 0 ELSE base END
        |  END AS DOUBLE) AS value
        |FROM v""".stripMargin,

    // q271: QOI is lossless — an op-decode, index-hash, wraparound
    // or run-split bug breaks the replay. Image 1's x+y+256 edge
    // masks to (x+y)%256 per the 8-bit channel contract.
    "q271_qoi_decode" ->
      """WITH q1 AS (SELECT 1 AS image_id, CAST((y*23 + x)*3 + c AS INT) AS pos,
        |    CAST(CASE WHEN c = 1 THEN (x + y + 1) % 256
        |         ELSE (x + y) % 256 END AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(17)) AS y),
        |       (SELECT unnest(range(23)) AS x),
        |       (SELECT unnest(range(3)) AS c)),
        |q2 AS (SELECT 2 AS image_id, CAST((y*21 + x)*3 + c AS INT) AS pos,
        |    CAST(CASE WHEN c = 0 THEN (x*149 + y*211) % 256
        |              WHEN c = 1 THEN (x*83 + y*59) % 256
        |              ELSE (x*7 + y*131) % 256 END AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(13)) AS y),
        |       (SELECT unnest(range(21)) AS x),
        |       (SELECT unnest(range(3)) AS c)),
        |q3 AS (SELECT 3 AS image_id, CAST((y*40 + x)*3 + c AS INT) AS pos,
        |    CAST(CASE WHEN c = 0 THEN ((x//9)*31) % 256
        |              WHEN c = 1 THEN ((y//4)*53) % 256
        |              ELSE 77 END AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(24)) AS y),
        |       (SELECT unnest(range(40)) AS x),
        |       (SELECT unnest(range(3)) AS c)),
        |q4 AS (SELECT 4 AS image_id, CAST((y*31 + x)*3 + c AS INT) AS pos,
        |    CAST(CASE WHEN c = 0 THEN (((x + y*3) % 4)*61) % 256
        |              WHEN c = 1 THEN (((x + y*3) % 4)*97) % 256
        |              ELSE (((x + y*3) % 4)*193) % 256 END AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(9)) AS y),
        |       (SELECT unnest(range(31)) AS x),
        |       (SELECT unnest(range(3)) AS c)),
        |q5 AS (SELECT 5 AS image_id, CAST((y*19 + x)*4 + c AS INT) AS pos,
        |    CAST(CASE WHEN c = 0 THEN (x*7 + y*13) % 256
        |              WHEN c = 1 THEN (x*3 + y*5 + 17) % 256
        |              WHEN c = 2 THEN (x + y*2 + 101) % 256
        |              ELSE CASE WHEN (x + y) % 5 = 0 THEN 128 ELSE 255 END
        |         END AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(11)) AS y),
        |       (SELECT unnest(range(19)) AS x),
        |       (SELECT unnest(range(4)) AS c))
        |SELECT CAST(image_id AS BIGINT) AS image_id, pos, value
        |FROM (SELECT * FROM q1 UNION ALL SELECT * FROM q2
        |      UNION ALL SELECT * FROM q3 UNION ALL SELECT * FROM q4
        |      UNION ALL SELECT * FROM q5)""".stripMargin,

    // q274: the sample table replays symbolically — dts by run
    // arithmetic, offsets as chunk base + within-chunk cumulative
    // size, keyframes from the 1-based stss set; a chunk-map or
    // cumsum bug shifts every downstream byte range.
    "q274_mp4_index" ->
      """WITH s1 AS (SELECT i,
        |    CASE WHEN i < 10 THEN 100 WHEN i < 30 THEN 150
        |         ELSE 120 END AS duration,
        |    CASE WHEN i < 10 THEN i*100 WHEN i < 30 THEN 1000 + (i-10)*150
        |         ELSE 4000 + (i-30)*120 END AS dts,
        |    100 + (i % 7)*3 AS sz,
        |    CASE WHEN i < 20 THEN i // 4 ELSE 5 + (i-20) // 5 END AS chunk,
        |    (i IN (0, 8, 16, 24, 32)) AS kf
        |  FROM (SELECT unnest(range(40)) AS i)),
        |o1 AS (SELECT i, duration, dts, sz, chunk, kf,
        |    10000 + chunk*1000 +
        |      COALESCE(SUM(sz) OVER (PARTITION BY chunk ORDER BY i
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS off
        |  FROM s1),
        |v1 AS (SELECT CAST(1 AS BIGINT) AS video_id, 0 AS track,
        |    'avc1' AS codec, 320 AS width, 180 AS height,
        |    CAST(600 AS BIGINT) AS timescale, CAST(i AS INT) AS sample,
        |    CAST(dts AS BIGINT) AS dts, CAST(duration AS BIGINT) AS duration,
        |    CAST(sz AS BIGINT) AS size, CAST(off AS BIGINT) AS offset, kf AS keyframe
        |  FROM o1),
        |v2 AS (SELECT CAST(2 AS BIGINT) AS video_id, 0 AS track,
        |    'hvc1' AS codec, 64 AS width, 64 AS height,
        |    CAST(90000 AS BIGINT) AS timescale, CAST(i AS INT) AS sample,
        |    CAST(i*3000 AS BIGINT) AS dts, CAST(3000 AS BIGINT) AS duration,
        |    CAST(500 AS BIGINT) AS size,
        |    CAST(5000000000 + i*500 AS BIGINT) AS offset, TRUE AS keyframe
        |  FROM (SELECT unnest(range(6)) AS i))
        |SELECT * FROM v1 UNION ALL SELECT * FROM v2""".stripMargin,

    // q261: lossless big-endian layouts — every sample replays from
    // the integer formulas; float32 bit patterns round-trip exactly.
    "q261_be_audio_decode" ->
      """WITH c1 AS (SELECT 1 AS clip_id, t,
        |    CAST((t*29 + 3) % 3001 - 1500 AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(40)) AS t)),
        |c2 AS (SELECT 2 AS clip_id, t,
        |    CAST(t*15 - 120 AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(16)) AS t)),
        |c3 AS (SELECT 3 AS clip_id, t,
        |    CAST(t*531 - 3000 AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(12)) AS t)),
        |c4 AS (SELECT 4 AS clip_id, t,
        |    CAST(t*0.25 - 1.0 AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(9)) AS t)),
        |c5 AS (SELECT 5 AS clip_id, t,
        |    CAST((t*53 + 7) % 2001 - 1000 AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(20)) AS t)),
        |c6 AS (SELECT 6 AS clip_id, t,
        |    CAST(t*400003 - 1500000 AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(10)) AS t))
        |SELECT CAST(clip_id AS BIGINT) AS clip_id, CAST(t AS INT) AS t, value
        |FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2
        |      UNION ALL SELECT * FROM c3 UNION ALL SELECT * FROM c4
        |      UNION ALL SELECT * FROM c5 UNION ALL SELECT * FROM c6)""".stripMargin,

    // q260: the MS ADPCM state machine as a recursive CTE — the
    // truncating division spelled out (DuckDB // floors), the adapt
    // table as a list literal, header samples emitted oldest-first.
    "q260_ms_adpcm_decode" ->
      """WITH RECURSIVE ad AS (SELECT [230,230,230,230,307,409,512,614,
        |    768,614,512,409,307,230,230,230] AS tbl),
        |nib1 AS (SELECT i, CASE WHEN i % 2 = 0
        |      THEN (((i//2)*37 + 11) % 256) // 16
        |      ELSE (((i//2)*37 + 11) % 256) % 16 END AS n
        |  FROM (SELECT unnest(range(26)) AS i)),
        |dec1(s, s1, s2, dl) AS (
        |  SELECT 0, 500, -300, 32
        |  UNION ALL
        |  SELECT dec1.s + 1,
        |    GREATEST(-32768, LEAST(32767,
        |      (CASE WHEN dec1.s1*512 + dec1.s2*(-256) < 0
        |            THEN -((-(dec1.s1*512 + dec1.s2*(-256))) // 256)
        |            ELSE (dec1.s1*512 + dec1.s2*(-256)) // 256 END)
        |      + (CASE WHEN nib1.n >= 8 THEN nib1.n - 16 ELSE nib1.n END)
        |        * dec1.dl)),
        |    dec1.s1,
        |    GREATEST(16, (tbl[nib1.n + 1] * dec1.dl) // 256)
        |  FROM dec1, ad, nib1 WHERE nib1.i = dec1.s AND dec1.s < 26),
        |nib2 AS (SELECT c, f, CASE WHEN c = 0
        |      THEN ((f*91 + 5) % 256) // 16
        |      ELSE ((f*91 + 5) % 256) % 16 END AS n
        |  FROM (SELECT unnest(range(2)) AS c),
        |       (SELECT unnest(range(8)) AS f)),
        |dec2(c, c1, c2, s, s1, s2, dl) AS (
        |  SELECT * FROM (VALUES (0, 256, 0, 0, 800, -120, 40),
        |                        (1, 240, 0, 0, -650, 90, 25))
        |    t(c, c1, c2, s, s1, s2, dl)
        |  UNION ALL
        |  SELECT dec2.c, dec2.c1, dec2.c2, dec2.s + 1,
        |    GREATEST(-32768, LEAST(32767,
        |      (CASE WHEN dec2.s1*dec2.c1 + dec2.s2*dec2.c2 < 0
        |            THEN -((-(dec2.s1*dec2.c1 + dec2.s2*dec2.c2)) // 256)
        |            ELSE (dec2.s1*dec2.c1 + dec2.s2*dec2.c2) // 256 END)
        |      + (CASE WHEN nib2.n >= 8 THEN nib2.n - 16 ELSE nib2.n END)
        |        * dec2.dl)),
        |    dec2.s1,
        |    GREATEST(16, (tbl[nib2.n + 1] * dec2.dl) // 256)
        |  FROM dec2, ad, nib2
        |  WHERE nib2.c = dec2.c AND nib2.f = dec2.s AND dec2.s < 8)
        |SELECT CAST(clip_id AS BIGINT) AS clip_id, CAST(t AS INT) AS t,
        |       CAST(value AS DOUBLE) AS value
        |FROM (SELECT 1 AS clip_id, 0 AS t, -300 AS value
        |      UNION ALL SELECT 1, 1, 500
        |      UNION ALL SELECT 1, s + 1, s1 FROM dec1 WHERE s >= 1
        |      UNION ALL SELECT 2, c, s2 FROM dec2 WHERE s = 0
        |      UNION ALL SELECT 2, 2 + c, s1 FROM dec2 WHERE s = 0
        |      UNION ALL SELECT 2, (s + 1)*2 + c, s1 FROM dec2 WHERE s >= 1)""".stripMargin,

    // q259: the oracle replays the IMA state machine as a recursive
    // CTE — step table as a list literal, shift-add diff, both
    // clamps — over nibble streams derived from the byte formulas;
    // the stereo recursion carries the channel as a seed column.
    "q259_adpcm_decode" ->
      """WITH RECURSIVE st AS (SELECT [7,8,9,10,11,12,13,14,16,17,
        |  19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,
        |  130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,
        |  544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,
        |  1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,
        |  5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,
        |  16818,18500,20350,22385,24623,27086,29794,32767] AS tbl),
        |nib1 AS (SELECT i, CASE WHEN i % 2 = 0
        |      THEN (((i//2)*37 + 11) % 256) % 16
        |      ELSE (((i//2)*37 + 11) % 256) // 16 END AS n
        |  FROM (SELECT unnest(range(72)) AS i)),
        |dec1(s, pred, idx) AS (
        |  SELECT 0, 123, 17
        |  UNION ALL
        |  SELECT dec1.s + 1,
        |    GREATEST(-32768, LEAST(32767, dec1.pred +
        |      (CASE WHEN nib1.n >= 8 THEN -1 ELSE 1 END) *
        |      (tbl[dec1.idx+1]//8
        |       + CASE WHEN nib1.n % 8 >= 4 THEN tbl[dec1.idx+1] ELSE 0 END
        |       + CASE WHEN nib1.n % 4 >= 2 THEN tbl[dec1.idx+1]//2 ELSE 0 END
        |       + CASE WHEN nib1.n % 2 = 1 THEN tbl[dec1.idx+1]//4 ELSE 0 END))),
        |    GREATEST(0, LEAST(88, dec1.idx +
        |      ([-1,-1,-1,-1,2,4,6,8])[(nib1.n % 8) + 1]))
        |  FROM dec1, st, nib1 WHERE nib1.i = dec1.s AND dec1.s < 72),
        |nib2 AS (SELECT c, i,
        |    CASE WHEN i % 2 = 0 THEN by % 16 ELSE by // 16 END AS n
        |  FROM (SELECT c, i,
        |      (((((i//2)//4)*8 + c*4 + ((i//2) % 4))*53 + 7) % 256) AS by
        |    FROM (SELECT unnest(range(2)) AS c),
        |         (SELECT unnest(range(16)) AS i))),
        |dec2(c, s, pred, idx) AS (
        |  SELECT * FROM (VALUES (0, 0, 1000, 30), (1, 0, -800, 44))
        |    t(c, s, pred, idx)
        |  UNION ALL
        |  SELECT dec2.c, dec2.s + 1,
        |    GREATEST(-32768, LEAST(32767, dec2.pred +
        |      (CASE WHEN nib2.n >= 8 THEN -1 ELSE 1 END) *
        |      (tbl[dec2.idx+1]//8
        |       + CASE WHEN nib2.n % 8 >= 4 THEN tbl[dec2.idx+1] ELSE 0 END
        |       + CASE WHEN nib2.n % 4 >= 2 THEN tbl[dec2.idx+1]//2 ELSE 0 END
        |       + CASE WHEN nib2.n % 2 = 1 THEN tbl[dec2.idx+1]//4 ELSE 0 END))),
        |    GREATEST(0, LEAST(88, dec2.idx +
        |      ([-1,-1,-1,-1,2,4,6,8])[(nib2.n % 8) + 1]))
        |  FROM dec2, st, nib2
        |  WHERE nib2.c = dec2.c AND nib2.i = dec2.s AND dec2.s < 16)
        |SELECT CAST(clip_id AS BIGINT) AS clip_id, CAST(t AS INT) AS t,
        |       CAST(value AS DOUBLE) AS value
        |FROM (SELECT 1 AS clip_id, s AS t, pred AS value FROM dec1
        |      UNION ALL
        |      SELECT 2 AS clip_id, s*2 + c AS t, pred AS value FROM dec2)""".stripMargin,

    // q256: FLAC is lossless, so the oracle replays every decoded
    // sample straight from the generative integer formulas — it never
    // needs to know FLAC exists; the codec must be exactly invertible.
    "q256_flac_decode" ->
      """WITH c1 AS (SELECT 1 AS clip_id, t,
        |    CAST((t*37 + 11) % 4001 - 2000 AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(130)) AS t)),
        |c2 AS (SELECT 2 AS clip_id, t,
        |    CAST(((t*13 + 7) % 257 - 128) * 8 AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(64)) AS t)),
        |c3 AS (SELECT 3 AS clip_id, t,
        |    CAST(CASE WHEN t % 2 = 0 THEN (t//2*29 + 3) % 3001 - 1500
        |              ELSE (t//2*17 + 19) % 2501 - 1250 END AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(160)) AS t)),
        |c4 AS (SELECT 4 AS clip_id, t,
        |    CAST((t*400003 + 7) % 8388607 - 4194303 AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(200)) AS t)),
        |c5 AS (SELECT 5 AS clip_id, t,
        |    CAST((t*77 + 13) % 251 - 125 AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(64)) AS t)),
        |c6 AS (SELECT 6 AS clip_id, t,
        |    CAST(CASE WHEN t % 2 = 0 THEN (t//2*53 + 5) % 2001 - 1000
        |              ELSE (t//2*31 + 29) % 1801 - 900 END AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(120)) AS t))
        |SELECT CAST(clip_id AS BIGINT) AS clip_id, CAST(t AS INT) AS t, value
        |FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2
        |      UNION ALL SELECT * FROM c3 UNION ALL SELECT * FROM c4
        |      UNION ALL SELECT * FROM c5 UNION ALL SELECT * FROM c6)""".stripMargin,

    // q250: every decoded sample replayed — G.711 expansion in SQL
    // bit arithmetic (u-law: complement, 0x84 bias, exponent shift;
    // A-law: 0x55 toggle, segmented mantissa).
    "q250_wav_formats" ->
      """WITH t8 AS (SELECT 1 AS clip_id, t,
        |    CAST((t*37 + 5) % 256 - 128 AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(16)) AS t)),
        |t24 AS (SELECT 2 AS clip_id, t,
        |    CAST(t*400003 - 4000000 AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(20)) AS t)),
        |tf AS (SELECT 3 AS clip_id, t,
        |    CAST(t*0.25 - 100.0 AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(12)) AS t)),
        |mu0 AS (SELECT t, 255 - ((t*7 + 13) % 256) AS u
        |  FROM (SELECT unnest(range(24)) AS t)),
        |mu1 AS (SELECT t, u,
        |    ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8)) AS mag FROM mu0),
        |mu AS (SELECT 4 AS clip_id, t,
        |    CAST(CASE WHEN u >= 128 THEN 132 - mag ELSE mag - 132 END
        |      AS DOUBLE) AS value FROM mu1),
        |al0 AS (SELECT t, xor((t*11 + 5) % 256, 85) AS a
        |  FROM (SELECT unnest(range(24)) AS t)),
        |al1 AS (SELECT t, a, (a // 16) % 8 AS seg, (a % 16) * 16 AS t0
        |  FROM al0),
        |al2 AS (SELECT t, a,
        |    CASE WHEN seg = 0 THEN t0 + 8
        |         WHEN seg = 1 THEN t0 + 264
        |         ELSE (t0 + 264) * (1 << (seg - 1)) END AS mag FROM al1),
        |al AS (SELECT 5 AS clip_id, t,
        |    CAST(CASE WHEN a >= 128 THEN mag ELSE -mag END AS DOUBLE)
        |      AS value FROM al2),
        |xf AS (SELECT 6 AS clip_id, t,
        |    CAST(t*0.25 - 100.0 AS DOUBLE) AS value
        |  FROM (SELECT unnest(range(12)) AS t))
        |SELECT CAST(clip_id AS BIGINT) AS clip_id, CAST(t AS INT) AS t, value
        |FROM (SELECT * FROM t8 UNION ALL SELECT * FROM t24
        |      UNION ALL SELECT * FROM tf UNION ALL SELECT * FROM mu
        |      UNION ALL SELECT * FROM al UNION ALL SELECT * FROM xf)""".stripMargin,

    // q249: lossless codec — every channel value replayed from the
    // palette formula, animation compositing (rect offset +
    // transparent hole) expressed as a CASE over frame coordinates.
    "q249_gif_decode" ->
      """WITH pal AS (SELECT i,
        |    CAST((i*11) % 256 AS DOUBLE) AS r,
        |    CAST((i*29 + 3) % 256 AS DOUBLE) AS g,
        |    CAST((i*53 + 7) % 256 AS DOUBLE) AS b
        |  FROM (SELECT unnest(range(16)) AS i)),
        |imgs AS (SELECT * FROM (VALUES (1, 13, 9), (2, 16, 11))
        |           t(image_id, w, h)),
        |yy AS (SELECT image_id, w, h, unnest(range(h)) AS y FROM imgs),
        |xx AS (SELECT image_id, w, y, unnest(range(w)) AS x FROM yy),
        |st AS (SELECT image_id, 0 AS frame_idx, w, x, y,
        |         (x*3 + y*7) % 16 AS i FROM xx),
        |a0 AS (SELECT y, unnest(range(8)) AS x
        |       FROM (SELECT unnest(range(6)) AS y)),
        |an AS (SELECT 3 AS image_id, f AS frame_idx, 8 AS w, x, y,
        |         CASE WHEN f = 1 AND x BETWEEN 2 AND 5 AND y BETWEEN 1 AND 3
        |                   AND ((x-2)*5 + (y-1)) % 16 <> 7
        |              THEN ((x-2)*5 + (y-1)) % 16
        |              ELSE (x + y) % 16 END AS i
        |       FROM a0, (SELECT unnest([0, 1]) AS f)),
        |a4 AS (SELECT 4 AS image_id, f AS frame_idx, 8 AS w, x, y,
        |         CASE WHEN f = 1 AND x BETWEEN 2 AND 5 AND y BETWEEN 1 AND 3
        |              THEN ((x-2)*5 + (y-1)) % 16
        |              WHEN f = 2 AND x BETWEEN 1 AND 3 AND y BETWEEN 2 AND 3
        |              THEN ((x-1)*7 + (y-2)*3 + 2) % 16
        |              ELSE (x + y) % 16 END AS i
        |       FROM a0, (SELECT unnest([0, 1, 2]) AS f)),
        |allpx AS (SELECT * FROM st UNION ALL SELECT * FROM an
        |          UNION ALL SELECT * FROM a4),
        |cc AS (SELECT image_id, frame_idx, w, x, y, i,
        |         unnest(range(3)) AS c FROM allpx)
        |SELECT CAST(cc.image_id AS BIGINT) AS image_id,
        |  CAST(frame_idx AS INT) AS frame_idx,
        |  CAST((y * w + x) * 3 + c AS INT) AS pos,
        |  CASE WHEN c = 0 THEN pal.r WHEN c = 1 THEN pal.g
        |       ELSE pal.b END AS value
        |FROM cc JOIN pal ON pal.i = cc.i""".stripMargin,

    // q258: lossless WebP — the oracle replays every channel from the
    // pixel formulas; the codec (prefix codes, LZ77, cache, all four
    // transforms, meta groups) must be exactly invertible.
    "q258_vp8l_decode" ->
      """WITH imgs AS (SELECT * FROM (VALUES (1, 13, 9), (3, 19, 12))
        |    t(image_id, w, h)),
        |yy AS (SELECT image_id, w, h, unnest(range(h)) AS y FROM imgs),
        |xx AS (SELECT image_id, w, y, unnest(range(w)) AS x FROM yy),
        |cc AS (SELECT image_id, w, y, x, unnest(range(3)) AS c FROM xx),
        |plain AS (SELECT image_id, CAST((y*w + x)*3 + c AS INT) AS pos,
        |    CAST(CASE WHEN c = 0 THEN (x*7 + y*13) % 256
        |              WHEN c = 1 THEN (x*3 + y*5 + 17) % 256
        |              ELSE (x + y*2 + 101) % 256 END AS DOUBLE) AS value
        |  FROM cc),
        |r0 AS (SELECT unnest(range(18)) AS y),
        |r1 AS (SELECT y, unnest(range(24)) AS x FROM r0),
        |r2 AS (SELECT y, x, unnest(range(3)) AS c FROM r1),
        |runs AS (SELECT 2 AS image_id, CAST((y*24 + x)*3 + c AS INT) AS pos,
        |    CAST(CASE WHEN c = 0 THEN ((x//7)*31) % 256
        |              WHEN c = 1 THEN ((y//3)*53) % 256
        |              ELSE 77 END AS DOUBLE) AS value
        |  FROM r2),
        |pal AS (SELECT i, CAST((i*37 + 11) % 256 AS DOUBLE) AS r,
        |    CAST((i*73 + 5) % 256 AS DOUBLE) AS g,
        |    CAST((i*151 + 97) % 256 AS DOUBLE) AS b
        |  FROM (SELECT unnest(range(4)) AS i)),
        |p0 AS (SELECT unnest(range(8)) AS y),
        |p1 AS (SELECT y, unnest(range(15)) AS x FROM p0),
        |p2 AS (SELECT y, x, unnest(range(3)) AS c,
        |    CASE WHEN y = 0 AND x < 4 THEN x ELSE (x*3 + y*7) % 4 END AS i
        |  FROM p1),
        |palpx AS (SELECT 4 AS image_id, CAST((y*15 + x)*3 + c AS INT) AS pos,
        |    CASE WHEN c = 0 THEN pal.r WHEN c = 1 THEN pal.g
        |         ELSE pal.b END AS value
        |  FROM p2 JOIN pal ON pal.i = p2.i),
        |m0 AS (SELECT unnest(range(12)) AS y),
        |m1 AS (SELECT y, unnest(range(32)) AS x FROM m0),
        |m2 AS (SELECT y, x, unnest(range(3)) AS c FROM m1),
        |meta AS (SELECT 5 AS image_id, CAST((y*32 + x)*3 + c AS INT) AS pos,
        |    CAST(CASE WHEN x < 16 AND c = 0 THEN (x + y) % 4
        |              WHEN x < 16 AND c = 1 THEN (x * y) % 4
        |              WHEN x < 16 THEN 3
        |              WHEN c = 0 THEN (x*31 + y*7) % 256
        |              WHEN c = 1 THEN (x*13 + y*3) % 256
        |              ELSE (x + y) % 256 END AS DOUBLE) AS value
        |  FROM m2)
        |SELECT CAST(image_id AS BIGINT) AS image_id, pos, value
        |FROM (SELECT * FROM plain UNION ALL SELECT * FROM runs
        |      UNION ALL SELECT * FROM palpx UNION ALL SELECT * FROM meta)""".stripMargin,

    // q257: lossless at every depth — raw samples replay as the
    // generative formula mod 2^depth; palette entries re-derived.
    "q257_png_depths" ->
      """WITH gimgs AS (SELECT * FROM (VALUES (1, 13, 9, 2), (2, 11, 7, 4),
        |    (3, 10, 8, 16), (4, 9, 6, 65536)) t(image_id, w, h, m)),
        |gy AS (SELECT image_id, w, h, m, unnest(range(h)) AS y FROM gimgs),
        |gx AS (SELECT image_id, w, m, y, unnest(range(w)) AS x FROM gy),
        |gc AS (SELECT image_id, w, m, y, x, unnest(range(3)) AS c FROM gx),
        |gray AS (SELECT image_id, CAST((y*w + x)*3 + c AS INT) AS pos,
        |    CAST((x*7 + y*3 + 1) % m AS DOUBLE) AS value FROM gc),
        |t5y AS (SELECT unnest(range(6)) AS y),
        |t5x AS (SELECT y, unnest(range(11)) AS x FROM t5y),
        |t5c AS (SELECT y, x, unnest(range(3)) AS c FROM t5x),
        |tc AS (SELECT 5 AS image_id, CAST((y*11 + x)*3 + c AS INT) AS pos,
        |    CAST(CASE WHEN c = 0 THEN (x*2021 + y*977) % 65536
        |              WHEN c = 1 THEN (x*313 + y*57 + 40000) % 65536
        |              ELSE (x + y*4099 + 7) % 65536 END AS DOUBLE) AS value
        |  FROM t5c),
        |pal AS (SELECT i, CAST((i*11) % 256 AS DOUBLE) AS r,
        |    CAST((i*29 + 3) % 256 AS DOUBLE) AS g,
        |    CAST((i*53 + 7) % 256 AS DOUBLE) AS b
        |  FROM (SELECT unnest(range(4)) AS i)),
        |p6y AS (SELECT unnest(range(7)) AS y),
        |p6x AS (SELECT y, unnest(range(10)) AS x FROM p6y),
        |p6c AS (SELECT y, x, unnest(range(3)) AS c,
        |    (x*3 + y*5) % 4 AS i FROM p6x),
        |p6 AS (SELECT 6 AS image_id, CAST((y*10 + x)*3 + c AS INT) AS pos,
        |    CASE WHEN c = 0 THEN pal.r WHEN c = 1 THEN pal.g
        |         ELSE pal.b END AS value
        |  FROM p6c JOIN pal ON pal.i = p6c.i)
        |SELECT CAST(image_id AS BIGINT) AS image_id, pos, value
        |FROM (SELECT * FROM gray UNION ALL SELECT * FROM tc
        |      UNION ALL SELECT * FROM p6)""".stripMargin,

    // q247: lossless codec — the oracle replays every channel value
    // from the generative formula; interlacing must be invisible.
    "q247_png_adam7" ->
      """WITH imgs AS (SELECT * FROM (VALUES (1, 16, 11), (2, 7, 5),
        |                                    (3, 9, 12)) t(image_id, w, h)),
        |yy AS (SELECT image_id, w, h, unnest(range(h)) AS y FROM imgs),
        |xx AS (SELECT image_id, w, y, unnest(range(w)) AS x FROM yy),
        |cc AS (SELECT image_id, w, y, x, unnest(range(3)) AS c FROM xx),
        |tc AS (SELECT image_id, CAST((y * w + x) * 3 + c AS INT) AS pos,
        |  CAST(CASE WHEN c = 0 THEN (x*7 + y*13) % 256
        |            WHEN c = 1 THEN (x*3 + y*5 + 17) % 256
        |            ELSE (x + y*2 + 101) % 256 END AS DOUBLE) AS value
        |FROM cc),
        |gimgs AS (SELECT * FROM (VALUES (4, 11, 7), (5, 6, 8))
        |            t(image_id, w, h)),
        |gy AS (SELECT image_id, w, h, unnest(range(h)) AS y FROM gimgs),
        |gx AS (SELECT image_id, w, y, unnest(range(w)) AS x FROM gy),
        |gc AS (SELECT image_id, w, y, x, unnest(range(3)) AS c FROM gx),
        |gr AS (SELECT image_id, CAST((y * w + x) * 3 + c AS INT) AS pos,
        |  CAST((x*9 + y*5 + 31) % 256 AS DOUBLE) AS value
        |FROM gc)
        |SELECT image_id, pos, value FROM tc
        |UNION ALL SELECT image_id, pos, value FROM gr""".stripMargin,

    // q244: the image-id set pinned exactly; the parity boolean is the
    // Spark-side claim (lossy hash value is oracle-opaque).
    "q244_jpeg_phash_parity" ->
      """SELECT doc_id AS image_id, TRUE AS phash_within_6_bits
        |FROM documents WHERE doc_id < 60""".stripMargin,

    // q245: value count exact from the dims; the error bound and the
    // progressive==sequential equality are Spark-side CHECKS (the
    // q242 envelope pattern for a lossy codec).
    "q245_jpeg_modes" ->
      """WITH imgs AS (SELECT * FROM (VALUES (1, 20, 14), (2, 15, 18),
        |                                    (3, 22, 17)) t(image_id, w, h))
        |SELECT CAST(image_id AS BIGINT) AS image_id,
        |  CAST(w * h * 3 AS BIGINT) AS n_values,
        |  TRUE AS max_err_le_10, TRUE AS prog_equals_seq
        |FROM imgs""".stripMargin,

    // q242: value count exact from the dims; error booleans are claims
    // the Spark side CHECKS against the generative plane (the q29/q36
    // envelope pattern for a lossy codec).
    "q242_jpeg_decode" ->
      """WITH imgs AS (SELECT * FROM (VALUES (1, 24, 16), (2, 17, 13),
        |                                    (3, 24, 24)) t(image_id, w, h))
        |SELECT CAST(image_id AS BIGINT) AS image_id,
        |  CAST(w * h * 3 AS BIGINT) AS n_values,
        |  TRUE AS max_err_le_6, TRUE AS mean_err_le_2
        |FROM imgs""".stripMargin,

    "q212_wav_spectral" ->
      """WITH clips AS (SELECT * FROM (VALUES (1, 1000, 37, 0),
        |    (2, 1024, 53, 11), (3, 250, 91, 7)) t(clip_id, n, a, b)),
        |s0 AS (SELECT clip_id, n, a, b, unnest(range(n)) AS t FROM clips),
        |sv AS (SELECT clip_id, n, t,
        |    ((t*a + b) % 2001) - 1000 AS s FROM s0),
        |ks AS (SELECT unnest([0, 1, 2, 3]) AS k),
        |term AS (SELECT clip_id, n, k, t, s,
        |    2 * pi() * k * t / n AS arg FROM sv, ks),
        |ag AS (SELECT clip_id, n, k,
        |    CAST(SUM(CAST(round(CAST(s AS DOUBLE) * round(cos(arg), 9), 9)
        |      AS DECIMAL(38,9))) AS DOUBLE) AS re,
        |    CAST(SUM(CAST(round(CAST(s AS DOUBLE) * (-round(sin(arg), 9)), 9)
        |      AS DECIMAL(38,9))) AS DOUBLE) AS im
        |  FROM term GROUP BY 1, 2, 3)
        |SELECT CAST(clip_id AS BIGINT) AS clip_id, n, k,
        |  round(re, 4) AS sp_re, round(im, 4) AS sp_im,
        |  round(round(re, 4)*round(re, 4) + round(im, 4)*round(im, 4), 3)
        |    AS power
        |FROM ag""".stripMargin,

    "q210_kendall_tau" ->
      """WITH vals AS (SELECT round(CAST(l_quantity AS DOUBLE), 6) AS x,
        |    round(CAST(l_discount AS DOUBLE), 6) AS y
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL),
        |cells AS (SELECT x, y, COUNT(*) AS nij FROM vals GROUP BY 1, 2),
        |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cells FROM cells),
        |p AS (SELECT
        |    CAST(SUM(CASE WHEN a.y < b.y
        |      THEN CAST(a.nij AS DECIMAL(19,0)) * CAST(b.nij AS DECIMAL(19,0))
        |      ELSE 0 END) AS BIGINT) AS n_c,
        |    CAST(SUM(CASE WHEN a.y > b.y
        |      THEN CAST(a.nij AS DECIMAL(19,0)) * CAST(b.nij AS DECIMAL(19,0))
        |      ELSE 0 END) AS BIGINT) AS n_d
        |  FROM cells a JOIN cells b ON a.x < b.x),
        |txg AS (SELECT x, SUM(nij) AS t FROM cells GROUP BY 1),
        |tx AS (SELECT SUM(CAST(t AS DECIMAL(19,0))
        |      * (CAST(t AS DECIMAL(19,0)) - 1)) AS tx2,
        |    CAST(SUM(t) AS BIGINT) AS n FROM txg),
        |tyg AS (SELECT y, SUM(nij) AS t FROM cells GROUP BY 1),
        |ty AS (SELECT SUM(CAST(t AS DECIMAL(19,0))
        |      * (CAST(t AS DECIMAL(19,0)) - 1)) AS ty2 FROM tyg)
        |SELECT tx.n, nc.n_cells, p.n_c, p.n_d,
        |  round((CAST(p.n_c AS DOUBLE) - CAST(p.n_d AS DOUBLE))
        |    / sqrt((CAST(CAST(tx.n AS DECIMAL(19,0))
        |          * (CAST(tx.n AS DECIMAL(19,0)) - 1) - tx.tx2 AS DOUBLE)
        |        / 2.0)
        |      * (CAST(CAST(tx.n AS DECIMAL(19,0))
        |          * (CAST(tx.n AS DECIMAL(19,0)) - 1) - ty.ty2 AS DOUBLE)
        |        / 2.0)), 6) AS tau_b
        |FROM p, tx, ty, nc""".stripMargin,

    "q211_bmp_resize" -> {
      def px(x: String, y: String) =
        s"CAST(CASE WHEN c = 0 THEN (($x)*7 + ($y)*13) % 256 " +
          s"WHEN c = 1 THEN (($x)*3 + ($y)*5 + 17) % 256 " +
          s"ELSE (($x) + ($y)*2 + 101) % 256 END AS DOUBLE)"
      s"""WITH imgs AS (SELECT * FROM (VALUES (1, 8, 5), (2, 16, 9),
         |                                    (3, 7, 3)) t(image_id, w, h)),
         |uu AS (SELECT image_id, w, h, unnest(range(4)) AS v FROM imgs),
         |uv AS (SELECT image_id, w, h, v, unnest(range(4)) AS u FROM uu),
         |uvc AS (SELECT image_id, w, h, v, u, unnest(range(3)) AS c
         |        FROM uv),
         |g AS (SELECT image_id, w, h, u, v, c,
         |    greatest(0.0, least(CAST(h AS DOUBLE) - 1.0,
         |      (CAST(v AS DOUBLE) + 0.5) * CAST(h AS DOUBLE) / 4.0 - 0.5))
         |      AS syc,
         |    greatest(0.0, least(CAST(w AS DOUBLE) - 1.0,
         |      (CAST(u AS DOUBLE) + 0.5) * CAST(w AS DOUBLE) / 4.0 - 0.5))
         |      AS sxc
         |  FROM uvc),
         |q AS (SELECT image_id, w, h, u, v, c,
         |    CAST(floor(syc) AS BIGINT) AS y0,
         |    CAST(floor(sxc) AS BIGINT) AS x0,
         |    syc - CAST(floor(syc) AS BIGINT) AS fy,
         |    sxc - CAST(floor(sxc) AS BIGINT) AS fx,
         |    least(h - 1, CAST(floor(syc) AS BIGINT) + 1) AS y1,
         |    least(w - 1, CAST(floor(sxc) AS BIGINT) + 1) AS x1
         |  FROM g),
         |r AS (SELECT image_id, u, v, c,
         |    (1 - fy) * ((1 - fx) * ${px("x0", "y0")}
         |      + fx * ${px("x1", "y0")})
         |    + fy * ((1 - fx) * ${px("x0", "y1")}
         |      + fx * ${px("x1", "y1")}) AS val
         |  FROM q)
         |SELECT image_id, CAST((v*4 + u)*3 + c AS INT) AS pos,
         |  round(CAST(CAST(val AS FLOAT) AS DOUBLE), 4) AS value
         |FROM r""".stripMargin
    },

    "q207_assoc_rules" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS bk,
        |    l_partkey % 50 AS it
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |nb AS (SELECT COUNT(DISTINCT bk) AS nbk FROM items),
        |marg AS (SELECT it, COUNT(*) AS n FROM items GROUP BY 1),
        |p AS (SELECT a.it AS item_a, b.it AS item_b, COUNT(*) AS n_ab
        |  FROM items a JOIN items b ON a.bk = b.bk AND a.it < b.it
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 20)
        |SELECT item_a, item_b, CAST(n_ab AS BIGINT) AS n_ab,
        |  CAST(ma.n AS BIGINT) AS n_a, CAST(mb.n AS BIGINT) AS n_b,
        |  round(CAST(n_ab AS DOUBLE) / CAST(nbk AS DOUBLE), 6) AS support,
        |  round(CAST(n_ab AS DOUBLE) / CAST(ma.n AS DOUBLE), 6)
        |    AS conf_a_b,
        |  round(CAST(n_ab AS DOUBLE) * CAST(nbk AS DOUBLE)
        |    / (CAST(ma.n AS DOUBLE) * CAST(mb.n AS DOUBLE)), 6) AS lift
        |FROM p JOIN marg ma ON p.item_a = ma.it
        |       JOIN marg mb ON p.item_b = mb.it, nb""".stripMargin,

    "q208_partial_corr" ->
      """WITH d AS (SELECT
        |    CAST(round(CAST(l_quantity AS DOUBLE) * 1000000.0, 0)
        |         AS DECIMAL(19,0)) AS x,
        |    CAST(round(CAST(l_extendedprice AS DOUBLE) * 1000000.0, 0)
        |         AS DECIMAL(19,0)) AS y,
        |    CAST(round(CAST(l_discount AS DOUBLE) * 1000000.0, 0)
        |         AS DECIMAL(19,0)) AS z
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |    AND l_discount IS NOT NULL),
        |m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(x) AS DOUBLE) / 1000000.0 AS sx,
        |    CAST(SUM(y) AS DOUBLE) / 1000000.0 AS sy,
        |    CAST(SUM(z) AS DOUBLE) / 1000000.0 AS sz,
        |    CAST(SUM(x*x) AS DOUBLE) / 1000000000000.0 AS sxx,
        |    CAST(SUM(y*y) AS DOUBLE) / 1000000000000.0 AS syy,
        |    CAST(SUM(z*z) AS DOUBLE) / 1000000000000.0 AS szz,
        |    CAST(SUM(x*y) AS DOUBLE) / 1000000000000.0 AS sxy,
        |    CAST(SUM(x*z) AS DOUBLE) / 1000000000000.0 AS sxz,
        |    CAST(SUM(y*z) AS DOUBLE) / 1000000000000.0 AS syz
        |  FROM d),
        |r AS (SELECT CAST(n AS BIGINT) AS n,
        |    (n*sxy - sx*sy) / sqrt((n*sxx - sx*sx)*(n*syy - sy*sy)) AS rxy,
        |    (n*sxz - sx*sz) / sqrt((n*sxx - sx*sx)*(n*szz - sz*sz)) AS rxz,
        |    (n*syz - sy*sz) / sqrt((n*syy - sy*sy)*(n*szz - sz*sz)) AS ryz
        |  FROM m)
        |SELECT n, round(rxy, 6) AS r_xy, round(rxz, 6) AS r_xz,
        |  round(ryz, 6) AS r_yz,
        |  round((rxy - rxz*ryz)
        |    / sqrt((1 - rxz*rxz)*(1 - ryz*ryz)), 6) AS r_xy_z
        |FROM r""".stripMargin,

    "q209_levene" ->
      """WITH r AS (SELECT CAST(l_returnflag AS VARCHAR) AS g,
        |    CAST(round(CAST(l_extendedprice AS DOUBLE) * 1000000.0, 0)
        |         AS DECIMAL(19,0)) AS xq
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL),
        |mn AS (SELECT g, COUNT(*) AS nj,
        |    round(CAST(SUM(xq) AS DOUBLE) / 1000000.0
        |      / CAST(COUNT(*) AS DOUBLE), 9) AS mj
        |  FROM r GROUP BY 1),
        |gg AS (SELECT r.g, nj,
        |    CAST(SUM(CAST(round(abs(CAST(xq AS DOUBLE)/1000000.0 - mj), 9)
        |      AS DECIMAL(38,9))) AS DOUBLE) AS szj,
        |    CAST(SUM(CAST(round(abs(CAST(xq AS DOUBLE)/1000000.0 - mj)
        |        * abs(CAST(xq AS DOUBLE)/1000000.0 - mj), 9)
        |      AS DECIMAL(38,9))) AS DOUBLE) AS szzj
        |  FROM r JOIN mn USING (g) GROUP BY 1, 2),
        |g2 AS (SELECT g, nj, szj, szzj,
        |    round(szj / CAST(nj AS DOUBLE), 9) AS zbarj FROM gg),
        |t AS (SELECT SUM(nj) AS nn, COUNT(*) AS k,
        |    CAST(SUM(CAST(round(szj, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sz
        |  FROM g2),
        |z AS (SELECT g2.*, t.nn, t.k,
        |    round(t.sz / CAST(t.nn AS DOUBLE), 9) AS zbar FROM g2, t)
        |SELECT CAST(nn AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
        |  round((CAST(nn - k AS DOUBLE) / CAST(k - 1 AS DOUBLE))
        |    * (CAST(SUM(CAST(round(CAST(nj AS DOUBLE)
        |          * ((zbarj - zbar)*(zbarj - zbar)), 9)
        |        AS DECIMAL(38,9))) AS DOUBLE)
        |      / CAST(SUM(CAST(round(szzj - CAST(nj AS DOUBLE)
        |          * (zbarj*zbarj), 9)
        |        AS DECIMAL(38,9))) AS DOUBLE)), 6) AS w
        |FROM z GROUP BY nn, k""".stripMargin,

    "q206_influence" ->
      """WITH d AS (SELECT l_orderkey*10 + l_linenumber AS rid,
        |    CAST(round(CAST(l_extendedprice AS DOUBLE) * 1000000.0, 0)
        |         AS DECIMAL(19,0)) AS yq,
        |    CAST(round(CAST(l_quantity AS DOUBLE) * 1000000.0, 0)
        |         AS DECIMAL(19,0)) AS x1q,
        |    CAST(round(CAST(l_discount AS DOUBLE) * 1000000.0, 0)
        |         AS DECIMAL(19,0)) AS x2q
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        |    AND l_discount IS NOT NULL),
        |m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(x1q) AS DOUBLE) / 1000000.0 AS s1,
        |    CAST(SUM(x2q) AS DOUBLE) / 1000000.0 AS s2,
        |    CAST(SUM(yq) AS DOUBLE) / 1000000.0 AS sy,
        |    CAST(SUM(x1q*x1q) AS DOUBLE) / 1000000000000.0 AS s11,
        |    CAST(SUM(x1q*x2q) AS DOUBLE) / 1000000000000.0 AS s12,
        |    CAST(SUM(x2q*x2q) AS DOUBLE) / 1000000000000.0 AS s22,
        |    CAST(SUM(x1q*yq) AS DOUBLE) / 1000000000000.0 AS s1y,
        |    CAST(SUM(x2q*yq) AS DOUBLE) / 1000000000000.0 AS s2y,
        |    CAST(SUM(yq*yq) AS DOUBLE) / 1000000000000.0 AS syy
        |  FROM d),
        |dm AS (SELECT m.*, n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
        |    + s2*(s1*s12 - s11*s2) AS det FROM m),
        |st AS (SELECT n, sy, s1y, s2y, syy,
        |    (sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)
        |      + s2*(s1y*s12 - s11*s2y)) / det AS b0,
        |    (n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2)
        |      + s2*(s1*s2y - s1y*s2)) / det AS b1,
        |    (n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)
        |      + sy*(s1*s12 - s11*s2)) / det AS b2,
        |    (s11*s22 - s12*s12) / det AS a00,
        |    -(s1*s22 - s12*s2) / det AS a01,
        |    (s1*s12 - s11*s2) / det AS a02,
        |    (n*s22 - s2*s2) / det AS a11,
        |    -(n*s12 - s1*s2) / det AS a12,
        |    (n*s11 - s1*s1) / det AS a22
        |  FROM dm),
        |sm AS (SELECT st.*,
        |    (syy - b0*sy - b1*s1y - b2*s2y) / (n - 3) AS mse FROM st),
        |sc AS (SELECT d.rid,
        |    CAST(d.x1q AS DOUBLE)/1000000.0 AS x1,
        |    CAST(d.x2q AS DOUBLE)/1000000.0 AS x2,
        |    CAST(d.yq AS DOUBLE)/1000000.0 AS y, sm.*
        |  FROM d, sm),
        |eh AS (SELECT rid,
        |    y - (b0 + b1*x1 + b2*x2) AS e,
        |    a00 + 2*a01*x1 + 2*a02*x2 + a11*x1*x1
        |      + 2*a12*x1*x2 + a22*x2*x2 AS h, mse
        |  FROM sc),
        |cd AS (SELECT rid, e, h,
        |    (e*e*h) / (3*mse*(1-h)*(1-h)) AS dd FROM eh)
        |SELECT rid, round(e, 6) AS residual, round(h, 6) AS leverage,
        |  round(dd, 6) AS cooks_d
        |FROM cd ORDER BY dd DESC, rid ASC LIMIT 20""".stripMargin,

    "q205_exact_quantiles" ->
      """WITH v AS (SELECT round(CAST(o_totalprice AS DOUBLE), 6) AS v
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |c AS (SELECT v, COUNT(*) AS cnt FROM v GROUP BY 1),
        |r AS (SELECT v, cnt,
        |    SUM(cnt) OVER (ORDER BY v) - cnt AS below FROM c),
        |n AS (SELECT SUM(cnt) AS nn FROM c),
        |qs AS (SELECT unnest([CAST(0.1 AS DOUBLE), CAST(0.25 AS DOUBLE),
        |    CAST(0.5 AS DOUBLE), CAST(0.75 AS DOUBLE), CAST(0.9 AS DOUBLE),
        |    CAST(0.99 AS DOUBLE)]) AS q),
        |t AS (SELECT q, greatest(least(CAST(ceil(q * nn) AS BIGINT),
        |    CAST(nn AS BIGINT)), 1) AS k FROM qs, n)
        |SELECT t.q, t.k, r.v AS value
        |FROM r, t WHERE r.below < t.k AND t.k <= r.below + r.cnt""".stripMargin,

    "q204_hits" ->
      """WITH e AS (SELECT DISTINCT CAST(o_custkey % 500 AS BIGINT) AS src,
        |    CAST(1000000 + o_orderkey % 300 AS BIGINT) AS dst FROM orders),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |a1r AS (SELECT dst AS node,
        |    SUM(CAST(round(1.0 * 1e15, 0) AS DECIMAL(38,0))) AS aq
        |  FROM e GROUP BY 1),
        |a1m AS (SELECT MAX(aq) AS mx FROM a1r),
        |a1 AS (SELECT n.node, round(COALESCE(CAST(aq AS DOUBLE), 0.0)
        |    / CAST(mx AS DOUBLE), 9) AS a
        |  FROM nodes n LEFT JOIN a1r ON n.node = a1r.node, a1m),
        |h1r AS (SELECT e.src AS node,
        |    SUM(CAST(round(a1.a * 1e15, 0) AS DECIMAL(38,0))) AS hq
        |  FROM e JOIN a1 ON e.dst = a1.node GROUP BY 1),
        |h1m AS (SELECT MAX(hq) AS mx FROM h1r),
        |h1 AS (SELECT n.node, round(COALESCE(CAST(hq AS DOUBLE), 0.0)
        |    / CAST(mx AS DOUBLE), 9) AS h
        |  FROM nodes n LEFT JOIN h1r ON n.node = h1r.node, h1m),
        |a2r AS (SELECT e.dst AS node,
        |    SUM(CAST(round(h1.h * 1e15, 0) AS DECIMAL(38,0))) AS aq
        |  FROM e JOIN h1 ON e.src = h1.node GROUP BY 1),
        |a2m AS (SELECT MAX(aq) AS mx FROM a2r),
        |a2 AS (SELECT n.node, round(COALESCE(CAST(aq AS DOUBLE), 0.0)
        |    / CAST(mx AS DOUBLE), 9) AS a
        |  FROM nodes n LEFT JOIN a2r ON n.node = a2r.node, a2m),
        |h2r AS (SELECT e.src AS node,
        |    SUM(CAST(round(a2.a * 1e15, 0) AS DECIMAL(38,0))) AS hq
        |  FROM e JOIN a2 ON e.dst = a2.node GROUP BY 1),
        |h2m AS (SELECT MAX(hq) AS mx FROM h2r),
        |h2 AS (SELECT n.node, round(COALESCE(CAST(hq AS DOUBLE), 0.0)
        |    / CAST(mx AS DOUBLE), 9) AS h
        |  FROM nodes n LEFT JOIN h2r ON n.node = h2r.node, h2m)
        |SELECT h2.node, round(h2.h, 6) AS hub, round(a2.a, 6) AS authority
        |FROM h2 JOIN a2 ON h2.node = a2.node""".stripMargin,

    "q200_mann_whitney" ->
      """WITH v AS (SELECT round(CAST(l_quantity AS DOUBLE), 6) AS v,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS g
        |  FROM lineitem WHERE l_quantity IS NOT NULL),
        |c AS (SELECT v, COUNT(*) AS cnt, SUM(g) AS c1 FROM v GROUP BY 1),
        |r AS (SELECT v, cnt, c1,
        |    SUM(cnt) OVER (ORDER BY v) - cnt AS below FROM c),
        |m AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
        |    CAST(SUM(cnt - c1) AS BIGINT) AS n2,
        |    CAST(SUM(c1*(2*below + cnt + 1)) AS DOUBLE) AS r1x2,
        |    CAST(SUM(cnt*cnt*cnt - cnt) AS DOUBLE) AS ties
        |  FROM r),
        |u AS (SELECT n1, n2, ties,
        |    r1x2 / 2.0 - CAST(n1 AS DOUBLE)
        |      * (CAST(n1 AS DOUBLE) + 1.0) / 2.0 AS u1,
        |    CAST(n1 + n2 AS DOUBLE) AS nn
        |  FROM m)
        |SELECT n1, n2, round(u1, 1) AS u1,
        |  round(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) - u1, 1) AS u2,
        |  round((u1 - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
        |    / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
        |      * ((nn + 1.0) - ties / (nn * (nn - 1.0)))), 6) AS z
        |FROM u""".stripMargin,

    "q218_chi_square" ->
      """WITH cells AS (SELECT CAST(c_mktsegment AS VARCHAR) AS a,
        |    CAST(c_nationkey AS VARCHAR) AS b, COUNT(*) AS nij
        |  FROM customer
        |  WHERE c_mktsegment IS NOT NULL AND c_nationkey IS NOT NULL
        |  GROUP BY 1, 2),
        |rm AS (SELECT a, CAST(SUM(nij) AS BIGINT) AS ri FROM cells GROUP BY 1),
        |cm AS (SELECT b, CAST(SUM(nij) AS BIGINT) AS cj FROM cells GROUP BY 1),
        |t AS (SELECT CAST(SUM(nij) AS BIGINT) AS n,
        |    CAST(COUNT(DISTINCT a) AS BIGINT) AS r,
        |    CAST(COUNT(DISTINCT b) AS BIGINT) AS c FROM cells),
        |j AS (SELECT nij, CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS e, n, r, c
        |  FROM cells JOIN rm USING (a) JOIN cm USING (b), t),
        |x AS (SELECT ANY_VALUE(n) AS n, ANY_VALUE(r) AS r,
        |    ANY_VALUE(c) AS c,
        |    CAST(SUM(CAST(round((CAST(nij AS DOUBLE) - e)
        |        * (CAST(nij AS DOUBLE) - e) / e, 9)
        |      AS DECIMAL(38,9))) AS DOUBLE) AS chi2raw
        |  FROM j)
        |SELECT n, r, c, CAST((r-1)*(c-1) AS BIGINT) AS dof,
        |  CASE WHEN least(r-1, c-1) > 0 THEN round(chi2raw, 6) END AS chi2,
        |  CASE WHEN least(r-1, c-1) > 0 THEN
        |    round(sqrt(chi2raw / (CAST(n AS DOUBLE)
        |      * CAST(least(r-1, c-1) AS DOUBLE))), 6) END AS cramers_v
        |FROM x""".stripMargin,

    "q219_anova" ->
      """WITH r AS (SELECT CAST(l_returnflag AS VARCHAR) AS g,
        |    CAST(round(CAST(l_extendedprice AS DOUBLE) * 1000000.0, 0)
        |         AS DECIMAL(19,0)) AS xq
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL),
        |g1 AS (SELECT g, COUNT(*) AS nj,
        |    CAST(SUM(xq) AS DECIMAL(38,0)) AS sj,
        |    CAST(SUM(xq*xq) AS DECIMAL(38,0)) AS sjj FROM r GROUP BY 1),
        |g2 AS (SELECT g, nj, sj, sjj,
        |    round(CAST(sj AS DOUBLE) / 1000000.0 / CAST(nj AS DOUBLE), 9)
        |      AS mj FROM g1),
        |t AS (SELECT CAST(SUM(nj) AS BIGINT) AS nn, COUNT(*) AS k,
        |    CAST(SUM(sj) AS DECIMAL(38,0)) AS s FROM g2),
        |z AS (SELECT g2.*, t.nn, t.k,
        |    round(CAST(t.s AS DOUBLE) / 1000000.0 / CAST(t.nn AS DOUBLE), 9)
        |      AS m FROM g2, t),
        |w AS (SELECT nn, k,
        |    CAST(SUM(CAST(round(CAST(nj AS DOUBLE) * ((mj - m)*(mj - m)), 9)
        |      AS DECIMAL(38,9))) AS DOUBLE) AS ssb,
        |    CAST(SUM(CAST(round(CAST(sjj AS DOUBLE)/1000000000000.0
        |        - CAST(nj AS DOUBLE)*(mj*mj), 9)
        |      AS DECIMAL(38,9))) AS DOUBLE) AS ssw
        |  FROM z GROUP BY nn, k)
        |SELECT CAST(nn AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
        |  round(ssb, 6) AS ss_between, round(ssw, 6) AS ss_within,
        |  CASE WHEN k > 1 AND ssw <> 0.0 THEN
        |    round((ssb / CAST(k - 1 AS DOUBLE))
        |      / (ssw / CAST(nn - k AS DOUBLE)), 6) END AS f
        |FROM w""".stripMargin,

    "q220_welch_t" ->
      """WITH r AS (SELECT
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS g,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 1000000.0, 0)
        |         AS DECIMAL(19,0)) AS xq
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |g1 AS (SELECT g, COUNT(*) AS nj,
        |    CAST(SUM(xq) AS DECIMAL(38,0)) AS sj,
        |    CAST(SUM(xq*xq) AS DECIMAL(38,0)) AS sjj FROM r GROUP BY 1),
        |g2 AS (SELECT g, nj,
        |    round(CAST(sj AS DOUBLE)/1000000.0/CAST(nj AS DOUBLE), 9) AS mj,
        |    CASE WHEN nj > 1 THEN
        |      round((CAST(sjj AS DOUBLE)/1000000000000.0
        |        - CAST(nj AS DOUBLE)
        |          * (round(CAST(sj AS DOUBLE)/1000000.0/CAST(nj AS DOUBLE), 9)
        |           * round(CAST(sj AS DOUBLE)/1000000.0/CAST(nj AS DOUBLE), 9)))
        |      / CAST(nj - 1 AS DOUBLE), 9) END AS vj
        |  FROM g1),
        |o AS (SELECT nj AS n1, mj AS m1, vj AS v1 FROM g2 WHERE g = 1),
        |z AS (SELECT nj AS n2, mj AS m2, vj AS v2 FROM g2 WHERE g = 0)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  round(m1, 6) AS mean1, round(m2, 6) AS mean2,
        |  round(v1, 6) AS var1, round(v2, 6) AS var2,
        |  CASE WHEN v1/CAST(n1 AS DOUBLE) + v2/CAST(n2 AS DOUBLE) > 0 THEN
        |    round((m1 - m2) / sqrt(v1/CAST(n1 AS DOUBLE)
        |      + v2/CAST(n2 AS DOUBLE)), 6) END AS t,
        |  CASE WHEN n1 > 1 AND n2 > 1
        |      AND v1/CAST(n1 AS DOUBLE) + v2/CAST(n2 AS DOUBLE) > 0 THEN
        |    round((v1/CAST(n1 AS DOUBLE) + v2/CAST(n2 AS DOUBLE))
        |        * (v1/CAST(n1 AS DOUBLE) + v2/CAST(n2 AS DOUBLE))
        |      / ((v1/CAST(n1 AS DOUBLE))*(v1/CAST(n1 AS DOUBLE))
        |           /CAST(n1 - 1 AS DOUBLE)
        |       + (v2/CAST(n2 AS DOUBLE))*(v2/CAST(n2 AS DOUBLE))
        |           /CAST(n2 - 1 AS DOUBLE)), 6) END AS df_welch
        |FROM o, z""".stripMargin,

    "q221_delong_auc" ->
      """WITH s AS (SELECT o_totalprice AS score,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y FROM orders),
        |g AS (SELECT score, CAST(SUM(y) AS BIGINT) AS pos_s,
        |    CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg_s FROM s GROUP BY score),
        |c AS (SELECT score, pos_s, neg_s,
        |    COALESCE(SUM(neg_s) OVER (ORDER BY score ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS neg_below,
        |    COALESCE(SUM(pos_s) OVER (ORDER BY score ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS pos_below
        |  FROM g),
        |t AS (SELECT CAST(SUM(pos_s) AS BIGINT) AS p,
        |    CAST(SUM(neg_s) AS BIGINT) AS n,
        |    CAST(SUM(neg_below * pos_s) AS DOUBLE) AS ub,
        |    CAST(SUM(pos_s * neg_s) AS DOUBLE) AS ut FROM c),
        |a AS (SELECT p, n, round((ub + 0.5*ut)
        |    / (CAST(p AS DOUBLE) * CAST(n AS DOUBLE)), 9) AS auc FROM t),
        |v AS (SELECT c.pos_s, c.neg_s,
        |    round((CAST(neg_below AS DOUBLE) + 0.5*CAST(neg_s AS DOUBLE))
        |      / CAST(a.n AS DOUBLE), 9) AS v10,
        |    round((CAST(a.p AS DOUBLE) - CAST(pos_below AS DOUBLE)
        |        - CAST(pos_s AS DOUBLE) + 0.5*CAST(pos_s AS DOUBLE))
        |      / CAST(a.p AS DOUBLE), 9) AS v01,
        |    a.p, a.n, a.auc
        |  FROM c, a),
        |w AS (SELECT ANY_VALUE(p) AS p, ANY_VALUE(n) AS n,
        |    ANY_VALUE(auc) AS auc,
        |    CAST(SUM(CAST(round(CAST(pos_s AS DOUBLE)
        |        * ((v10 - auc)*(v10 - auc)), 9)
        |      AS DECIMAL(38,9))) AS DOUBLE) AS s10n,
        |    CAST(SUM(CAST(round(CAST(neg_s AS DOUBLE)
        |        * ((v01 - auc)*(v01 - auc)), 9)
        |      AS DECIMAL(38,9))) AS DOUBLE) AS s01n
        |  FROM v),
        |f AS (SELECT p, n, auc,
        |    CASE WHEN p > 1 AND n > 1 THEN
        |      round(sqrt(round(s10n / CAST(p - 1 AS DOUBLE), 9)
        |          / CAST(p AS DOUBLE)
        |        + round(s01n / CAST(n - 1 AS DOUBLE), 9)
        |          / CAST(n AS DOUBLE)), 9) END AS se
        |  FROM w)
        |SELECT p AS n_pos, n AS n_neg, round(auc, 6) AS auc,
        |  round(se, 6) AS se,
        |  round(auc - 1.959963985 * se, 6) AS ci_lo,
        |  round(auc + 1.959963985 * se, 6) AS ci_hi
        |FROM f""".stripMargin,

    "q227_seasonal" ->
      """WITH days AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    COUNT(*) AS c FROM orders GROUP BY 1),
        |dl AS (SELECT unnest([-3, -2, -1, 0, 1, 2, 3]) AS dl),
        |tr AS (SELECT a.d, COUNT(*) AS nw, CAST(SUM(b.c) AS BIGINT) AS sw
        |  FROM days a, dl, days b WHERE b.d = a.d + dl GROUP BY 1),
        |t2 AS (SELECT d, CASE WHEN nw = 7
        |    THEN round(CAST(sw AS DOUBLE) / 7.0, 9) END AS trend FROM tr),
        |det AS (SELECT days.d, days.c,
        |    -- (((x % 7) + 7) % 7 mirrors Spark pmod exactly: DuckDB's
        |    -- bare % is negative for dates before the anchor.
        |    ((((days.d - DATE '1992-01-01') % 7) + 7) % 7) AS wd,
        |    round(CAST(days.c AS DOUBLE) - trend, 9) AS detr, trend
        |  FROM days JOIN t2 USING (d)),
        |se AS (SELECT wd,
        |    round(CAST(SUM(CAST(round(detr, 9) AS DECIMAL(38,9)))
        |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9) AS seas
        |  FROM det WHERE detr IS NOT NULL GROUP BY 1)
        |SELECT d, CAST(c AS BIGINT) AS cnt, CAST(wd AS BIGINT) AS wd,
        |  round(trend, 6) AS trend, round(seas, 6) AS seasonal,
        |  round(detr - seas, 6) AS residual
        |FROM det JOIN se USING (wd)""".stripMargin
  )
}
