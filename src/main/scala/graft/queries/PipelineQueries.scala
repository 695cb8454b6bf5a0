package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.llm.{Bm25, QualityRules}
import graft.operators.{BloomJoin, TopK}
import graft.queries.OracleSql.{dsum, lcgSql}

/** Round-6 scale-operator queries: aggregation-shaped top-k, join
  * pruning, corpus quality rules, lexical ranking, projection-based
  * dimensionality reduction, stratified sampling. Each query pairs the
  * library operator with a DuckDB oracle that recomputes the semantics
  * from first principles (windows/CTEs), so the gate proves the
  * scale-shaped plan is EQUIVALENT to the textbook formulation.
  */
object PipelineQueries {
  type Q = (SparkSession, String) => DataFrame

  // Similarity.mix32, DuckDB form (xor-shift/multiply chain)
  private def mix32Sql(k: String): String = {
    val a = s"((xor(($k) >> 16, $k) * 73244475) % 4294967296)"
    val b = s"((xor($a >> 16, $a) * 73244475) % 4294967296)"
    s"xor($b >> 16, $b)"
  }

  val queries: Map[String, Q] = Map(

    // Per-group top-k as a bounded-buffer AGGREGATION (map-side combine
    // keeps <=k rows per group per partition) — not a window sort over
    // the corpus. Oracle is the window form: the gate proves equivalence.
    "q143_group_topk" -> ((s, d) => {
      val li = lineitem(s, d).select(
        col("l_suppkey"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("item_id"),
        col("l_extendedprice"))
      TopK.perGroupTopK(li, Seq("l_suppkey"), col("l_extendedprice"),
                        col("item_id"), k = 3)
        .select(col("l_suppkey"), col("rank"),
                col("id").as("item_id"), col("score"))
    }),

    // Bloom-pruned selective join: the fact scan drops non-matching
    // rows via an 8 KB bit test BEFORE any shuffle; the exact join on
    // survivors makes false positives invisible — oracle is the PLAIN
    // join, proving the pruned plan is lossless.
    "q144_bloom_join" -> ((s, d) => {
      val urgent = orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_totalprice"))
      BloomJoin.prunedJoin(lineitem(s, d), "l_orderkey", urgent, "o_orderkey")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
             graft.util.Exact.exactSum(col("l_extendedprice")).as("revenue"))
    }),

    // Gopher/C4 rule gate: scan-local surface statistics decide keep —
    // per-source pass/fail profile (what a curation dashboard reads to
    // see WHICH rule rejects each source's documents).
    "q145_quality_rules" -> ((s, d) => {
      QualityRules.gopherMetrics(documents(s, d), "text",
          minWords = 20, maxWords = 80, minWl = 3.9, maxWl = 5.0,
          maxSymbolRatio = 0.1)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
             sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
             sum(when(!col("pass_words"), 1L).otherwise(0L)).as("n_fail_words"),
             sum(when(!col("pass_wl"), 1L).otherwise(0L)).as("n_fail_wl"),
             sum(when(!col("has_stopword"), 1L).otherwise(0L)).as("n_stopless"))
    }),

    // Okapi BM25 first-stage retrieval: tf saturation + doc-length
    // normalization; one corpus exchange, term stats broadcast,
    // TakeOrdered top-k. Oracle recomputes the full formula.
    "q146_bm25" -> ((s, d) => {
      Bm25.topK(documents(s, d), "doc_id", "text",
                terms = Seq("spark", "hash", "window", "merge", "scan"),
                k1 = 1.2, b = 0.75, topK = 20)
    }),

    // Johnson–Lindenstrauss recall audit: Rademacher-project 64→8 dims
    // (8× less data through every downstream exchange), re-run the
    // top-10, measure per-query recall vs full precision — the q141
    // audit shape for dimensionality reduction instead of quantization.
    // On THIS corpus the measured recall is ~0: the synthetic embeddings
    // are near-isotropic noise whose neighbor ranking is one big tie, so
    // projection scrambles it — exactly the unsafe-to-deploy answer the
    // audit exists to give (q148 shows the distances themselves ARE
    // preserved; ranking on noise is what isn't).
    "q147_rp_recall" -> ((s, d) => {
      import graft.llm.Similarity
      val e = embeddings(s, d)
      val full = Similarity.cosineTopK(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 10)
        .select(col("qid"), col("cid"))
      val p = e.select(col("vec_id"),
        Similarity.rademacherProject(col("embedding"), 64, 8).as("pv"))
      val proj = Similarity.cosineTopK(p, "vec_id", "pv",
          p.filter(col("vec_id") < 10), "vec_id", "pv", k = 10)
        .select(col("qid").as("__q"), col("cid").as("__c"))
      val overlap = full
        .join(proj, col("qid") === col("__q") && col("cid") === col("__c"))
        .groupBy(col("qid")).agg(count(lit(1)).as("n_overlap"))
      full.select(col("qid")).distinct()
        .join(overlap, Seq("qid"), "left")
        .select(col("qid"),
                coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
                round(coalesce(col("n_overlap"), lit(0L)).cast("double") /
                      lit(10.0), 4).as("recall_at_10"))
    }),

    // The JL theorem's ACTUAL guarantee, measured: pairwise squared
    // distances after a 64→32 Rademacher projection, scaled by
    // dim'/1 (E||p(x)||² = d'·||x||²), concentrate around their
    // originals with sd ≈ sqrt(2/d') ≈ 0.25. Histogram of the ratio
    // over all pairs of a 40-vector sample: mass piles in [0.8, 1.2).
    "q148_jl_distortion" -> ((s, d) => {
      import graft.llm.Similarity
      val dPrime = 32
      val e = embeddings(s, d).filter(col("vec_id") < 40)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
                Similarity.rademacherProject(col("embedding"), 64, dPrime).as("pv"))
      val a = e.select(col("vec_id").as("ida"), col("v").as("va"), col("pv").as("pa"))
      val b = e.select(col("vec_id").as("idb"), col("v").as("vb"), col("pv").as("pb"))
      val d2 = (x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =>
        Similarity.dot(x, x) + Similarity.dot(y, y) - lit(2.0) * Similarity.dot(x, y)
      a.join(b, col("ida") < col("idb"))
        .select(
          round(try_divide(d2(col("pa"), col("pb")),
                           lit(dPrime.toDouble) * d2(col("va"), col("vb"))), 6)
            .as("ratio"))
        .filter(col("ratio").isNotNull)
        .select(floor(col("ratio") * 5).cast("long").as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    // Exact stratified sampling: largest-remainder apportionment hits
    // the total EXACTLY while preserving language shares to within one
    // row; per-stratum picks in (lcg, id) priority order. Oracle
    // replays quotas, remainders, and picks end to end.
    "q149_stratified_sample" -> ((s, d) => {
      graft.llm.Sampling.stratifiedExact(documents(s, d), "doc_id",
                                         Seq("lang"), total = 100L)
    }),

    // Page's CUSUM change-point chart per user: sequential fold with a
    // reset (not a window cumsum) via flatMapSortedGroups; oracle is a
    // recursive CTE replaying the identical recurrence step for step.
    "q150_cusum" -> ((s, d) => {
      graft.operators.ChangePoint.cusumSummary(
        events(s, d).select(col("user_id"), col("event_id"), col("ts"),
                            col("value")),
        "user_id", Seq(col("ts"), col("event_id")), "value", "event_id",
        target = 50.0, slack = 10.0, threshold = 500.0)
    }),

    // Weekly cohort retention triangle: one user-keyed exchange serves
    // first-event agg, activity distinct, and their join.
    "q151_cohort_retention" -> ((s, d) => {
      graft.operators.Cohort.weeklyRetention(events(s, d), "user_id", "ts")
    }),

    // CUPED experiment readout: per-user pre/post means (week 1 vs
    // rest), arm = user_id parity, θ from one exact-decimal moment row,
    // per-arm adjusted mean + variance — var_cuped < var_post is the
    // methodology's whole point, visible in the output.
    "q152_ab_cuped" -> ((s, d) => {
      val cut = to_timestamp(lit("2024-01-08 00:00:00"))
      val perUser = events(s, d)
        .groupBy(col("user_id"))
        .agg(
          graft.util.Exact.exactSum(when(col("ts") < cut, col("value")))
            .as("pre_sum"),
          sum(when(col("ts") < cut, 1L).otherwise(0L)).as("pre_n"),
          graft.util.Exact.exactSum(when(col("ts") >= cut, col("value")))
            .as("post_sum"),
          sum(when(col("ts") >= cut, 1L).otherwise(0L)).as("post_n"))
        .filter(col("pre_n") > 0 && col("post_n") > 0)
        .select((col("user_id") % 2).as("arm"),
                round(col("pre_sum") / col("pre_n").cast("double"), 6).as("pre"),
                round(col("post_sum") / col("post_n").cast("double"), 6).as("post"))
      graft.operators.AbTest.cupedByArm(perUser, "arm", "pre", "post")
    }),

    // Salted skew join: hot fact keys spread over 16 reducers via a
    // per-row salt, dim replicated to match — oracle is the PLAIN
    // join + agg, proving the salted plan is row-identical.
    "q153_salted_join" -> ((s, d) => {
      val dim = supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
        .withColumnRenamed("s_suppkey", "l_suppkey")
      graft.operators.Skew.saltedJoin(
          lineitem(s, d).select(col("l_suppkey"), col("l_orderkey"),
                                col("l_extendedprice")),
          dim, "l_suppkey", saltSource = col("l_orderkey"), saltBuckets = 16)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"),
             graft.util.Exact.exactSum(col("l_extendedprice")).as("revenue"))
    }),

    // Count-min sketch audit: 4×256 counters estimate per-user event
    // frequencies; est >= exact is a HARD invariant (collisions only
    // add), and the overcount column measures the collision cost on
    // real data. Oracle replays the sketch build + probe end to end.
    "q154_cms_audit" -> ((s, d) => {
      import graft.operators.Sketch
      val e = events(s, d).select(col("user_id"))
      val sketch = Sketch.cmsBuild(e, "user_id", depth = 4, width = 256)
      val est = Sketch.cmsEstimate(sketch, e, "user_id", depth = 4, width = 256)
      val exact = e.groupBy(col("user_id")).agg(count(lit(1)).as("exact_n"))
      exact.join(est, "user_id")
        .select(col("user_id"), col("exact_n"), col("cms_est"),
                (col("cms_est") - col("exact_n")).as("overcount"))
    }),

    // Spark's NATIVE session_window aggregation (gap-merge in the agg
    // operator itself, streaming-ready) — the oracle derives the same
    // sessions from first principles (lag gap >= 30min starts a new
    // one), proving the native operator's semantics against q44's
    // manual form.
    "q155_session_window" -> ((s, d) => {
      events(s, d)
        .groupBy(col("user_id"),
                 session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
             graft.util.Exact.exactSum(col("value")).as("sum_value"))
        .select(col("user_id"),
                unix_micros(col("w.start")).as("session_start_us"),
                col("n_events"), col("sum_value"))
    }),

    // Linear-counting distinct sketch: unlike HLL (engine-private
    // registers, q36 can only envelope-check), the occupied-bucket set
    // is a pure mix32 function — the oracle replays the ESTIMATE
    // itself. Audit shows estimate vs exact per group.
    "q156_linear_counting" -> ((s, d) => {
      import graft.operators.Sketch
      val li = lineitem(s, d)
      val lc = Sketch.linearCount(li, Seq("l_returnflag"), "l_orderkey",
                                  m = 16384)
      val exact = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_orderkey")).as("exact_distinct"))
      exact.join(lc, "l_returnflag")
        .select(col("l_returnflag"), col("exact_distinct"), col("lc_est"),
                round((col("lc_est") - col("exact_distinct").cast("double")) /
                      col("exact_distinct").cast("double"), 6).as("rel_err"))
    }),

    // Efraimidis–Spirakis weighted sampling without replacement: exact
    // size 50, inclusion probability ∝ n_chars; ranked by ln(u)/w (the
    // monotone-equivalent of u^(1/w) whose portability is proven).
    "q157_weighted_sample" -> ((s, d) => {
      graft.llm.Sampling.weightedSampleES(
        documents(s, d).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", k = 50)
    }),

    // Row-level reconciliation between two deterministic snapshots of
    // orders: v1 drops %97 keys, v2 drops %89 keys and perturbs %7
    // prices — the diff names every added/removed/changed key with the
    // changed column list. Only differences leave the join.
    "q158_table_diff" -> ((s, d) => {
      val o = orders(s, d)
      val v1 = o.filter(col("o_orderkey") % 97 =!= 0)
      val v2 = o.filter(col("o_orderkey") % 89 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
      graft.operators.TableDiff.rowDiff(v1, v2, Seq("o_orderkey"))
    })
  )

  val oracles: Map[String, String] = Map(

    "q143_group_topk" ->
      """WITH r AS (
        |  SELECT l_suppkey,
        |         l_orderkey*10 + l_linenumber AS item_id,
        |         l_extendedprice AS score,
        |         row_number() OVER (
        |           PARTITION BY l_suppkey
        |           ORDER BY l_extendedprice DESC, l_orderkey*10 + l_linenumber
        |         ) AS rank
        |  FROM lineitem)
        |SELECT l_suppkey, rank, item_id, score FROM r WHERE rank <= 3""".stripMargin,

    "q144_bloom_join" ->
      s"""SELECT l_returnflag, COUNT(*) AS n, ${dsum("l_extendedprice")} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderpriority = '1-URGENT'
         |GROUP BY l_returnflag""".stripMargin,

    "q145_quality_rules" ->
      """WITH m AS (
        |  SELECT source,
        |    len(string_split(text, ' ')) AS n_words,
        |    round(CAST(list_aggregate(list_transform(string_split(text, ' '),
        |            x -> length(x)), 'sum') AS DOUBLE)
        |          / len(string_split(text, ' ')), 4) AS mean_wl,
        |    round(CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
        |          / NULLIF(length(text), 0), 4) AS symbol_ratio,
        |    list_has_any(string_split(text, ' '),
        |      ['the','a','of','to','and','in','is','that']) AS has_stop
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN n_words BETWEEN 20 AND 80
        |                 AND mean_wl BETWEEN 3.9 AND 5.0
        |                 AND symbol_ratio <= 0.1 AND has_stop
        |            THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        |  CAST(SUM(CASE WHEN n_words NOT BETWEEN 20 AND 80 THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_words,
        |  CAST(SUM(CASE WHEN mean_wl NOT BETWEEN 3.9 AND 5.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_wl,
        |  CAST(SUM(CASE WHEN NOT has_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_stopless
        |FROM m GROUP BY source""".stripMargin,

    "q146_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |qt AS (SELECT doc_id, token FROM toks
        |       WHERE token IN ('spark','hash','window','merge','scan')),
        |dl AS (SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS dl
        |       FROM documents),
        |stats AS (SELECT COUNT(*) AS n_docs,
        |                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
        |dfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS dft FROM qt GROUP BY 1),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM qt GROUP BY 1, 2),
        |scored AS (
        |  SELECT tf.doc_id,
        |    round(CAST(SUM(CAST(
        |      ln(1 + (n_docs - dft + 0.5) / (dft + 0.5)) *
        |      tf * (1.2 + 1) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))
        |    AS DECIMAL(30,6))) AS DOUBLE), 4) AS score
        |  FROM tf JOIN dfreq USING (token)
        |          JOIN dl ON tf.doc_id = dl.doc_id
        |          CROSS JOIN stats
        |  GROUP BY tf.doc_id)
        |SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "q147_rp_recall" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |fq AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
        |fs AS (SELECT qid, cid FROM (
        |  SELECT qid, e.vec_id AS cid,
        |    row_number() OVER (PARTITION BY qid ORDER BY
        |      list_dot_product(qv, v)
        |        / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v)))
        |      DESC, e.vec_id) AS rn
        |  FROM fq, e WHERE qid <> e.vec_id) WHERE rn <= 10),
        |p AS (SELECT vec_id,
        |  list_transform(range(8), j ->
        |    list_dot_product(v,
        |      list_transform(
        |        list_transform(
        |          list_transform(range(64), i ->
        |            (xor((j*64+i) >> 16, j*64+i) * 73244475) % 4294967296),
        |          x -> (xor(x >> 16, x) * 73244475) % 4294967296),
        |        x -> CASE WHEN xor(x >> 16, x) & 1 = 0
        |             THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END))) AS pv
        |  FROM e),
        |pq AS (SELECT vec_id AS qid, pv AS qv FROM p WHERE vec_id < 10),
        |ps AS (SELECT qid, cid FROM (
        |  SELECT qid, p.vec_id AS cid,
        |    row_number() OVER (PARTITION BY qid ORDER BY
        |      list_dot_product(qv, pv)
        |        / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(pv, pv)))
        |      DESC, p.vec_id) AS rn
        |  FROM pq, p WHERE qid <> p.vec_id) WHERE rn <= 10),
        |ov AS (SELECT fs.qid, COUNT(*) AS n_overlap
        |       FROM fs JOIN ps ON fs.qid = ps.qid AND fs.cid = ps.cid GROUP BY 1)
        |SELECT q.qid,
        |  CAST(COALESCE(n_overlap, 0) AS BIGINT) AS n_overlap,
        |  round(CAST(COALESCE(n_overlap, 0) AS DOUBLE) / 10.0, 4) AS recall_at_10
        |FROM (SELECT DISTINCT qid FROM fs) q LEFT JOIN ov ON q.qid = ov.qid""".stripMargin,

    "q148_jl_distortion" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE vec_id < 40),
        |p AS (SELECT vec_id, v,
        |  list_transform(range(32), j ->
        |    list_dot_product(v,
        |      list_transform(
        |        list_transform(
        |          list_transform(range(64), i ->
        |            (xor((j*64+i) >> 16, j*64+i) * 73244475) % 4294967296),
        |          x -> (xor(x >> 16, x) * 73244475) % 4294967296),
        |        x -> CASE WHEN xor(x >> 16, x) & 1 = 0
        |             THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END))) AS pv
        |  FROM e),
        |pr AS (SELECT
        |    round((list_dot_product(a.pv, a.pv) + list_dot_product(b.pv, b.pv)
        |           - 2 * list_dot_product(a.pv, b.pv))
        |          / NULLIF(32.0 * (list_dot_product(a.v, a.v) + list_dot_product(b.v, b.v)
        |                           - 2 * list_dot_product(a.v, b.v)), 0), 6) AS ratio
        |  FROM p a, p b WHERE a.vec_id < b.vec_id)
        |SELECT CAST(floor(ratio * 5) AS BIGINT) AS bucket, COUNT(*) AS n_pairs
        |FROM pr WHERE ratio IS NOT NULL GROUP BY 1""".stripMargin,

    "q149_stratified_sample" ->
      s"""WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1),
         |t AS (SELECT SUM(n_docs) AS N FROM c),
         |q0 AS (SELECT lang, n_docs, (100*n_docs) // N AS base,
         |              100*n_docs - ((100*n_docs) // N)*N AS rem FROM c, t),
         |l AS (SELECT 100 - SUM(base) AS leftover FROM q0),
         |q1 AS (SELECT lang, n_docs, base, rem,
         |         row_number() OVER (ORDER BY rem DESC, lang) AS rk FROM q0),
         |q AS (SELECT lang, n_docs,
         |        base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS quota
         |      FROM q1, l),
         |r AS (SELECT doc_id, lang,
         |        row_number() OVER (PARTITION BY lang
         |          ORDER BY ${lcgSql("doc_id")}, doc_id) AS rn
         |      FROM documents),
         |k AS (SELECT r.lang, COUNT(*) AS n_kept,
         |        CAST(SUM(CAST(doc_id AS DECIMAL(38,0))) AS BIGINT) AS kept_id_checksum
         |      FROM r JOIN q ON r.lang = q.lang WHERE rn <= quota GROUP BY 1)
         |SELECT q.lang, n_docs, CAST(quota AS BIGINT) AS quota,
         |  CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept, kept_id_checksum
         |FROM q LEFT JOIN k ON q.lang = k.lang""".stripMargin,

    "q150_cusum" ->
      """WITH RECURSIVE seq AS (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |walk AS (
        |  SELECT user_id, event_id, value, rn,
        |    greatest(CAST(0 AS DOUBLE), 0 + (value - 50.0 - 10.0)) AS s
        |  FROM seq WHERE rn = 1
        |  UNION ALL
        |  SELECT seq.user_id, seq.event_id, seq.value, seq.rn,
        |    greatest(CAST(0 AS DOUBLE), walk.s + (seq.value - 50.0 - 10.0)) AS s
        |  FROM walk JOIN seq ON seq.user_id = walk.user_id
        |                    AND seq.rn = walk.rn + 1)
        |SELECT user_id, COUNT(*) AS n_points,
        |  CAST(SUM(CASE WHEN s > 500.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
        |  round(MAX(s), 6) AS peak_cusum,
        |  MIN(CASE WHEN s > 500.0 THEN event_id END) AS first_alarm_id
        |FROM walk GROUP BY user_id""".stripMargin,

    "q151_cohort_retention" ->
      """WITH f AS (SELECT user_id, date_trunc('week', MIN(ts)) AS cw
        |           FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS aw FROM events)
        |SELECT strftime(f.cw, '%Y-%m-%d') AS cohort_week,
        |  CAST(date_diff('day', f.cw, a.aw) // 7 AS BIGINT) AS week_offset,
        |  COUNT(*) AS n_users
        |FROM a JOIN f ON a.user_id = f.user_id
        |GROUP BY 1, 2""".stripMargin,

    "q152_ab_cuped" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-08 00:00:00'
        |                  THEN CAST(value AS DECIMAL(30,6)) END) AS DOUBLE) AS pre_sum,
        |    SUM(CASE WHEN ts < TIMESTAMP '2024-01-08 00:00:00' THEN 1 ELSE 0 END) AS pre_n,
        |    CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-08 00:00:00'
        |                  THEN CAST(value AS DECIMAL(30,6)) END) AS DOUBLE) AS post_sum,
        |    SUM(CASE WHEN ts >= TIMESTAMP '2024-01-08 00:00:00' THEN 1 ELSE 0 END) AS post_n
        |  FROM events GROUP BY 1),
        |units AS (
        |  SELECT user_id % 2 AS arm,
        |    round(pre_sum / pre_n, 6) AS pre,
        |    round(post_sum / post_n, 6) AS post
        |  FROM pu WHERE pre_n > 0 AND post_n > 0),
        |m AS (
        |  SELECT COUNT(*) AS n,
        |    SUM(CAST(round(pre * 1000000.0, 0) AS DECIMAL(19,0))) AS sx,
        |    SUM(CAST(round(post * 1000000.0, 0) AS DECIMAL(19,0))) AS sy,
        |    SUM(CAST(round(pre * 1000000.0, 0) AS DECIMAL(19,0)) *
        |        CAST(round(pre * 1000000.0, 0) AS DECIMAL(19,0))) AS sxx,
        |    SUM(CAST(round(pre * 1000000.0, 0) AS DECIMAL(19,0)) *
        |        CAST(round(post * 1000000.0, 0) AS DECIMAL(19,0))) AS sxy
        |  FROM units),
        |t AS (
        |  SELECT
        |    round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |          / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 9) AS theta,
        |    round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 9) AS mean_pre
        |  FROM m),
        |a AS (
        |  SELECT arm, post AS y,
        |    post - theta * (pre - mean_pre) AS ya
        |  FROM units, t)
        |SELECT arm, COUNT(*) AS n,
        |  round(CAST(SUM(CAST(round(y * 1000000.0, 0) AS DECIMAL(19,0))) AS DOUBLE)
        |        / CAST(COUNT(*) AS DOUBLE) / 1000000.0, 6) AS mean_post,
        |  round(CAST(SUM(CAST(round(ya * 1000000.0, 0) AS DECIMAL(19,0))) AS DOUBLE)
        |        / CAST(COUNT(*) AS DOUBLE) / 1000000.0, 6) AS mean_cuped,
        |  round((CAST(SUM(CAST(round(y * 1000000.0, 0) AS DECIMAL(19,0)) *
        |                  CAST(round(y * 1000000.0, 0) AS DECIMAL(19,0))) AS DOUBLE)
        |         - CAST(SUM(CAST(round(y * 1000000.0, 0) AS DECIMAL(19,0))) AS DOUBLE)
        |           * CAST(SUM(CAST(round(y * 1000000.0, 0) AS DECIMAL(19,0))) AS DOUBLE)
        |           / CAST(COUNT(*) AS DOUBLE))
        |        / CAST(COUNT(*) AS DOUBLE) / 1000000000000.0, 6) AS var_post,
        |  round((CAST(SUM(CAST(round(ya * 1000000.0, 0) AS DECIMAL(19,0)) *
        |                  CAST(round(ya * 1000000.0, 0) AS DECIMAL(19,0))) AS DOUBLE)
        |         - CAST(SUM(CAST(round(ya * 1000000.0, 0) AS DECIMAL(19,0))) AS DOUBLE)
        |           * CAST(SUM(CAST(round(ya * 1000000.0, 0) AS DECIMAL(19,0))) AS DOUBLE)
        |           / CAST(COUNT(*) AS DOUBLE))
        |        / CAST(COUNT(*) AS DOUBLE) / 1000000000000.0, 6) AS var_cuped
        |FROM a GROUP BY arm""".stripMargin,

    "q153_salted_join" ->
      s"""SELECT s_nationkey, COUNT(*) AS n,
         |  ${dsum("l_extendedprice")} AS revenue
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |GROUP BY s_nationkey""".stripMargin,

    "q154_cms_audit" ->
      s"""WITH rows_r AS (SELECT unnest(range(4)) AS r),
         |cells AS (
         |  SELECT r, ${mix32Sql("r*1000003 + user_id")} % 256 AS bucket,
         |         COUNT(*) AS cnt
         |  FROM events CROSS JOIN rows_r GROUP BY 1, 2),
         |probes AS (
         |  SELECT DISTINCT user_id, r,
         |         ${mix32Sql("r*1000003 + user_id")} % 256 AS bucket
         |  FROM events CROSS JOIN rows_r),
         |est AS (
         |  SELECT user_id, MIN(cnt) AS cms_est
         |  FROM probes JOIN cells USING (r, bucket) GROUP BY 1),
         |exact AS (SELECT user_id, COUNT(*) AS exact_n FROM events GROUP BY 1)
         |SELECT exact.user_id, exact_n, cms_est,
         |       cms_est - exact_n AS overcount
         |FROM exact JOIN est ON exact.user_id = est.user_id""".stripMargin,

    "q155_session_window" ->
      s"""WITH g AS (
         |  SELECT user_id, ts, value,
         |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
         |           (PARTITION BY user_id ORDER BY ts) IS NULL
         |         OR epoch_us(ts) - lag(epoch_us(ts)) OVER
         |           (PARTITION BY user_id ORDER BY ts) >= 1800000000
         |    THEN 1 ELSE 0 END AS new_sess
         |  FROM events),
         |s AS (
         |  SELECT user_id, ts, value,
         |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM g)
         |SELECT user_id, MIN(epoch_us(ts)) AS session_start_us,
         |  COUNT(*) AS n_events, ${dsum("value")} AS sum_value
         |FROM s GROUP BY user_id, sid""".stripMargin,

    "q156_linear_counting" ->
      s"""WITH b AS (
         |  SELECT DISTINCT l_returnflag,
         |         ${mix32Sql("l_orderkey")} % 16384 AS bucket
         |  FROM lineitem),
         |occ AS (SELECT l_returnflag, COUNT(*) AS occ FROM b GROUP BY 1),
         |lc AS (SELECT l_returnflag,
         |         round(-16384.0 * ln(1.0 - CAST(occ AS DOUBLE) / 16384.0), 4)
         |           AS lc_est
         |       FROM occ),
         |ex AS (SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS exact_distinct
         |       FROM lineitem GROUP BY 1)
         |SELECT ex.l_returnflag, exact_distinct, lc_est,
         |  round((lc_est - CAST(exact_distinct AS DOUBLE))
         |        / CAST(exact_distinct AS DOUBLE), 6) AS rel_err
         |FROM ex JOIN lc ON ex.l_returnflag = lc.l_returnflag""".stripMargin,

    "q157_weighted_sample" ->
      s"""WITH s AS (
         |  SELECT doc_id, n_chars,
         |    CAST((${lcgSql("doc_id")}) >> 16 AS DOUBLE) / 32768.0 AS u
         |  FROM documents),
         |t AS (
         |  SELECT doc_id, n_chars,
         |    ln(u) / CAST(n_chars AS DOUBLE) AS es
         |  FROM s WHERE u > 0),
         |r AS (SELECT doc_id, n_chars, es,
         |        row_number() OVER (ORDER BY es DESC, doc_id) AS rank FROM t)
         |SELECT rank, doc_id, n_chars, round(es, 9) AS es_key
         |FROM r WHERE rank <= 50""".stripMargin,

    "q158_table_diff" ->
      """WITH v1 AS (SELECT * FROM orders WHERE o_orderkey % 97 <> 0),
        |v2 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
        |              ELSE o_totalprice END AS o_totalprice,
        |         o_orderdate, o_orderpriority
        |       FROM orders WHERE o_orderkey % 89 <> 0),
        |j AS (SELECT
        |    COALESCE(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
        |    v1.o_orderkey IS NULL AS only_b, v2.o_orderkey IS NULL AS only_a,
        |    v1.o_custkey IS DISTINCT FROM v2.o_custkey AS d1,
        |    v1.o_orderstatus IS DISTINCT FROM v2.o_orderstatus AS d2,
        |    v1.o_totalprice IS DISTINCT FROM v2.o_totalprice AS d3,
        |    v1.o_orderdate IS DISTINCT FROM v2.o_orderdate AS d4,
        |    v1.o_orderpriority IS DISTINCT FROM v2.o_orderpriority AS d5
        |  FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey)
        |SELECT o_orderkey,
        |  CASE WHEN only_b THEN 'added'
        |       WHEN only_a THEN 'removed'
        |       WHEN d1 OR d2 OR d3 OR d4 OR d5 THEN 'changed' END AS status,
        |  CASE WHEN NOT only_a AND NOT only_b AND (d1 OR d2 OR d3 OR d4 OR d5)
        |       THEN concat_ws(',',
        |         CASE WHEN d1 THEN 'o_custkey' END,
        |         CASE WHEN d2 THEN 'o_orderstatus' END,
        |         CASE WHEN d3 THEN 'o_totalprice' END,
        |         CASE WHEN d4 THEN 'o_orderdate' END,
        |         CASE WHEN d5 THEN 'o_orderpriority' END) END AS changed_cols
        |FROM j WHERE CASE WHEN only_b THEN 'added'
        |                  WHEN only_a THEN 'removed'
        |                  WHEN d1 OR d2 OR d3 OR d4 OR d5 THEN 'changed' END
        |             IS NOT NULL""".stripMargin
  )
}
