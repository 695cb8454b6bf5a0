package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.llm.Similarity
import graft.plans.{FuseCosineRule, GraftExtensions, NativeFunctions}

/** The optional optimizer rule: the composable HOF cosine fuses into
  * the native expression with unchanged results. Installed here via
  * `experimental.extraOptimizations` (production installs the same
  * rule with spark.sql.extensions=graft.plans.GraftExtensions).
  */
class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = (0L until 30L).map { i =>
    (i, Array.tabulate(16)(j => math.sin((i * 16 + j).toDouble).toFloat))
  }.toDF("vec_id", "embedding")

  test("HOF cosine pattern fuses to cosine_native with identical results") {
    // queryExecution caches per DataFrame — build a fresh plan per phase
    def q = {
      val df = vecs
      df.as("x").join(df.as("y"), $"x.vec_id" < $"y.vec_id")
        .select($"x.vec_id".as("a"), $"y.vec_id".as("b"),
                Similarity.cosine($"x.embedding", $"y.embedding").as("cos"))
    }
    val before = q.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ FuseCosineRule
    try {
      val fused = q
      val fusedPlan = fused.queryExecution.optimizedPlan.toString
      assert(fusedPlan.contains("cosine_native") || fusedPlan.contains("CosineSimilarity"),
        s"rule did not fire:\n$fusedPlan")
      assert(!fusedPlan.contains("aggregate("), "HOF tree should be gone")
      val after = fused.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(after === before) // bit-identical (same accumulation order)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == FuseCosineRule)
    }
  }

  test("structurally-similar but different lambdas do NOT fuse (ExprId match)") {
    // same node TYPES as the cosine tree (Multiply inside zip_with,
    // Add inside aggregate) but different semantics: x*x, acc+abs(v).
    val df = Seq((1L, Array(1.0f, 2.0f)), (2L, Array(3.0f, -4.0f))).toDF("id", "v")
    def notDot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x.cast("array<double>"), y.cast("array<double>"),
                  (p, _) => p * p),  // p*p, not p*q
        lit(0.0), (acc, e) => acc + e)
    def absSum(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x.cast("array<double>"), y.cast("array<double>"),
                  (p, q) => p * q),
        lit(0.0), (acc, e) => acc + abs(e))  // acc+abs(e), not acc+e
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ FuseCosineRule
    try {
      for (bad <- Seq(notDot _, absSum _)) {
        val q = df.as("x").join(df.as("y"), $"x.id" < $"y.id")
          .select((bad($"x.v", $"y.v") /
                   (sqrt(bad($"x.v", $"x.v")) * sqrt(bad($"y.v", $"y.v")))).as("r"))
        val plan = q.queryExecution.optimizedPlan.toString
        assert(!plan.contains("cosine_native"),
          s"near-miss tree must not fuse:\n$plan")
      }
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == FuseCosineRule)
    }
  }

  test("fused zero-norm keeps the HOF's null (top-k ordering parity, legacy divide)") {
    // Spark's Divide returns NULL on a zero divisor even for doubles
    // in LEGACY mode (never IEEE NaN), which is exactly the native
    // expression's zero-norm result — null sorts last under desc in
    // both forms, so top-k membership can't flip.
    val df = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 0.0f)),
                 (3L, Array(0.5f, 0.5f))).toDF("id", "v")
    def q = df.as("x").join(df.as("y"), $"x.id" < $"y.id")
      .select($"x.id".as("a"), $"y.id".as("b"),
              Similarity.cosine($"x.v", $"y.v").as("cos"))
    def snapshot(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    }.toMap
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val before = snapshot(q.collect())
      assert(before.values.exists(_.isEmpty),
        "fixture must exercise the zero-norm null case")
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ FuseCosineRule
      val fused = q
      assert(fused.queryExecution.optimizedPlan.toString.contains("cosine_native"))
      assert(snapshot(fused.collect()) === before) // null-for-null, value-for-value
    } finally {
      spark.conf.set("spark.sql.ansi.enabled", "true")
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == FuseCosineRule)
    }
  }

  test("fused ANSI zero-norm returns null where unfused raises (documented rescue)") {
    val df = Seq((1L, Array(0.0f, 0.0f)), (2L, Array(1.0f, 1.0f))).toDF("id", "v")
    def q = df.as("x").join(df.as("y"), $"x.id" < $"y.id")
      .select(Similarity.cosine($"x.v", $"y.v").as("cos"))
    intercept[Exception] { q.collect() } // ANSI DIVIDE_BY_ZERO
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ FuseCosineRule
    try {
      val got = q.collect()
      assert(got.length === 1 && got.head.isNullAt(0))
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == FuseCosineRule)
    }
  }

  test("Graft.init exposes the native expressions to SQL and installs the rule") {
    graft.Graft.init(spark)
    try {
      val one = spark.sql(
        "SELECT cosine_native(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
          "array(CAST(2.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c").collect().head.getDouble(0)
      assert(math.abs(one - 1.0) < 1e-12)
      val sh = spark.sql(
        "SELECT simhash64_native(array(CAST(5 AS BIGINT))) AS s").collect().head.getLong(0)
      assert(sh === 5L) // single token: signature = its own bits
      val mh = spark.sql(
        "SELECT size(minhash_native(array(CAST(7 AS BIGINT)), 4)) AS n")
        .collect().head.getInt(0)
      assert(mh === 4)
      // PQ kernels: 1 subspace x 2 codewords of dim 2; vector (3,4) is
      // nearer codeword 1 at (3,3) than codeword 0 at (0,0).
      val pq = spark.sql(
        "SELECT pq_adc(pq_codes(array(3.0D, 4.0D), array(0.0D, 0.0D, 3.0D, 3.0D), 1, 2), " +
          "pq_dist_table(array(3.0D, 4.0D), array(0.0D, 0.0D, 3.0D, 3.0D), 1, 2), 2) AS d")
        .collect().head.getDouble(0)
      assert(pq === 1.0) // (3-3)^2 + (4-3)^2
      assert(spark.experimental.extraOptimizations.contains(FuseCosineRule))
      // idempotent: no duplicate rule entries
      graft.Graft.init(spark)
      assert(spark.experimental.extraOptimizations.count(_ == FuseCosineRule) === 1)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == FuseCosineRule)
    }
  }

  /** One SQL call per native function: (name, select expression, value). */
  private val nativeCalls: Seq[(String, String, Any)] = Seq(
    ("cosine_native", "cosine_native(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
      "array(CAST(2.0 AS FLOAT), CAST(0.0 AS FLOAT)))", 1.0),
    ("minhash_native", "size(minhash_native(array(7L), 4))", 4),
    ("simhash64_native", "simhash64_native(array(5L))", 5L),
    ("affine_minhash", "size(affine_minhash(array(7L), 4))", 4),
    ("pq_codes", "pq_codes(array(3.0D, 4.0D), array(0.0D, 0.0D, 3.0D, 3.0D), 1, 2)[0]", 1),
    ("pq_dist_table",
      "pq_dist_table(array(3.0D, 4.0D), array(0.0D, 0.0D, 3.0D, 3.0D), 1, 2)[1]", 1.0),
    ("pq_adc", "pq_adc(array(1), array(25.0D, 1.0D), 2)", 1.0),
    ("in_string_set_native", "in_string_set_native('ab', array('ab', 'cd'))", true),
    ("sorted_jaccard", "sorted_jaccard(array(1L, 2L, 3L), array(2L, 3L, 4L))", 0.5),
    ("jaro_winkler_native", "round(jaro_winkler_native('MARTHA', 'MARHTA'), 4)", 0.9611),
    ("image_meta", "image_meta(X'4749463839610200030000').width", 2),
    ("audio_meta", "audio_meta(CAST('.snd' AS BINARY)).format", "au"),
    ("video_meta", "video_meta(X'1A45DFA3').format", "webm"))

  test("every native function resolves from SQL after Graft.init and under GraftExtensions") {
    assert(nativeCalls.map(_._1).toSet === NativeFunctions.all.map(_.name).toSet)
    def check(session: SparkSession, how: String): Unit =
      for ((name, call, want) <- nativeCalls) {
        val got = session.sql(s"SELECT $call").collect().head.get(0)
        assert(got == want, s"$name after $how")
      }
    check(graft.Graft.init(spark.newSession()), "Graft.init")
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      check(SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate(),
        "GraftExtensions")
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("rule leaves double-native arrays alone (precision guard)") {
    val df = Seq((1L, Array(1.0, 2.0)), (2L, Array(3.0, 4.0))).toDF("id", "v")
    val q = df.as("x").join(df.as("y"), $"x.id" < $"y.id")
      .select(Similarity.cosine($"x.v", $"y.v").as("cos"))
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ FuseCosineRule
    try {
      val plan = q.queryExecution.optimizedPlan.toString
      assert(!plan.contains("cosine_native"), "must not rewrite double inputs")
      assert(math.abs(q.collect().head.getDouble(0) - 11.0 / (math.sqrt(5) * 5)) < 1e-12)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == FuseCosineRule)
    }
  }
}
