package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.types._

import graft.llm.{AudioFixtures, ImageFixtures, VideoFixtures}
import graft.plans.NativeFunctions

/** Every native SQL function gives the same rows interpreted (no
  * whole-stage codegen, interpreted projections) and generated
  * (whole-stage codegen, generated projections only, no fallback),
  * doubles compared bit for bit. Inputs are columns of an RDD-backed
  * frame, so neither ConstantFolding nor ConvertToLocalRelation
  * evaluates a call at planning time; each function appears at least
  * twice in one projection, over non-nullable columns too, where the
  * generated fragments of two calls share one Java scope. */
class NativeKernelParitySpec extends SparkSpec {

  private def floats(xs: Float*): Array[Float] = xs.toArray

  private val nan = Float.NaN
  private val fs = Seq(floats(1f, 2f, 3f), floats(0f, 0f, 0f), floats(1f, nan, 2f),
    floats(), floats(-1f, 0.5f), floats(3f, -2f, 1f, 4f), floats(1e-30f, 2e-30f))
  private val ls = Seq(Array(1L, 3L, 5L, 9L), Array(3L, 4L, 5L), Array.empty[Long],
    Array(-7L, 0L, Long.MaxValue), Array(2L), Array(1L, 2L, 3L, 4L, 5L, 6L))
  private val ss = Seq(Array("a", "b", "c"), Array("b", "d"), Array.empty[String],
    Array("c"), Array("a", "c", "x", "y"))
  // 2 subspaces × 2 codes × subDim 2: a vector needs 4 elements
  private val ds = Seq(Array(0.1, 0.9, 0.5, 0.2), Array(1.0, 1.0), Array.empty[Double],
    Array(0.0, 0.0, 1.0, 1.0, 7.0), Array(-1.0, 2.0, 3.0, -4.0))
  private val ts = Seq("martha", "marhta", "", "dixon", "dicksonx", "a", "b")
  private val bins: Seq[Array[Byte]] = Array.emptyByteArray +: Array[Byte](1, 2, 3) +:
    (ImageFixtures.all ++ AudioFixtures.all ++ VideoFixtures.all).map(_._2)

  private val codebook = "array(0.0D, 0.0D, 0.0D, 0.0D, 1.0D, 1.0D, 0.5D, 0.5D)"

  /** (name, type, values); a column named `*_n` is nullable and holds a
    * null at every fourth row, the others are declared non-nullable. */
  private val columns: Seq[(String, DataType, Seq[Any])] = Seq(
    ("fa", ArrayType(FloatType, false), fs),
    ("fb", ArrayType(FloatType, false), fs.reverse),
    ("la", ArrayType(LongType, false), ls),
    ("lb", ArrayType(LongType, false), ls.reverse),
    ("sa", ArrayType(StringType, false), ss),
    ("sb", ArrayType(StringType, false), ss.reverse),
    ("da", ArrayType(DoubleType, false), ds),
    ("ta", StringType, ts),
    ("tb", StringType, ts.reverse),
    ("ba", BinaryType, bins))

  private lazy val input: DataFrame = {
    val n = bins.size + 4
    val all = columns.flatMap { case (c, t, vs) =>
      Seq((c, t, false, (i: Int) => vs(i % vs.size)),
          (c + "_n", t, true, (i: Int) => if (i % 4 == 3) null else vs((i + 1) % vs.size)))
    }
    val schema = StructType(StructField("id", IntegerType, false) +:
      all.map { case (c, t, nullable, _) => StructField(c, t, nullable) })
    val rows = (0 until n).map(i => Row.fromSeq(i +: all.map(_._4(i))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  private val calls: Seq[String] = Seq(
    "cosine_native(fa, fb)", "cosine_native(fb, fa)", "cosine_native(fa_n, fb_n)",
    "cosine_native(fa, fa)",
    "minhash_native(la, 4)", "minhash_native(lb, 3)", "minhash_native(la_n, 4)",
    "simhash64_native(la)", "simhash64_native(lb)", "simhash64_native(la_n)",
    "affine_minhash(la, 4)", "affine_minhash(lb, 3)", "affine_minhash(la_n, 4)",
    s"pq_codes(da, $codebook, 2, 2)", s"pq_codes(da_n, $codebook, 2, 2)",
    s"pq_dist_table(da, $codebook, 2, 2)", s"pq_dist_table(da_n, $codebook, 2, 2)",
    s"pq_adc(pq_codes(da, $codebook, 2, 2), pq_dist_table(da, $codebook, 2, 2), 2)",
    s"pq_adc(pq_codes(da_n, $codebook, 2, 2), pq_dist_table(da, $codebook, 2, 2), 2)",
    "in_string_set_native(ta, array('a', 'dixon'))", "in_string_set_native(tb_n, array('b'))",
    "sorted_jaccard(la, lb)", "sorted_jaccard(la, la)", "sorted_jaccard(la_n, lb_n)",
    "sorted_jaccard(sa, sb)", "sorted_jaccard(sa, sa)", "sorted_jaccard(sa_n, sb_n)",
    "jaro_winkler_native(ta, tb)", "jaro_winkler_native(tb, ta)",
    "jaro_winkler_native(ta_n, tb_n)",
    "image_meta(ba)", "image_meta(ba_n)", "audio_meta(ba)", "audio_meta(ba_n)",
    "video_meta(ba)", "video_meta(ba_n)")

  /** Rows of `calls` over `input` by id, under `conf`, doubles and
    * floats replaced by their raw bits. */
  private def evaluate(conf: Map[String, String]): Seq[Seq[Any]] = {
    val saved = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = input.selectExpr("id" +: calls: _*)
      val codegened = df.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec])
      assert(codegened == (conf("spark.sql.codegen.wholeStage") == "true"),
        df.queryExecution.executedPlan.toString)
      df.collect().toSeq.sortBy(_.getInt(0)).map(r => r.toSeq.map(raw))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def raw(v: Any): Any = v match {
    case d: Double => ("double", java.lang.Double.doubleToRawLongBits(d))
    case f: Float => ("float", java.lang.Float.floatToRawIntBits(f))
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(raw)
    case s: scala.collection.Seq[_] => s.map(raw)
    case other => other
  }

  test("every native function: interpreted and generated rows are identical") {
    NativeFunctions.all.foreach(NativeFunctions.register(spark, _))
    val names = NativeFunctions.all.map(_.name)
    val missing = names.filterNot(n => calls.count(_.startsWith(n + "(")) >= 2)
    assert(missing.isEmpty, s"functions not called twice: $missing")

    val interpreted = evaluate(Map(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    val generated = evaluate(Map(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false"))
    assert(interpreted.size == input.count())
    interpreted.zip(generated).foreach { case (i, g) =>
      (calls.indices).foreach { c =>
        assert(i(c + 1) == g(c + 1), s"row ${i.head}: ${calls(c)}")
      }
    }

    // the null and NaN contracts the kernels keep
    def col(call: String) = interpreted.map(_(calls.indexOf(call) + 1))
    val cos = col("cosine_native(fa, fa)")
    assert(cos(fs.indexWhere(_.sameElements(floats(0f, 0f, 0f)))) == null) // zero norm
    assert(cos(fs.indexWhere(_.isEmpty)) == null)
    cos(fs.indexWhere(_.exists(_.isNaN))) match { // a NaN element stays NaN
      case ("double", bits: Long) => assert(java.lang.Double.longBitsToDouble(bits).isNaN)
      case other => fail(s"NaN element gave $other")
    }
    val empty = ls.indexWhere(_.isEmpty)
    Seq("minhash_native(la, 4)", "simhash64_native(la)", "affine_minhash(la, 4)",
        "sorted_jaccard(la, la)").foreach(c => assert(col(c)(empty) == null, c))
    assert(col("sorted_jaccard(sa, sa)")(ss.indexWhere(_.isEmpty)) == null)
    val short = ds.indexWhere(_.length == 2)
    assert(col(s"pq_codes(da, $codebook, 2, 2)")(short) == null)
    assert(col(s"pq_dist_table(da, $codebook, 2, 2)")(short) == null)
  }
}
