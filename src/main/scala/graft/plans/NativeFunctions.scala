package graft.plans

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.StringType

/** Every native SQL function of the engine in one table: its SQL name,
  * its expression class and how it is built from its SQL arguments.
  * The three registration paths read this table and nothing else:
  *  - [[GraftExtensions]] injects every entry at session build;
  *  - [[graft.Graft.init]] registers every entry in an existing session;
  *  - each Column helper (e.g. [[cosineNative]],
  *    [[MinHashNative.minhashNative]]) registers its own entry when the
  *    session lacks it, then calls it by name.
  */
object NativeFunctions {

  /** One native function: `build` turns the SQL arguments into the
    * expression. Applying it to Columns registers it in a session that
    * lacks it and calls it by name. */
  private[graft] final case class Native(name: String, cls: Class[_ <: Expression],
                                         build: Seq[Expression] => Expression) {
    def apply(spark: SparkSession, args: Column*): Column = {
      register(spark, this)
      call_function(name, args: _*)
    }
  }

  private[plans] val Cosine = Native("cosine_native", classOf[CosineSimilarity],
    a => CosineSimilarity(a(0), a(1)))
  private[plans] val MinHash = Native("minhash_native", classOf[MinHashSignature],
    a => MinHashSignature(a(0), intArg(a(1))))
  private[plans] val SimHash = Native("simhash64_native", classOf[SimHash64],
    a => SimHash64(a(0)))
  private[plans] val AffineMin = Native("affine_minhash", classOf[AffineMinHash],
    a => AffineMinHash(a(0), intArg(a(1))))
  private[plans] val Codes = Native("pq_codes", classOf[PqCodes],
    a => PqCodes(a(0), a(1), intArg(a(2)), intArg(a(3))))
  private[plans] val DistTable = Native("pq_dist_table", classOf[PqDistTable],
    a => PqDistTable(a(0), a(1), intArg(a(2)), intArg(a(3))))
  private[plans] val Adc = Native("pq_adc", classOf[PqAdc],
    a => PqAdc(a(0), a(1), intArg(a(2))))
  /** The vocabulary is a foldable array<string> second argument, frozen
    * into the expression at resolution time (the PqCodes int-argument
    * precedent). */
  private[plans] val StringSet = Native("in_string_set_native", classOf[StringSetContains],
    a => StringSetContains(asString(a(0)), vocabulary(a(1))))
  private[plans] val Jaccard = Native("sorted_jaccard", classOf[SortedJaccard],
    a => SortedJaccard(a(0), a(1)))
  private[plans] val JaroWinkler = Native("jaro_winkler_native", classOf[JaroWinklerSim],
    a => JaroWinklerSim(asString(a(0)), asString(a(1))))
  private[plans] val Image = Native("image_meta", classOf[ImageMeta], a => ImageMeta(a(0)))
  private[plans] val Audio = Native("audio_meta", classOf[AudioMeta], a => AudioMeta(a(0)))
  private[plans] val Video = Native("video_meta", classOf[VideoMeta], a => VideoMeta(a(0)))

  private[graft] val all: Seq[Native] = Seq(Cosine, MinHash, SimHash, AffineMin,
    Codes, DistTable, Adc, StringSet, Jaccard, JaroWinkler, Image, Audio, Video)

  /** Register `f` as a temp function of `spark` unless the session
    * already has a function of that name (injected by
    * [[GraftExtensions]], or registered by an earlier call). */
  private[graft] def register(spark: SparkSession, f: Native): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(f.name)))
      registry.createOrReplaceTempFunction(f.name, f.build, "built-in")
  }

  /** Inject every entry into sessions built with `ext`. */
  private[plans] def inject(ext: SparkSessionExtensions): Unit =
    all.foreach(f => ext.injectFunction((FunctionIdentifier(f.name),
      new ExpressionInfo(f.cls.getName, f.name), f.build)))

  private def intArg(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()

  // ExpectsInputTypes' AbstractDataType is private[sql] (the
  // CosineSimilarity note), so a STRING input contract is enforced
  // here: the argument is wrapped in an explicit Cast(_, StringType),
  // which Catalyst type-checks at analysis time — an uncastable
  // argument (e.g. array) fails analysis cleanly instead of
  // ClassCastException-ing inside generated code.
  private def asString(e: Expression): Expression =
    if (e.dataType == StringType) e else Cast(e, StringType)

  private def vocabulary(e: Expression): Seq[String] = {
    require(e.foldable,
      s"${StringSet.name}: the vocabulary argument must be a literal array")
    val arr = e.eval().asInstanceOf[ArrayData]
    (0 until arr.numElements()).map { i =>
      val v = arr.getUTF8String(i)
      if (v == null) null else v.toString
    }
  }

  def cosineNative(spark: SparkSession, a: Column, b: Column): Column =
    Cosine(spark, a.cast("array<float>"), b.cast("array<float>"))
}
