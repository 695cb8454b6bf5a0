package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.Main
import graft.features.TrainingFrame
import graft.llm.{Multimodal, NearDup}
import graft.operators.WideStats
import graft.sources.{OddsJsonFlattener, PartitionedParquetStore, TeamRankingsNormalizer}

/** One timed operation of a pass. */
final case class Op(name: String, body: Probe => Unit)

/** One output check; a failed check counts as a failed operation. */
final case class Check(name: String, ok: Boolean, detail: String)

trait Workload {
  /** Build the inputs from the seed. Repeatable: the harness times
    * several set-ups and keeps the last. */
  def setup(): Unit
  /** The operations of pass `i` (pass 0 is the cold first pass). Input
    * generation for the pass happens here, outside the timed operations. */
  def pass(i: Int): Seq[Op]
  def checks(): Seq[Check]
  /** Untimed work between the cold pass and the timed passes. */
  def warmUp(): Unit = ()
  /** Warm passes a run makes at least, whatever `--seconds` says. */
  def minWarmPasses: Int = 1
  /** Workload-specific per-layer values, for the traced run. */
  def layers(): Map[String, Double] = Map.empty
}

object Workload {
  def medianOf(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def deleteTree(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
      .foreach(Files.delete)
}

import Workload._

/** A fixed list of `graft.queries` operators over the fixed sf0.01
  * tables. The seed sets each pass's operation order. */
final class Mix(spark: SparkSession, seed: Long, dataDir: String, queries: Seq[String],
                expected: Map[String, Fingerprint.Print]) extends Workload {
  private val fns = queries.map(q => q -> graft.SparkEntry.queries(q)).toMap

  def setup(): Unit = {
    val tables = Seq("documents", "embeddings", "lineitem", "orders", "events",
      "part", "customer", "supplier", "nation", "region")
    tables.foreach(t => require(Files.isRegularFile(Paths.get(dataDir, s"$t.parquet")),
      s"missing input table $t in $dataDir"))
  }

  private val prints = scala.collection.mutable.LinkedHashMap.empty[String, Fingerprint.Print]

  /** The cold pass collects and fingerprints every result (it doubles
    * as the output check); warm passes materialize every output column
    * of every row through the `noop` sink. */
  def pass(i: Int): Seq[Op] =
    new scala.util.Random(seed * 1000003L + i).shuffle(queries).map { q =>
      Op(q, probe => {
        val df = probe.span("construct", q)(fns(q)(spark, dataDir))
        if (i == 0) prints(q) = probe.span("execute", q)(Fingerprint.of(df))
        else probe.span("execute", q)(noop(df))
      })
    }

  def fingerprints(): Seq[(String, Fingerprint.Print)] = prints.toSeq

  /** One check per query that produced a result in the cold pass (a
    * query that threw is already counted as a failed operation). */
  def checks(): Seq[Check] = prints.toSeq.map { case (q, got) =>
    expected.get(q) match {
      case Some(want) => Check(q, got == want, s"got $got, expected $want")
      case None => Check(q, ok = false, s"no expected fingerprint (got $got)")
    }
  }
}

/** The reference's scheduled job: odds and rankings collectors upserted
  * into a store pre-seeded with weekly history, then the pruned read
  * and the training frame. Inputs are seeded synthetic API payloads. */
final class Handler(spark: SparkSession, seed: Long, workDir: Path) extends Workload {
  import spark.implicits._

  private val HistoryWeeks = 12
  private val firstDay = LocalDate.of(2025, 9, 4)
  private def date(day: Int): LocalDate = firstDay.plusDays(7L * day)

  private val registry = TeamRankingsNormalizer.registry.zipWithIndex

  /** A fixed slice of the registry, the same for every seed: the
    * predictive-rating table, then the first tables (in registry order)
    * that carry a training stat. Four tables, because one warm collection
    * of them already takes ~9 s (40 took ~50 s): the rankings upsert's
    * cost, not the row count, sets the run length. */
  val specs: Seq[(TeamRankingsNormalizer.TableSpec, Int)] = {
    val base = TrainingFrame.baseStats.toSet
    def feeds(s: TeamRankingsNormalizer.TableSpec) =
      TeamRankingsNormalizer.expectedColumns(s).exists(c => base(c) || base(c.stripSuffix("_this_yr")))
    val (first, rest) = registry.filter(r => feeds(r._1))
      .partition(_._1.tableName == "predictive")
    (first ++ rest).take(4).sortBy(_._2)
  }
  private val wideColumns = specs.flatMap { case (s, _) => TeamRankingsNormalizer.expectedColumns(s) }

  /** Each training base stat the collected tables carry, with its wide
    * column: the stat itself (ratings) or its table's current-season
    * column. */
  private val statColumn: Seq[(String, String)] = TrainingFrame.baseStats.flatMap { b =>
    Seq(b, s"${b}_this_yr").find(wideColumns.contains).map(b -> _)
  }

  /** The declared training columns computable from those stats. */
  val trainingColumns: Seq[String] = {
    val have = statColumn.map(_._1).toSet
    TrainingFrame.spreadModelTrainingColumns.filter(c => c == "travel_delta" ||
      have(c.stripSuffix("_matchup_differential").stripPrefix("home_").stripPrefix("road_")
        .stripSuffix("_delta")))
  }
  private var run = 0
  private def store: Path = workDir.resolve(s"store-$run")
  private def oddsRoot = store.resolve("odds").toString
  private def rankRoot = store.resolve("rankings").toString
  private val collected = scala.collection.mutable.ArrayBuffer.empty[Int]
  private var lastOdds: (String, java.sql.Timestamp) = _

  private def ts(day: Int) = Main.resolveTimestamp(Some(date(day).toString))

  /** Write the weekly history straight into the store's layout:
    * `year=/month=` parquet with the collectors' schemas. */
  def setup(): Unit = {
    deleteTree(store)
    run += 1
    collected.clear()
    val days = 0 until HistoryWeeks
    val odds = days.map { d =>
      OddsJsonFlattener.withCollectionTimestamp(
        OddsJsonFlattener.flatten(Seq(Gen.oddsPayload(seed, d, date(d))._1).toDF("json")),
        lit(ts(d)))
    }.reduce(_ unionByName _)
    val schema = StructType(("team" +: wideColumns).map(StructField(_, StringType)))
    val rankings = days.map { d =>
      spark.createDataFrame(Gen.storedRankings(seed, d, wideColumns).map(Row.fromSeq).asJava, schema)
        .withColumn("timestamp", lit(ts(d)))
    }.reduce(_ unionByName _)
    Seq(odds -> oddsRoot, rankings -> rankRoot).foreach { case (df, root) =>
      df.withColumn("year", year(col("timestamp"))).withColumn("month", month(col("timestamp")))
        .repartition(col("year"), col("month"))
        .write.mode("overwrite").partitionBy("year", "month").parquet(root)
    }
  }

  // ---- store accounting (files and parquet footers, no Spark jobs) ------

  private final case class Snapshot(files: Map[String, Long], rows: Long)

  private def snapshot(): Snapshot = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = if (!Files.exists(store)) Map.empty[String, Long] else
      Files.walk(store).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map(p => store.relativize(p).toString -> Files.size(p)).toMap
    val rows = files.keys.toSeq.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(store.resolve(f).toUri), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
    Snapshot(files, rows)
  }

  private val storeStats = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]

  private def collect(day: Int, payload: (String, Int),
                      tables: Seq[Seq[Seq[String]]]): Probe => Unit = probe => {
    val before = if (probe.tracing) Some(snapshot()) else None
    val t = ts(day)
    probe.span("phase", "main.odds") {
      Main.oddsCollector(oddsRoot)(spark, Seq(payload._1), t)
    }
    val wide = probe.span("phase", "sources.rankings_build") {
      val built = specs.zip(tables).map { case ((spec, _), rows) =>
        val schema = StructType(("Team" +: spec.colsToKeep).map(StructField(_, StringType)))
        TeamRankingsNormalizer.normalizeTable(
          spark.createDataFrame(rows.map(Row.fromSeq).asJava, schema), spec)
      }
      TeamRankingsNormalizer.finalPass(WideStats.wideFromTables(built, "team"))
    }
    probe.span("phase", "sources.rankings_upsert") {
      Main.rankingsUpsert(spark, rankRoot, wide, t)
    }
    collected += day
    lastOdds = (payload._1, t)
    before.foreach { b =>
      val a = snapshot()
      val fresh = a.files.keySet -- b.files.keySet
      val parts = (fresh ++ (b.files.keySet -- a.files.keySet)).map(f => f.substring(0, f.lastIndexOf('/')))
      val upserted = (a.rows - b.rows).toDouble
      storeStats += Map(
        "sources.rows_upserted" -> upserted,
        "sources.rows_deduped" -> ((payload._2 + Gen.Teams.size) - upserted),
        "sources.partitions_touched" -> parts.size.toDouble,
        "sources.files_written" -> fresh.size.toDouble,
        "sources.bytes_written" -> fresh.toSeq.map(a.files).sum.toDouble,
        "handler.store_mb" -> a.files.values.sum / 1e6)
    }
  }

  /** The 12 weeks before `day` as (year, month) partitions. */
  private def months(day: Int): Seq[(Int, Int)] =
    (0 until HistoryWeeks).map(k => date(day).minusDays(7L * k))
      .map(d => (d.getYear, d.getMonthValue)).distinct

  private val readStats = scala.collection.mutable.ArrayBuffer.empty[Double]

  private def trainingFrame(day: Int, probe: Probe): DataFrame = {
    val ms = months(day)
    val wide = probe.span("phase", "sources.store_read") {
      new PartitionedParquetStore(spark, rankRoot)
        .read(ms, "team" +: "timestamp" +: statColumn.map(_._2).distinct)
    }
    if (probe.tracing) readStats += ms.count { case (y, m) =>
      Files.isDirectory(Paths.get(rankRoot, s"year=$y", s"month=$m")) }.toDouble
    val base = statColumn.map(_._1)
    val history = statColumn.map { case (stat, c) =>
      wide.select(col("team"), lit(stat).as("stat"), col(c).cast("double").as("value"),
        col("timestamp"))
    }.reduce(_ unionByName _)
    val smoothed = TrainingFrame.smoothStats(history, "team", "stat", "value",
      Seq(col("timestamp").desc), base)
    val games = Gen.slate(seed, day).zipWithIndex
      .map { case ((h, r), g) => (s"$day-$g", h, r) }.toDF("game_id", "home", "road")
    val venues = Gen.venues(seed).toDF("team", "lat", "lon")
    TrainingFrame.selectTraining(
      TrainingFrame.assemble(games, "home", "road", smoothed, "team",
        base ++ base.map(_ + "_delta"), venues, "team", "lat", "lon"),
      Seq("game_id"))
  }

  def pass(i: Int): Seq[Op] = {
    val day = HistoryWeeks + i
    val payload = Gen.oddsPayload(seed, day, date(day))
    val tables = specs.map { case (s, k) => Gen.rankingsTable(seed, day, k, s) }
    Seq(
      Op("collect", collect(day, payload, tables)),
      Op("train", probe => {
        val frame = trainingFrame(day, probe)
        probe.span("phase", "features.training_frame")(noop(frame))
      }))
  }

  def checks(): Seq[Check] = {
    def check(name: String)(body: => (Boolean, String)): Check =
      try { val (ok, d) = body; Check(name, ok, d) }
      catch { case e: Throwable => Check(name, ok = false, s"threw $e") }
    Seq(
      check("odds re-collect adds no rows") {
        val n0 = spark.read.parquet(oddsRoot).count()
        Main.oddsCollector(oddsRoot)(spark, Seq(lastOdds._1), lastOdds._2)
        val n1 = spark.read.parquet(oddsRoot).count()
        (n0 == n1, s"$n0 rows before, $n1 after")
      },
      check("rankings keep 32 rows per collection date") {
        val per = spark.read.parquet(rankRoot).groupBy("timestamp").count().collect()
          .map(r => r.getLong(1)).toSeq
        (per.size == HistoryWeeks + collected.size && per.forall(_ == Gen.Teams.size),
          s"${per.size} dates, counts ${per.distinct.sorted.mkString(",")}")
      },
      check("training frame has its declared columns and one row per game") {
        val f = trainingFrame(collected.last, new Probe(spark))
        val n = f.count()
        val colsOk = f.columns.toSeq == "game_id" +: trainingColumns
        (colsOk && n == Gen.Teams.size / 2,
          s"${f.columns.length - 1} of ${trainingColumns.size} columns, $n rows")
      })
  }

  override def layers(): Map[String, Double] = {
    val keys = storeStats.headOption.fold(Seq.empty[String])(_.keys.toSeq)
    keys.map(k => k -> medianOf(storeStats.map(_(k)).toSeq)).toMap +
      ("sources.partitions_read" -> medianOf(readStats.toSeq))
  }
}

/** A seeded image corpus through decode → resize → average hash →
  * banded Hamming pair search. */
final class Media(spark: SparkSession, seed: Long) extends Workload {
  import spark.implicits._

  private val Radius = 8

  /** After the warm-up the passes are flat; pass_s takes the median of
    * the later half. */
  override def minWarmPasses: Int = 4
  var images: Seq[Gen.Image] = Nil

  def setup(): Unit = { images = Gen.images(seed, groups = 12) }

  def pipeline(ims: Seq[Gen.Image] = images): DataFrame = {
    // several small decode tasks per core, so a pass is not held up by
    // the one core that drew the largest pictures
    val ds = spark.createDataset(spark.sparkContext.parallelize(
      ims.map(im => Multimodal.MediaRow(im.id, im.bytes, "image")),
      4 * spark.sparkContext.defaultParallelism))
    val planes = Multimodal.extractOriented(ds)
      .map(o => (o.id, Multimodal.resizeBilinear(o.features, o.w, o.h, 8, 8)))
      .toDF("id", "features")
    NearDup.hammingNearDupPairs(
      Multimodal.perceptualHash64(planes, "id", "features"), "image_id", "bits", Radius)
      .select("id_a", "id_b", "hamming")
  }

  /** The Spark driver path (analysis, planning, the pin and ten small
    * jobs) is still being compiled by the JIT for several passes after
    * the cold one, while the decoders are warm after it. Running the
    * pipeline over one picture group warms that path at a fraction of a
    * pass's cost. */
  private val WarmUps = 5
  override def warmUp(): Unit = {
    val few = images.filter(_.group == 0)
    (1 to WarmUps).foreach(_ => noop(pipeline(few)))
  }

  /** The pairs the cold pass found; the output check reads them. */
  private var coldPairs: Option[Set[(Long, Long)]] = None

  /** The cold pass collects the pairs (they are what the group check
    * reads); warm passes materialize them through the `noop` sink. */
  def pass(i: Int): Seq[Op] = Seq(Op("media.pipeline", probe => {
    val df = probe.span("construct", "media.pipeline")(pipeline())
    if (i == 0) coldPairs = Some(probe.span("execute", "media.pipeline")(
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet))
    else probe.span("execute", "media.pipeline")(noop(df))
  }))

  def checks(): Seq[Check] = {
    // one Spark task per slice of the corpus: the decodes are the slow part
    val errs = try spark.sparkContext.parallelize(images, 4 * spark.sparkContext.defaultParallelism)
      .map(Media.decodeError).collect().toSeq
    catch { case e: Throwable => Seq(("all", Float.NaN, s"decode job threw $e")) }
    val decodes = errs.groupBy(_._1).toSeq.sortBy(_._1).map { case (fmt, es) =>
      val threw = es.map(_._3).filter(_.nonEmpty)
      if (threw.nonEmpty) Check(s"decode $fmt", ok = false, threw.mkString("; "))
      else {
        val worst = es.map(_._2).max
        // lossless formats (GIF included: its palette is the stored
        // pixels) must match ImageIO exactly; JPEG stays inside the
        // envelope the codec specs use against ImageIO's decode.
        val bound = if (fmt.startsWith("jpeg")) 12f else 0f
        Check(s"decode $fmt", worst <= bound, s"max |mine - ImageIO| = $worst over ${es.size} images")
      }
    }
    val groupsFound = try {
      val pairs = coldPairs.getOrElse(throw new IllegalStateException("the cold pass found no pairs"))
      val byId = images.map(im => im.id -> im).toMap
      val missing = images.groupBy(_.group).toSeq.flatMap { case (g, ims) =>
        val exact = ims.filter(im => Gen.Lossless(im.format) || im.format == "gif").map(_.id).sorted
        val lostExact = for (a <- exact; b <- exact if a < b && !pairs((a, b))) yield s"$g:$a-$b"
        val lonely = ims.filterNot(im => pairs.exists { case (a, b) =>
          (a == im.id && byId(b).group == g) || (b == im.id && byId(a).group == g) })
          .map(im => s"$g:${im.format}")
        lostExact ++ lonely
      }
      Check("re-encode groups found", missing.isEmpty,
        s"${pairs.size} pairs; missing ${missing.take(10).mkString(" ")}")
    } catch { case e: Throwable => Check("re-encode groups found", ok = false, s"threw $e") }
    decodes :+ groupsFound
  }

  /** Single-thread decode throughput per format family, outside Spark:
    * encoded MB decoded per second through the program's image decoder. */
  def codecThroughput(): Map[String, Double] =
    images.groupBy(im => im.format.takeWhile(_ != '-')).map { case (fam, ims) =>
      var bytes = 0L
      val t0 = System.nanoTime()
      var reps = 0
      while (reps < 3 || System.nanoTime() - t0 < 300000000L) {
        ims.foreach { im => Multimodal.BmpWavDecoder.decode(im.bytes, "image"); bytes += im.bytes.length }
        reps += 1
      }
      s"llm.decode_${fam}_mb_per_s" -> bytes / 1e6 / ((System.nanoTime() - t0) / 1e9)
    }

  override def layers(): Map[String, Double] = codecThroughput()
}

object Media {
  /** Largest |program decode - ImageIO decode| of one image, or the
    * error its decode threw. */
  def decodeError(im: Gen.Image): (String, Float, String) =
    try {
      val mine = Multimodal.BmpWavDecoder.decode(im.bytes, "image")
      val theirs = Gen.imageIoPlane(im.bytes)
      val err = if (mine.length != theirs.length) Float.PositiveInfinity
        else mine.indices.foldLeft(0f)((m, k) => math.max(m, math.abs(mine(k) - theirs(k))))
      (im.format, err, "")
    } catch { case e: Throwable => (im.format, Float.NaN, s"image ${im.id} threw $e") }
}
