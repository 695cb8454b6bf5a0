package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import Workload.medianOf

/** Closed-loop benchmark driver: one client, one operation at a time.
  *
  * A run sets up the workload's inputs from the seed (several times, for
  * `setup_s`), runs one cold pass, then warm passes until `--seconds` have
  * passed, then checks the outputs. The last stdout line is the result
  * object; `--out` keeps the full record and, when tracing, `--spans` the
  * span file. */
object Harness {

  /** `queries` is the budget-sized mix the benchmark runs: a pinned
    * iterative operator (PageRank over near-dup pairs), the prefix-filter
    * Jaccard join, and ordered statistics. `corpus` and `stats` are the full mixes, for
    * longer manual runs. */
  val Mixes: Map[String, Seq[String]] = Map(
    "queries" -> Seq("q105_pagerank", "q113_prefix_join", "q197_ks_test",
      "q205_exact_quantiles", "q210_kendall_tau"),
    "corpus" -> Seq("q28_minhash_pairs", "q57_minhash_portable", "q60_dedup_groups",
      "q70_corpus_build", "q84_dedup_survivors", "q90_semantic_dedup", "q91_kgram_dedup",
      "q105_pagerank", "q110_sparse_cosine", "q113_prefix_join", "q171_label_prop",
      "q174_bpe_learn", "q175_bpe_compress", "q240_unigram_lm", "q243_unigram_segment"),
    "stats" -> Seq("q193_spearman", "q197_ks_test", "q221_delong_auc", "q172_theil_sen",
      "q137_auc", "q133_weighted_median", "q205_exact_quantiles", "q209_levene",
      "q200_mann_whitney", "q210_kendall_tau", "q166_equidepth", "q176_bootstrap_ci",
      "q202_cv_ols", "q186_conformal", "q1_agg", "q3_join_fact", "q76_cube",
      "q87_part_revenue"))

  val Workloads: Seq[String] = Seq("handler", "queries", "media", "corpus", "stats")

  /** Execution counters reported per pass, as `spark.<name>`. */
  private val SparkCounters = Seq("jobs", "stages", "tasks", "failed_tasks", "executor_cpu_s",
    "executor_run_s", "task_deser_s")

  /** The end-to-end metrics the harness can report (BENCHMARK.json picks). */
  val EndToEnd: Seq[String] = Seq("setup_s", "pass_s", "first_pass_s", "pass_cpu_s",
    "first_pass_cpu_s")

  /** The per-layer metrics the harness can report. BENCHMARK.json picks
    * which it prints (and their units); a layer a workload does not
    * exercise reports 0. `run.*` are the run's end-to-end candidates as
    * measured in the traced run. */
  val Layers: Set[String] = Set(
    "handler.collect_s", "handler.train_s", "handler.store_mb", "main.odds_s",
    "sources.rankings_build_s", "sources.rankings_upsert_s", "sources.rows_upserted",
    "sources.rows_deduped", "sources.partitions_touched", "sources.files_written",
    "sources.bytes_written", "sources.store_read_s", "sources.partitions_read",
    "features.training_frame_s", "spark.analysis_s", "spark.optimization_s", "spark.planning_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks", "spark.executor_cpu_s",
    "spark.executor_run_s", "spark.task_deser_s", "spark.task_p50_s", "spark.task_max_s",
    "spark.task_skew", "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.shuffle_records",
    "spark.spill_mb", "spark.codegen_compile_s", "spark.codegen_classes", "spark.codegen_source_kb",
    "queries.construct_s", "queries.construct_jobs", "llm.decode_png_mb_per_s",
    "llm.decode_jpeg_mb_per_s", "llm.decode_gif_mb_per_s", "llm.decode_bmp_mb_per_s",
    "llm.decode_tiff_mb_per_s", "jvm.gc_s", "trace.overhead_pct", "run.pass_traced_s") ++
    EndToEnd.map(k => s"run.$k") ++ Mixes("queries").map(q => s"q.${q}_s")

  /** Set-ups per run; `setup_s` takes their median. */
  val Setups = 3


  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: Path, out: Option[Path], spans: Option[Path],
                        record: Option[Path])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}") }.toMap
    def opt(k: String) = m.get(k)
    val w = m.getOrElse("workload", throw new IllegalArgumentException("--workload is required"))
    require(Workloads.contains(w), s"unknown workload $w (have ${Workloads.mkString(", ")})")
    Args(w, opt("seed").fold(1L)(_.toLong), opt("seconds").fold(10.0)(_.toDouble),
      opt("trace").contains("1"), opt("data").getOrElse("perfbench/data"),
      Paths.get(opt("work").getOrElse(".bench_build/work")), opt("out").map(Paths.get(_)),
      opt("spans").map(Paths.get(_)), opt("record").map(Paths.get(_)))
  }

  def session(a: Args): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val local = a.work.resolve("spark-local").toAbsolutePath
    Files.createDirectories(local)
    SparkSession.builder()
      .master(s"local[$n]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toAbsolutePath.toString)
      .getOrCreate()
  }

  private def expected(path: Path): Map[String, Fingerprint.Print] =
    if (!Files.exists(path)) Map.empty else {
      import scala.jdk.CollectionConverters._
      Json.read(path).get("queries").fields().asScala.map { e =>
        e.getKey -> Fingerprint.Print(e.getValue.get("rows").asLong, e.getValue.get("hash").asText)
      }.toMap
    }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val code = try run(a, spark, sessionS) finally spark.stop()
    sys.exit(code)
  }

  private def run(a: Args, spark: SparkSession, sessionS: Double): Int = {
    val probe = new Probe(spark)
    val runId = s"${a.workload}-${a.seed}-${System.currentTimeMillis()}"
    val fixtures = Paths.get(a.data).getParent
    val wl: Workload = a.workload match {
      case "handler" => new Handler(spark, a.seed, a.work.toAbsolutePath)
      case "media" => new Media(spark, a.seed)
      case mix => new Mix(spark, a.seed, a.data, Mixes(mix),
        expected(fixtures.resolve("expected").resolve(s"$mix.json")))
    }
    val root = probe.open("workload", a.workload)
    val setups = (1 to Setups).map { _ =>
      val t0 = System.nanoTime(); probe.span("setup", "setup")(wl.setup())
      val t = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] setup $t%.2f s")
      t
    }

    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    final case class PassRec(index: Int, traced: Boolean, seconds: Double, cpu: Double,
                             ops: Seq[(String, Double)],
                             counters: Counters, gc: Double, jit: Double, codegen: (Double, Long, Double),
                             phases: Map[String, Double])
    val passes = mutable.ArrayBuffer.empty[PassRec]

    def runPass(i: Int, traced: Boolean): Unit = {
      val ops = wl.pass(i)
      probe.attach(traced)
      // pay for the previous pass's garbage outside the timed region, as
      // graft.Bench does, so a full collection does not land in a sample
      System.gc()
      val counters = new Counters
      val gc0 = probe.gcSeconds
      val jit0 = probe.jitSeconds
      val cpu0 = probe.cpuSeconds
      val cg0 = probe.codegen
      val ps = probe.open("pass", s"pass $i")
      val times = ops.map { op =>
        val s = probe.open("op", op.name)
        attempted += 1
        try op.body(probe) catch { case e: Throwable =>
          failed += 1
          errors += s"${op.name}: $e"
        } finally probe.close(s)
        probe.collect(s, counters)
        System.err.println(f"[perfbench] pass $i ${op.name} ${s.seconds}%.2f s")
        op.name -> s.seconds
      }
      probe.close(ps)
      val cg1 = probe.codegen
      val phases = probe.spans.filter(s => s.kind == "phase" || s.kind == "construct")
        .filter(s => s.start >= ps.start && s.end <= ps.end)
        .groupBy(s => if (s.kind == "construct") "queries.construct" else s.name)
        .map { case (k, ss) => s"${k}_s" -> ss.map(_.seconds).sum }
      passes += PassRec(i, traced, ps.seconds, probe.cpuSeconds - cpu0, times, counters,
        probe.gcSeconds - gc0, probe.jitSeconds - jit0,
        (cg1._1 - cg0._1, cg1._2 - cg0._2, cg1._3 - cg0._3), phases)
    }

    runPass(0, a.trace)
    val warmUpS = { val t = System.nanoTime(); wl.warmUp(); (System.nanoTime() - t) / 1e9 }
    val t0 = System.nanoTime()
    // a traced run needs at least one pass of each kind
    val minWarm = math.max(wl.minWarmPasses, if (a.trace) 2 else 1)
    var i = 1
    while (i <= minWarm || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      // traced runs alternate listener-on and listener-off passes, so the
      // tracing overhead is measured inside the same process
      runPass(i, a.trace && i % 2 == 1)
      i += 1
    }
    probe.attach(false)
    val windowS = (System.nanoTime() - t0) / 1e9

    val checks = probe.span("checks", "checks")(wl.checks())
    attempted += checks.size
    checks.filterNot(_.ok).foreach { c => failed += 1; errors += s"check ${c.name}: ${c.detail}" }
    a.record.foreach { p =>
      wl match {
        case mix: Mix =>
          val fps = mix.fingerprints()
          Files.createDirectories(p.toAbsolutePath.getParent)
          Files.writeString(p, Json.encode(Json.Obj(Seq("data" -> a.data, "queries" ->
            Json.Obj(fps.map { case (q, f) => q -> Json.Obj(Seq("rows" -> f.rows, "hash" -> f.hash)) }),
            "oracle_sql" -> Json.Obj(fps.flatMap { case (q, _) => graft.SparkEntry.oracleSql.get(q).map(q -> _) })))) + "\n")
        case _ =>
      }
    }
    probe.close(root)

    // steady state: the later half of the warm passes (JIT and code
    // generation keep warming over the first ones)
    def steady(ps: Seq[PassRec]): Seq[PassRec] = ps.drop(ps.size / 2)
    val warm = passes.filter(_.index > 0).toSeq
    val untracedWarm = steady(warm.filterNot(_.traced))
    val tracedWarm = steady(warm.filter(_.traced))
    val e2e = Map(
      "setup_s" -> (sessionS + medianOf(setups)),
      "pass_s" -> medianOf(untracedWarm.map(_.seconds)),
      "first_pass_s" -> passes.head.seconds,
      "pass_cpu_s" -> medianOf(untracedWarm.map(_.cpu)),
      "first_pass_cpu_s" -> passes.head.cpu)

    val layer = mutable.LinkedHashMap.empty[String, Double]
    if (a.trace) {
      val tp = tracedWarm
      def med(f: PassRec => Double) = medianOf(tp.map(f))
      SparkCounters.foreach(k => layer(s"spark.$k") = med(_.counters(k)))
      Seq("analysis", "optimization", "planning").foreach(k => layer(s"spark.${k}_s") = med(_.counters(s"${k}_s")))
      layer("spark.shuffle_write_mb") = med(_.counters("shuffle_write_b") / 1e6)
      layer("spark.shuffle_read_mb") = med(_.counters("shuffle_read_b") / 1e6)
      layer("spark.shuffle_records") = med(_.counters("shuffle_records"))
      layer("spark.spill_mb") = med(_.counters("spill_b") / 1e6)
      layer("spark.task_p50_s") = med(p => medianOf(p.counters.taskSeconds.toSeq))
      layer("spark.task_max_s") = med(p => if (p.counters.taskSeconds.isEmpty) 0 else p.counters.taskSeconds.max)
      layer("spark.task_skew") = med(p => {
        val m = medianOf(p.counters.taskSeconds.toSeq)
        if (m > 0) p.counters.taskSeconds.max / m else 0 })
      // code generation is paid on first sight of a plan: read it from the cold pass
      val cold = passes.head
      layer("spark.codegen_compile_s") = cold.codegen._1
      layer("spark.codegen_classes") = cold.codegen._2.toDouble
      layer("spark.codegen_source_kb") = cold.codegen._3 / 1e3
      layer("queries.construct_jobs") = med(_.counters("construct_jobs"))
      layer("jvm.gc_s") = med(_.gc)
      val phaseKeys = tp.flatMap(_.phases.keys).distinct
      phaseKeys.foreach(k => layer(k) = med(_.phases.getOrElse(k, 0.0)))
      val opNames = warm.flatMap(_.ops.map(_._1)).distinct
      opNames.foreach { n =>
        val key = if (a.workload == "handler") s"handler.${n}_s" else s"q.${n}_s"
        layer(key) = medianOf(untracedWarm.flatMap(_.ops.filter(_._1 == n).map(_._2)))
      }
      e2e.foreach { case (k, v) => layer(s"run.$k") = v }
      layer("run.pass_traced_s") = med(_.seconds)
      layer("trace.overhead_pct") = 100 * (layer("run.pass_traced_s") / e2e("pass_s") - 1)
      layer ++= wl.layers()
    }

    val metrics: Seq[(String, Double, String)] = {
      import scala.jdk.CollectionConverters._
      val section = if (a.trace) "per_layer" else "end_to_end"
      Json.read(Paths.get("BENCHMARK.json")).get(section).elements().asScala.toSeq.map { m =>
        val k = m.get("name").asText
        val v = if (a.trace) layer.getOrElse(k, { require(Layers(k), s"unknown metric $k"); 0.0 })
          else e2e.getOrElse(k, throw new IllegalArgumentException(s"unknown metric $k"))
        (k, v, m.get("unit").asText)
      }
    }

    val env = Json.Obj(Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "mem_total_kb" -> memTotalKb,
      "jdk" -> System.getProperty("java.vm.version"),
      "spark" -> spark.version,
      "commit" -> sys.env.getOrElse("PERFBENCH_COMMIT", "unknown"),
      "benchmark_version" -> sys.env.getOrElse("PERFBENCH_VERSION", "unknown")))
    val result = Json.Obj(Seq(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> Json.Obj(metrics.map { case (k, v, u) => k -> Json.Obj(Seq("value" -> v, "unit" -> u)) })))

    a.out.foreach { p =>
      val detail = Json.Obj(Seq(
        "run" -> runId, "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
        "trace" -> a.trace, "env" -> env, "result" -> result,
        "end_to_end" -> Json.Obj(e2e.toSeq.map { case (k, v) => k -> Json.Obj(Seq("median" -> v,
          "n" -> (k match { case "setup_s" => setups.size; case "pass_s" | "pass_cpu_s" => untracedWarm.size; case _ => 1 }))) }),
        "per_layer" -> Json.Obj(layer.toSeq),
        "session_s" -> sessionS, "setup_samples_s" -> setups, "warm_up_s" -> warmUpS, "window_s" -> windowS,
        "passes" -> passes.map(p => Json.Obj(Seq("index" -> p.index, "traced" -> p.traced,
          "seconds" -> p.seconds, "cpu_s" -> p.cpu, "gc_s" -> p.gc, "jit_s" -> p.jit, "ops" -> Json.Obj(p.ops),
          "phases" -> Json.Obj(p.phases.toSeq.sortBy(_._1)),
          "counters" -> Json.Obj(p.counters.sums.toSeq)))),
        "checks" -> checks.map(c => Json.Obj(Seq("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail))),
        "errors" -> errors))
      Files.createDirectories(p.toAbsolutePath.getParent)
      Files.writeString(p, Json.encode(detail) + "\n")
    }
    if (a.trace) {
      val p = a.spans.getOrElse(a.work.toAbsolutePath.getParent.resolve("spans").resolve(s"$runId.json"))
      Files.createDirectories(p.toAbsolutePath.getParent)
      Files.writeString(p, probe.spanRecords(runId).map(Json.encode).mkString("[\n", ",\n", "\n]\n"))
    }
    errors.foreach(e => System.err.println(s"[perfbench] FAILED $e"))
    println(Json.encode(result))
    if (failed == 0) 0 else 1
  }

  private def memTotalKb: Long =
    try {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(Paths.get("/proc/meminfo")).asScala.find(_.startsWith("MemTotal:"))
        .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    } catch { case _: Throwable => 0L }
}
