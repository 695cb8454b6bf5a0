package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region. Times are nanoseconds since the probe started. */
final class Span(val id: Int, val parent: Int, val kind: String, val name: String,
                 val start: Long) {
  var end: Long = -1L
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  def seconds: Double = (end - start) / 1e9
}

/** Per-pass execution counters, filled from Spark's listener events. */
final class Counters {
  val sums: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val taskSeconds: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  def add(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v
  def apply(k: String): Double = sums.getOrElse(k, 0.0)
}

/** Spans for workload → pass → operation → phase, plus (when tracing)
  * Spark jobs, stages, tasks and Catalyst phases from the public
  * `SparkListener` and `QueryExecutionListener` APIs. Spans are always
  * kept (they are what the operation timings are read from); the Spark
  * listeners are attached only while tracing is switched on. */
final class Probe(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  private def fromMs(ms: Long): Long = (ms - t0Ms) * 1000000L
  def now: Long = System.nanoTime() - t0Ns

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil
  private val SpanKey = "perfbench.span"

  private val codegenAtOpen = mutable.HashMap.empty[Int, (Double, Long)]

  def open(kind: String, name: String): Span = {
    val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), kind, name, now)
    spans += s
    stack = s :: stack
    sc.setLocalProperty(SpanKey, s.id.toString)
    if (attached) codegenAtOpen(s.id) = compiled
    s
  }

  def close(s: Span): Unit = {
    s.end = now
    stack = stack.dropWhile(_ ne s).drop(1)
    sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
    codegenAtOpen.remove(s.id).foreach { case (t0, n0) =>
      val (t1, n1) = compiled
      s.attrs("codegen_classes") = n1 - n0
      s.attrs("codegen_compile_ms") = (t1 - t0) * 1e3
    }
  }

  def span[T](kind: String, name: String)(body: => T): T = {
    val s = open(kind, name)
    try body finally close(s)
  }

  // ---- Spark listeners -------------------------------------------------

  private val events = new ConcurrentLinkedQueue[AnyRef]()
  private final case class Phases(phases: Seq[(String, Long, Long)])

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = events.add(e)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = events.add(e)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = events.add(e)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = events.add(e)
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      events.add(Phases(qe.tracker.phases.toSeq.map { case (k, p) => (k, p.startTimeMs, p.endTimeMs) }))
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private var attached = false
  def tracing: Boolean = attached

  def attach(on: Boolean): Unit = if (on != attached) {
    if (on) { sc.addSparkListener(sparkListener); spark.listenerManager.register(queryListener) }
    else {
      org.apache.spark.perfbench.Bus.drain(sc)
      sc.removeSparkListener(sparkListener); spark.listenerManager.unregister(queryListener)
      events.clear()
    }
    attached = on
  }

  private val jobSpans = mutable.HashMap.empty[Int, Span]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  /** Wait for the listener bus, then turn every pending event into spans
    * under the span that submitted it, and fold task metrics into `into`.
    * Catalyst phase events carry no span, so they go to `owner`, the
    * operation that just ran (operations run one at a time). */
  def collect(owner: Span, into: Counters): Unit = if (attached) {
    org.apache.spark.perfbench.Bus.drain(sc)
    def spanOf(props: java.util.Properties): Span =
      Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(i => spans(i.toInt)).getOrElse(owner)
    var e = events.poll()
    while (e != null) {
      e match {
        case j: SparkListenerJobStart =>
          val parent = spanOf(j.properties)
          val s = new Span(spans.size, parent.id, "job", s"job ${j.jobId}", fromMs(j.time))
          spans += s
          jobSpans(j.jobId) = s
          j.stageIds.foreach(stageJob(_) = j.jobId)
          into.add("jobs", 1)
          if (parent.kind == "construct") into.add("construct_jobs", 1)
        case j: SparkListenerJobEnd =>
          jobSpans.get(j.jobId).foreach(_.end = fromMs(j.time))
        case st: SparkListenerStageCompleted =>
          val i = st.stageInfo
          val parent = stageJob.get(i.stageId).flatMap(jobSpans.get)
          val s = new Span(spans.size, parent.fold(owner.id)(_.id), "stage",
            s"stage ${i.stageId}.${i.attemptNumber()}", fromMs(i.submissionTime.getOrElse(t0Ms)))
          s.end = fromMs(i.completionTime.getOrElse(t0Ms))
          s.attrs("tasks") = i.numTasks
          i.failureReason.foreach(r => s.attrs("failure") = r.take(200))
          spans += s
          into.add("stages", 1)
        case t: SparkListenerTaskEnd =>
          into.add("tasks", 1)
          if (!t.taskInfo.successful) into.add("failed_tasks", 1)
          into.taskSeconds += t.taskInfo.duration / 1e3
          Option(t.taskMetrics).foreach { m =>
            into.add("executor_cpu_s", m.executorCpuTime / 1e9)
            into.add("executor_run_s", m.executorRunTime / 1e3)
            into.add("task_deser_s", m.executorDeserializeTime / 1e3)
            into.add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
            into.add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
            into.add("shuffle_records", m.shuffleReadMetrics.recordsRead.toDouble)
            into.add("spill_b", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          }
        case Phases(ps) =>
          ps.foreach { case (k, a, b) =>
            into.add(s"${k}_s", (b - a) / 1e3)
            val s = new Span(spans.size, owner.id, "catalyst", k, fromMs(a))
            s.end = fromMs(b)
            spans += s
          }
        case _ =>
      }
      e = events.poll()
    }
  }

  // ---- process-wide counters -------------------------------------------

  /** CPU seconds used by the whole process (task, driver, JIT and GC
    * threads). */
  def cpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Time the JIT compiler threads have spent compiling, summed over threads. */
  def jitSeconds: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Whole-stage and expression code generation: compile time (ns),
    * compiled classes, and generated source bytes (count × the
    * histogram's recent mean — Spark keeps only a sampled histogram). */
  def codegen: (Double, Long, Double) = {
    val src = CodegenMetrics.METRIC_SOURCE_CODE_SIZE
    val (t, n) = compiled
    (t, n, src.getCount * src.getSnapshot.getMean)
  }

  /** Code-generation compile seconds and compiled classes so far. */
  private def compiled: (Double, Long) =
    (CodeGenerator.compileTime / 1e9, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** Spans as JSON-ready maps, each with its self time (its duration
    * minus the time covered by its children, which may overlap: parallel
    * stages, Catalyst phases inside an execution) and the Spark tasks run
    * beneath it. */
  def spanRecords(runId: String): Seq[Json.Obj] = {
    val covered = spans.filter(s => s.parent >= 0 && s.end >= 0).groupBy(_.parent).map {
      case (p, kids) =>
        val (total, _) = kids.map(k => (k.start, k.end)).sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
            val from = math.max(a, reach)
            (sum + math.max(0L, b - from), math.max(reach, b))
          }
        p -> total
    }.withDefaultValue(0L)
    val tasks = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    spans.filter(_.kind == "stage").foreach { st =>
      var p = st.parent
      while (p >= 0) { tasks(p) += st.attrs("tasks").asInstanceOf[Int]; p = spans(p).parent }
    }
    spans.toSeq.map { s =>
      val dur = if (s.end >= 0) s.end - s.start else 0L
      Json.Obj(Seq("run" -> runId, "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start_ms" -> s.start / 1e6, "dur_ms" -> dur / 1e6,
        "self_ms" -> (dur - covered(s.id)) / 1e6) ++
        (if (tasks(s.id) > 0) Seq("tasks_below" -> tasks(s.id)) else Nil) ++ s.attrs.toSeq)
    }
  }
}
