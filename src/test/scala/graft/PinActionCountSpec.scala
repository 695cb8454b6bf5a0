package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.{Graph, RankStats}

/** An operator that needs a number about a frame it pins (a loop's
  * survivor count, a bound on a cell count) reads it from the pin's own
  * job: building the operator runs its pins and no other SQL execution. */
class PinActionCountSpec extends SparkSpec {
  import spark.implicits._

  /** The SQL executions `build` runs, by action name (a pin reports
    * `localCheckpoint`). AQE splits one
    * action into many scheduler jobs, so executions are counted (the
    * ComponentsSpec way). The listener bus delivers in order and
    * asynchronously, so counting runs between two marker queries. */
  private def executions(build: => Unit): Seq[String] = {
    val names = new ConcurrentLinkedQueue[String]
    @volatile var seen = Set.empty[String]
    val ql = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val plan = qe.analyzed.toString
        Seq("__count_from_here", "__count_to_here").find(plan.contains) match {
          case Some(marker) => seen += marker
          case None => if (seen("__count_from_here")) names.add(funcName)
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def mark(marker: String): Unit = {
      spark.range(1).select(lit(1).as(marker)).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen(marker) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen(marker), s"listener never saw $marker")
    }
    spark.listenerManager.register(ql)
    try {
      mark("__count_from_here")
      build
      mark("__count_to_here")
      names.asScala.toSeq
    } finally spark.listenerManager.unregister(ql)
  }

  private val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("u", "v")

  test("kCore: one SQL execution per peeling round, its pin") {
    var core: DataFrame = null
    val ran = executions { core = Graph.kCore(path, "u", "v", k = 2) }
    // edge pin, survivor pin, then one pin per round: the 2-core of a
    // path peels {1,5}, {2,4}, {3} and confirms the empty fixpoint
    assert(ran == Seq.fill(2 + 4)("localCheckpoint"), ran.mkString(", "))
    assert(core.collect().isEmpty)
  }

  test("bfsLayers: each layer costs its two pins and no count job") {
    var layers: DataFrame = null
    val seeds = Seq(1L).toDF("node")
    val ran = executions { layers = Graph.bfsLayers(path, "u", "v", seeds, "node") }
    // edge pin and seed pin; four expanding layers each pin the new
    // frontier and the grown visited set; the empty fifth frontier is
    // one pin and stops the walk
    assert(ran == Seq.fill(2 + 4 * 2 + 1)("localCheckpoint"), ran.mkString(", "))
    assert(layers.orderBy("node").as[(Long, Long)].collect().toSeq ===
      Seq(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
  }

  test("kendallTauB: building the frame runs only the cell pin") {
    val df = Seq((1, 1), (2, 3), (3, 2), (4, 4), (4, 4)).toDF("x", "y")
    var tau: DataFrame = null
    val ran = executions { tau = RankStats.kendallTauB(df, "x", "y") }
    assert(ran == Seq("localCheckpoint"), ran.mkString(", "))
    assert(tau.head().getAs[Long]("n_cells") == 4L)
    // the bound still fires while the frame is built, before any join
    intercept[IllegalArgumentException](RankStats.kendallTauB(df, "x", "y", maxCells = 3))
  }
}
