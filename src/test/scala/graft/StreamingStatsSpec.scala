package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Profiler
import graft.streaming.StreamingStats

/** Streaming correlation-state maintenance: micro-batch folds must be
  * BIT-IDENTICAL to a monolithic recompute over all data ever seen
  * (the q128 contract, here proven end-to-end through the stream,
  * checkpoint restart included). */
class StreamingStatsSpec extends SparkSpec {
  import spark.implicits._

  /** A state path written as a `file:` URI — the form the parquet
    * stores accept, and the one a `java.io.File` probe never finds. */
  private def uriPath(prefix: String): String =
    new java.io.File(tmpDir(prefix) + "/state").toURI.toString

  test("streamed state folds == monolithic recompute, across restarts") {
    corrScenario(tmpDir("corr-state") + "/state")
  }

  test("streamed state folds == monolithic recompute, file: URI state path") {
    corrScenario(uriPath("corr-state-uri"))
  }

  test("streamed OLS state folds == monolithic q191 refit, across restarts") {
    olsScenario(tmpDir("ols-state") + "/state")
  }

  test("streamed OLS state folds == monolithic q191 refit, file: URI state path") {
    olsScenario(uriPath("ols-state-uri"))
  }

  private def corrScenario(statePath: String): Unit = {
    implicit val sq = spark.sqlContext
    val ckpt = tmpDir("corr-ckpt")
    val cols = Seq("x", "y", "z")

    def rows(r: Range) = r.map { i =>
      (i.toDouble, (2 * i + 1).toDouble, ((i * i) % 89).toDouble)
    }

    val mem = MemoryStream[(Double, Double, Double)]
    mem.addData(rows(1 to 60): _*)
    mem.addData(rows(61 to 140): _*)
    val stream = mem.toDF().toDF("x", "y", "z")

    val q1 = StreamingStats.corrMaintain(stream, cols, scale = 2,
                                         statePath, ckpt)
    q1.awaitTermination(60000)

    // restart from the checkpoint with more data: only the new batch folds
    mem.addData(rows(141 to 200): _*)
    val q2 = StreamingStats.corrMaintain(stream, cols, scale = 2,
                                         statePath, ckpt)
    q2.awaitTermination(60000)

    val streamed = StreamingStats.currentCorr(spark, statePath, cols)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val monolithic = Profiler.corrMatrix(rows(1 to 200).toDF("x", "y", "z"),
                                         cols, scale = 2)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(streamed == monolithic)
    assert(streamed(("x", "y"))._1 == 200L)
    assert(streamed(("x", "y"))._2 == 1.0) // y = 2x+1: exactly linear

    // At-least-once replay: re-applying an ALREADY-APPLIED batchId (a
    // crash between state overwrite and checkpoint commit) must be a
    // no-op — the state folds each batch exactly once.
    val lastBatch = spark.read.parquet(statePath)
      .select("__last_batch").head.getLong(0)
    val before = spark.read.parquet(statePath).collect().toSeq
    StreamingStats.applyBatch(rows(141 to 200).toDF("x", "y", "z"),
                              lastBatch, cols, scale = 2, statePath)
    val after = spark.read.parquet(statePath).collect().toSeq
    assert(after == before, "replayed batch must not fold into state twice")
  }

  private def olsScenario(statePath: String): Unit = {
    implicit val sq = spark.sqlContext
    val ckpt = tmpDir("ols-ckpt")

    // y = 3 + 2·x1 − 0.5·x2 + deterministic non-linear remainder, so
    // the fit is non-trivial (0 < r2 < 1) and every coefficient digit
    // matters to the equality below
    def rows(r: Range) = r.map { i =>
      val x1 = i.toDouble / 7.0
      val x2 = ((i * i) % 83).toDouble / 11.0
      (3.0 + 2.0 * x1 - 0.5 * x2 + ((i * 13) % 17).toDouble / 29.0, x1, x2)
    }

    val mem = MemoryStream[(Double, Double, Double)]
    mem.addData(rows(1 to 70): _*)
    mem.addData(rows(71 to 130): _*)
    val stream = mem.toDF().toDF("y", "x1", "x2")

    val q1 = graft.streaming.StreamingStats.olsMaintain(
      stream, "y", "x1", "x2", statePath, ckpt)
    q1.awaitTermination(60000)

    // restart from the checkpoint with more data: only the new batch folds
    mem.addData(rows(131 to 200): _*)
    val q2 = graft.streaming.StreamingStats.olsMaintain(
      stream, "y", "x1", "x2", statePath, ckpt)
    q2.awaitTermination(60000)

    val streamed = graft.streaming.StreamingStats
      .currentOls(spark, statePath).collect().toSeq
    val monolithic = graft.operators.Regression.olsTwoFeature(
      rows(1 to 200).toDF("y", "x1", "x2"), "y", "x1", "x2")
      .collect().toSeq
    assert(streamed == monolithic,
      "streamed fold must be bit-identical to the monolithic refit")
    assert(streamed.head.getLong(0) == 200L)
    val r2 = streamed.head.getDouble(4)
    assert(r2 > 0.5 && r2 < 1.0, s"fit should be non-trivial, r2=$r2")

    // at-least-once replay of an already-applied batchId is a no-op
    val lastBatch = spark.read.parquet(statePath)
      .select("__last_batch").head.getLong(0)
    val before = spark.read.parquet(statePath).collect().toSeq
    graft.streaming.StreamingStats.olsApplyBatch(
      rows(131 to 200).toDF("y", "x1", "x2"), lastBatch,
      "y", "x1", "x2", statePath)
    val after = spark.read.parquet(statePath).collect().toSeq
    assert(after == before, "replayed batch must not fold into state twice")
  }
}
