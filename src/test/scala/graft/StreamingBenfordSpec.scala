package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.operators.Profiler
import graft.streaming.StreamingBenford

/** Streamed cumulative digit state must be BIT-IDENTICAL to a batch
  * benfordAudit over all data ever seen — across a checkpoint
  * restart — and the per-batch audit row must flag a drifted batch
  * that the cumulative view still absorbs. */
class StreamingBenfordSpec extends SparkSpec {
  import spark.implicits._

  test("streamed digit folds == monolithic audit, restart included; drift flags per batch") {
    scenario(tmpDir("benford-state") + "/state")
  }

  test("streamed digit folds == monolithic audit, file: URI state path") {
    scenario(new java.io.File(tmpDir("benford-state-uri") + "/state")
      .toURI.toString)
  }

  test("a pre-created empty state directory reads as no state yet") {
    implicit val sq = spark.sqlContext
    val statePath = tmpDir("benford-empty-state") // exists, holds nothing
    val values = (1 to 120).map(i => math.pow(1.07, i) % 5000 + 1.0)
    val mem = MemoryStream[Double]
    mem.addData(values: _*)
    StreamingBenford.monitor(mem.toDF().toDF("v"), "v", statePath,
        tmpDir("benford-empty-audit") + "/audit", tmpDir("benford-empty-ckpt"))
      .awaitTermination(60000)
    val streamed = StreamingBenford.currentState(spark, statePath)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val batch = Profiler.firstDigitCounts(values.toDF("v"), "v")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
  }

  test("a batch replayed after its side effects folds in once and audits once") {
    implicit val sq = spark.sqlContext
    val statePath = tmpDir("benford-replay-state") + "/state"
    val auditPath = tmpDir("benford-replay-audit") + "/audit"
    val ckpt = tmpDir("benford-replay-ckpt")
    val healthy = (1 to 300).map(i => math.pow(1.04, i) % 9000 + 1.0)
    val drifted = (1 to 200).map(i => 7000.0 + i)

    val mem = MemoryStream[Double]
    def drain(): Unit = StreamingBenford.monitor(mem.toDF().toDF("v"), "v",
      statePath, auditPath, ckpt).awaitTermination(60000)
    mem.addData(healthy: _*)
    drain()
    mem.addData(drifted: _*)
    drain()

    // a crash after the last batch's writes but before its commit:
    // the restart re-runs that batch under the same batchId
    val commits = new java.io.File(ckpt, "commits")
    val last = commits.list().filter(_.forall(_.isDigit)).map(_.toLong).max
    assert(new java.io.File(commits, last.toString).delete())
    new java.io.File(commits, s".$last.crc").delete()
    drain()
    assert(commits.list().contains(last.toString), "replayed batch never re-ran")

    val streamed = StreamingBenford.currentState(spark, statePath)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val monolithic = Profiler
      .firstDigitCounts((healthy ++ drifted).toDF("v"), "v")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(streamed == monolithic, "replayed batch must fold into state once")
    val perBatch = spark.read.parquet(auditPath).groupBy("batch_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perBatch == Map(0L -> 1L, last -> 1L),
      s"one audit row per batch_id, got $perBatch")
  }

  test("a state table refuses a fold under another checkpoint") {
    implicit val sq = spark.sqlContext
    val statePath = tmpDir("benford-foreign-state") + "/state"
    val auditPath = tmpDir("benford-foreign-audit") + "/audit"
    val mem = MemoryStream[Double]
    def drain(ckpt: String): Unit = StreamingBenford.monitor(mem.toDF().toDF("v"), "v",
      statePath, auditPath, ckpt).awaitTermination(60000)
    mem.addData((1 to 300).map(i => math.pow(1.04, i) % 9000 + 1.0): _*)
    drain(tmpDir("benford-ckpt-a"))
    val folded = StreamingBenford.currentState(spark, statePath).collect().toSet

    // a fresh checkpoint restarts batchIds at 0, at or below the stamp
    // checkpoint A left on the state table
    mem.addData((1 to 200).map(i => 7000.0 + i): _*)
    val err = intercept[StreamingQueryException](drain(tmpDir("benford-ckpt-b")))
    val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(_.isInstanceOf[IllegalStateException]), err)
    assert(StreamingBenford.currentState(spark, statePath).collect().toSet == folded)
  }

  private def scenario(statePath: String): Unit = {
    implicit val sq = spark.sqlContext
    val auditPath = tmpDir("benford-audit") + "/audit"
    val ckpt = tmpDir("benford-ckpt")

    // batch 1: roughly Benford-ish (geometric-ish spread of magnitudes)
    val healthy = (1 to 300).map(i => math.pow(1.04, i) % 9000 + 1.0)
    // batch 2: all values share first digit 7 — blatant drift
    val drifted = (1 to 200).map(i => 7000.0 + i)

    val mem = MemoryStream[Double]
    mem.addData(healthy: _*)
    val q1 = StreamingBenford.monitor(mem.toDF().toDF("v"), "v",
      statePath, auditPath, ckpt)
    q1.awaitTermination(60000)

    // restart from the checkpoint: only the new batch folds
    mem.addData(drifted: _*)
    val q2 = StreamingBenford.monitor(mem.toDF().toDF("v"), "v",
      statePath, auditPath, ckpt)
    q2.awaitTermination(60000)

    val streamed = StreamingBenford.currentState(spark, statePath)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val monolithic = Profiler
      .firstDigitCounts((healthy ++ drifted).toDF("v"), "v")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(streamed == monolithic, "cumulative state must equal batch recompute")

    val audit = spark.read.parquet(auditPath)
      .orderBy("batch_id").collect()
    assert(audit.length == 2)
    val (devB1, devB2) = (audit(0).getAs[Double]("dev_batch"),
      audit(1).getAs[Double]("dev_batch"))
    // all-sevens batch: obs share 1.0 vs benford(7) ~= 0.058 -> dev ~ 0.94
    assert(devB2 > 0.9, s"drifted batch must flag hard, got $devB2")
    assert(devB1 < devB2)
    // cumulative view absorbs the drifted batch partially
    val devCum = audit(1).getAs[Double]("dev_cum")
    assert(devCum < devB2 && devCum > devB1)
    assert(audit(1).getAs[Long]("n_total") == 500L)
  }
}
