package graft

import graft.util.Pin._

/** A pinned RDD and its job are named after the line that pinned, so
  * the Spark UI and the event log attribute a pin to its operator. */
class PinCallSiteSpec extends SparkSpec {

  test("a pinned RDD names the caller's file, not Pin.scala") {
    val lineage = spark.range(10).toDF("id").pin.rdd.toDebugString
    assert(lineage.contains("localCheckpoint at PinCallSiteSpec.scala:"), lineage)
    assert(!lineage.contains("Pin.scala"), lineage)
  }

  test("pinning restores the call site it found") {
    val sc = spark.sparkContext
    sc.setCallSite("outer site")
    try {
      val (_, m) = spark.range(5).toDF("id")
        .pinObserving(org.apache.spark.sql.functions.count("*").as("n"))
      assert(m("n") == 5L)
      assert(sc.getLocalProperty("callSite.short") == "outer site")
      assert(sc.getLocalProperty("callSite.long") == null)
    } finally sc.clearCallSite()
  }
}
