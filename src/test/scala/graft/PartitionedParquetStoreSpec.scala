package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.PartitionedParquetStore

class PartitionedParquetStoreSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def batch1 = Seq(
    (1L, "a", ts("2024-01-05 10:00:00")),
    (2L, "b", ts("2024-01-15 10:00:00")),
    (3L, "c", ts("2024-02-01 10:00:00"))
  ).toDF("id", "v", "timestamp")

  test("upsertDistinct: double-run is byte-idempotent (K2+A1)") {
    val root = tmpDir("store-distinct")
    val store = new PartitionedParquetStore(spark, root)
    store.upsertDistinct(batch1, "timestamp")
    assert(store.read().count() === 3)
    store.upsertDistinct(batch1, "timestamp") // re-run: no dup rows
    assert(store.read().count() === 3)
    // new row in existing month merges, history preserved
    store.upsertDistinct(
      Seq((1L, "a2", ts("2024-01-06 10:00:00"))).toDF("id", "v", "timestamp"),
      "timestamp")
    assert(store.read().count() === 4)
  }

  test("upsertKeepLatest: newest timestamp wins per key (K2+A2)") {
    val root = tmpDir("store-latest")
    val store = new PartitionedParquetStore(spark, root)
    store.upsertKeepLatest(batch1, Seq("id"), "timestamp")
    store.upsertKeepLatest(
      Seq((1L, "a-new", ts("2024-01-20 10:00:00"))).toDF("id", "v", "timestamp"),
      Seq("id"), "timestamp")
    val out = store.read().orderBy("id").select("v").as[String].collect()
    assert(out.toSeq === Seq("a-new", "b", "c"))
  }

  test("upsertNewestBatch matches upsertKeepLatest under the live-collection contract") {
    val rootFast = tmpDir("store-fast")
    val rootSlow = tmpDir("store-slow")
    val fast = new PartitionedParquetStore(spark, rootFast)
    val slow = new PartitionedParquetStore(spark, rootSlow)
    // batch 2 is newer than batch 1 for every key it touches, and has
    // an internal dup on id=1 (the batch-local dedup path)
    val batch2 = Seq(
      (1L, "a-new", ts("2024-01-20 10:00:00")),
      (1L, "a-old", ts("2024-01-19 10:00:00")),
      (4L, "d", ts("2024-02-10 10:00:00"))
    ).toDF("id", "v", "timestamp")
    for (store <- Seq(fast, slow)) {
      if (store eq fast) { store.upsertNewestBatch(batch1, Seq("id"), "timestamp")
                           store.upsertNewestBatch(batch2, Seq("id"), "timestamp") }
      else               { store.upsertKeepLatest(batch1, Seq("id"), "timestamp")
                           store.upsertKeepLatest(batch2, Seq("id"), "timestamp") }
    }
    val f = fast.read().orderBy("id").select("id", "v").collect().map(_.toSeq)
    val s = slow.read().orderBy("id").select("id", "v").collect().map(_.toSeq)
    assert(f.toSeq === s.toSeq)
    assert(f.map(_(1)).toSeq === Seq("a-new", "b", "c", "d"))
    // idempotent re-run
    fast.upsertNewestBatch(batch2, Seq("id"), "timestamp")
    assert(fast.read().count() === 4)
  }

  private val flavors: Seq[(String, (PartitionedParquetStore, DataFrame) => Unit)] = Seq(
    "upsertDistinct" -> ((s, b) => s.upsertDistinct(b, "timestamp")),
    "upsertKeepLatest" -> ((s, b) => s.upsertKeepLatest(b, Seq("id"), "timestamp")),
    "upsertNewestBatch" -> ((s, b) => s.upsertNewestBatch(b, Seq("id"), "timestamp")))

  /** Every file under `root` by relative path, with its bytes. */
  private def files(root: String): Map[String, Seq[Byte]] = {
    val base = Paths.get(root)
    Files.walk(base).iterator().asScala.filter(Files.isRegularFile(_))
      .map((p: Path) => base.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
  }

  private def monthDirs(root: String): Set[String] =
    files(root).keySet.filter(_.endsWith(".parquet")).map(f => f.substring(0, f.lastIndexOf('/')))

  private def rows(store: PartitionedParquetStore): Seq[String] =
    store.read().select("id", "v", "timestamp").collect().map(_.toString).toSeq.sorted

  test("each upsert flavor evaluates its batch exactly once") {
    val evaluated = spark.sparkContext.longAccumulator("batch-row-evaluations")
    val tap = udf { (v: String) => evaluated.add(1); v }
    val batch2 = Seq(
      (1L, "a-new", ts("2024-01-20 10:00:00")),
      (4L, "d", ts("2024-02-10 10:00:00")),
      (5L, "e", ts("2024-03-02 10:00:00"))
    ).toDF("id", "v", "timestamp")
    val evaluations = flavors.map { case (name, upsert) =>
      val store = new PartitionedParquetStore(spark, tmpDir(s"store-once-$name"))
      upsert(store, batch1)
      evaluated.reset()
      upsert(store, batch2.withColumn("v", tap(col("v"))))
      assert(store.read().count() === (if (name == "upsertDistinct") 6 else 5), name)
      name -> evaluated.value.longValue
    }
    // row evaluations of the 3-row batch per flavor
    assert(evaluations === flavors.map(_._1 -> 3L))
  }

  test("a null-timestamp row keeps its stored partition across upserts") {
    val root = tmpDir("store-null-ts")
    val store = new PartitionedParquetStore(spark, root)
    val undated = Seq((8L, "h", null: Timestamp)).toDF("id", "v", "timestamp")
    store.upsertDistinct(batch1.unionByName(undated), "timestamp")
    store.upsertDistinct(
      Seq((9L, "i", null: Timestamp)).toDF("id", "v", "timestamp"), "timestamp")
    assert(store.read().filter(col("year").isNull).select("v").as[String]
      .collect().toSeq.sorted === Seq("h", "i"))
    assert(store.read().count() === 5)
  }

  test("touched months: two-month batch, empty batch, first write, rerun") {
    val stored = Seq(
      (1L, "a", ts("2024-01-05 10:00:00")),
      (3L, "c", ts("2024-02-01 10:00:00")),
      (6L, "f", ts("2024-03-01 10:00:00"))
    ).toDF("id", "v", "timestamp")
    // newer than every stored row it shares a key with; spans Feb + Mar
    val twoMonths = Seq(
      (3L, "c-new", ts("2024-02-20 10:00:00")),
      (7L, "g", ts("2024-03-09 10:00:00")),
      (7L, "g-old", ts("2024-03-08 10:00:00"))
    ).toDF("id", "v", "timestamp")
    val empty = twoMonths.filter(lit(false))
    for ((name, upsert) <- flavors) {
      // first write into a missing table: the batch's own months only
      val root = tmpDir(s"store-touched-$name") + "/t"
      val store = new PartitionedParquetStore(spark, root)
      upsert(store, stored)
      assert(monthDirs(root) === Set(1, 2, 3).map(m => s"year=2024/month=$m"))
      assert(store.read().count() === 3)

      // two-month batch: Feb and Mar are read and rewritten, Jan is not
      val before = files(root)
      upsert(store, twoMonths)
      val after = files(root)
      val jan = (f: String) => f.startsWith("year=2024/month=1/")
      assert(after.filter(kv => jan(kv._1)) === before.filter(kv => jan(kv._1)), name)
      for (m <- Seq(2, 3)) assert(
        after.keySet.filter(_.startsWith(s"year=2024/month=$m/")) !=
          before.keySet.filter(_.startsWith(s"year=2024/month=$m/")), s"$name month $m")
      val expected =
        if (name == "upsertDistinct") Seq("a", "c", "c-new", "f", "g", "g-old")
        else Seq("a", "c-new", "f", "g")
      assert(store.read().select("v").as[String].collect().toSeq.sorted === expected, name)
      for (m <- Seq(1, 2, 3)) assert(
        after.keySet.count(f => f.startsWith(s"year=2024/month=$m/") && f.endsWith(".parquet")) === 1)

      // empty batch: no month touched, the store stays byte-for-byte
      upsert(store, empty)
      assert(files(root) === after, s"$name rewrote the store for an empty batch")

      // rerun of the same batch: same rows, same month directories
      val rowsBefore = rows(store)
      upsert(store, twoMonths)
      assert(rows(store) === rowsBefore, s"$name rerun changed the rows")
      assert(monthDirs(root) === Set(1, 2, 3).map(m => s"year=2024/month=$m"))
    }
  }

  test("dynamic overwrite leaves untouched partitions alone") {
    val root = tmpDir("store-dynamic")
    val store = new PartitionedParquetStore(spark, root)
    store.upsertDistinct(batch1, "timestamp")
    val febFilesBefore = new java.io.File(s"$root/year=2024/month=2")
      .listFiles().map(_.getName).toSet
    // touch only January
    store.upsertDistinct(
      Seq((9L, "z", ts("2024-01-25 10:00:00"))).toDF("id", "v", "timestamp"),
      "timestamp")
    val febFilesAfter = new java.io.File(s"$root/year=2024/month=2")
      .listFiles().map(_.getName).toSet
    assert(febFilesBefore === febFilesAfter) // February never rewritten
    assert(store.read().count() === 4)
  }

  test("one-file-per-month-partition layout contract (K1)") {
    val root = tmpDir("store-onefile")
    val store = new PartitionedParquetStore(spark, root)
    store.upsertDistinct(batch1, "timestamp")
    for (m <- Seq(1, 2)) {
      val files = new java.io.File(s"$root/year=2024/month=$m")
        .listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1, s"month $m should hold exactly one file")
    }
  }

  test("month-pruned, column-projected read shows partition filters (S5/P3/P4)") {
    val root = tmpDir("store-prune")
    val store = new PartitionedParquetStore(spark, root)
    store.upsertDistinct(batch1, "timestamp")
    val q = store.read(months = Seq((2024, 1)), columns = Seq("id", "v"))
    assert(q.count() === 2)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("year"),
      s"expected partition pruning in plan:\n$plan")
    assert(plan.contains("ReadSchema") && !plan.contains("timestamp:"),
      "projection should prune the timestamp column from the scan")
  }

  test("missing table reads as None (start-fresh semantics)") {
    val store = new PartitionedParquetStore(spark, tmpDir("nope") + "/does-not-exist")
    assert(store.readOpt().isEmpty)
  }
}
