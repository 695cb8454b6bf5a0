package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.{ParquetTable, PartitionedParquetStore, Warc}
import graft.streaming.{StreamingCorpusDedup, StreamingWarcIntake}

/** The one presence rule for persisted parquet tables: what reads as
  * "no table yet", what reads as a table, that an unreadable table
  * stays loud, that no first batch probes a missing store by failing a
  * read, and that `src/main` keeps no second copy of the rule. */
class ParquetTableSpec extends SparkSpec {
  import spark.implicits._

  test("presence rule: missing, bare and marker-only paths are absent; data is present, junk is loud") {
    val dir = tmpDir("ptable")
    assert(ParquetTable.readIfPresent(spark, dir + "/missing").isEmpty)
    assert(ParquetTable.readIfPresent(spark, dir).isEmpty, "empty directory")
    Files.createFile(Paths.get(dir, "_SUCCESS"))
    Files.createFile(Paths.get(dir, ".part-0.crc"))
    assert(ParquetTable.readIfPresent(spark, dir).isEmpty, "markers only")

    val table = dir + "/t"
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.parquet(table)
    val rows = Seq((1, "a"), (2, "b"))
    for (p <- Seq(table, new java.io.File(table).toURI.toString)) {
      val got = ParquetTable.readIfPresent(spark, p)
        .map(_.as[(Int, String)].collect().toSeq.sorted)
      assert(got.contains(rows), s"$p read as $got")
    }

    // a non-empty directory Spark cannot read stays loud
    val junk = tmpDir("ptable-junk")
    Files.write(Paths.get(junk, "part-0.parquet"), "not parquet".getBytes("UTF-8"))
    intercept[Exception](ParquetTable.readIfPresent(spark, junk).map(_.collect()))
  }

  test("a first batch into a missing store reports no failed query") {
    implicit val sq = spark.sqlContext
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var flushed = false
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.toString.contains("__listener_flush")) flushed = true
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        failures.add(s"$funcName: ${e.getMessage.take(200)}")
    }
    // one upsert: its pin runs an observe(), after which Spark's
    // observation listener turns every failed read into an error log
    new PartitionedParquetStore(spark, tmpDir("ptable-upsert") + "/t")
      .upsertDistinct(Seq(("x", java.sql.Timestamp.valueOf("2025-09-01 00:00:00")))
        .toDF("id", "ts"), "ts")
    spark.listenerManager.register(listener)
    try {
      val mem = MemoryStream[(Long, String)]
      mem.addData((1L, "the quick fox"), (2L, "the quick fox"))
      val accepted = collection.mutable.Buffer.empty[String]
      def acceptText(df: DataFrame): Unit =
        accepted ++= df.select("text").as[String].collect()
      StreamingCorpusDedup.run(mem.toDF().toDF("doc_id", "text"), "text",
          tmpDir("ptable-corpus") + "/hashes", tmpDir("ptable-corpus-ckpt"))(
          acceptText)
        .awaitTermination(60000)
      assert(accepted == Seq("the quick fox"))

      val warcDir = tmpDir("ptable-warc")
      Files.write(Paths.get(warcDir, "part1.warc.gz"), Warc.fixture(Seq(
        ("http://x/a", "<html><body><p>alpha content here</p></body></html>")),
        gzipPerRecord = true))
      accepted.clear()
      StreamingWarcIntake.run(spark, warcDir + "/*",
          tmpDir("ptable-warc-store") + "/hashes", tmpDir("ptable-warc-ckpt"))(
          acceptText)
        .awaitTermination(120000)
      assert(accepted == Seq("alpha content here"))

      // listener events arrive in order on one queue: once this marker
      // query's success is seen, every earlier failure has been too
      spark.range(1).select(lit(1).as("__listener_flush")).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!flushed && System.nanoTime() < deadline) Thread.sleep(50)
      assert(flushed, "listener never saw the marker query")
      assert(failures.isEmpty, s"failed queries: ${failures.asScala.toSeq}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("src/main decides table presence in one place") {
    val mainRoot = Iterator.iterate(Paths.get(sys.props("user.dir")).toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .map(_.resolve("src/main/scala"))
      .find(Files.isDirectory(_))
      .getOrElse(fail("src/main/scala not found above the working directory"))
    val sources: Seq[Path] = Files.walk(mainRoot).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def rel(p: Path) = mainRoot.relativize(p).toString.replace('\\', '/')

    // message matching is the copy this rule replaced
    val messageText = Seq("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA",
                          "Path does not exist")
    val messageHits = for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      m <- messageText if line.contains(m)
    } yield s"${rel(p)}:${i + 1}: $m"

    // readers that need no presence check: the helper itself, and
    // state readers that run only after their own writes
    val exempt = Map(
      "graft/sources/ParquetTable.scala" -> Set("readIfPresent"),
      "graft/streaming/StreamingBenford.scala" -> Set("currentState"),
      "graft/streaming/StreamingStats.scala" -> Set("currentCorr", "currentOls"),
      "graft/streaming/StreamingHeavyHitters.scala" -> Set("currentTopK"),
      "graft/streaming/StreamingChangePoint.scala" -> Set("current"))
    val Def = """\bdef\s+(\w+)""".r.unanchored
    val readHits = sources.filter(p =>
        rel(p).startsWith("graft/streaming/") || rel(p).startsWith("graft/sources/"))
      .flatMap { p =>
        var enclosing = ""
        Files.readAllLines(p).asScala.zipWithIndex.flatMap { case (line, i) =>
          line match { case Def(name) => enclosing = name; case _ => }
          if (line.contains(".read.parquet(") &&
              !exempt.getOrElse(rel(p), Set.empty[String]).contains(enclosing))
            Some(s"${rel(p)}:${i + 1} (in def $enclosing)")
          else None
        }
      }
    assert(messageHits.isEmpty && readHits.isEmpty,
      "table presence must go through ParquetTable.readIfPresent:\n" +
        (messageHits ++ readHits).mkString("\n"))
  }
}
