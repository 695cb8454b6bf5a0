package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `src/main` starts every micro-batch sink in one module,
  * `graft.streaming.MicroBatch`: no other file drains a stream with a
  * writer of its own, so the delivery policy cannot drift per sink. */
class MicroBatchScanSpec extends AnyFunSuite {

  test("src/main drains streams only in graft.streaming.MicroBatch") {
    val mainRoot = Iterator.iterate(Paths.get(sys.props("user.dir")).toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .map(_.resolve("src/main/scala"))
      .find(Files.isDirectory(_))
      .getOrElse(fail("src/main/scala not found above the working directory"))
    def rel(p: Path) = mainRoot.relativize(p).toString.replace('\\', '/')
    val sources: Seq[Path] = Files.walk(mainRoot).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        rel(p) != "graft/streaming/MicroBatch.scala").toSeq
    assert(sources.size > 100, s"only ${sources.size} sources under $mainRoot")

    val hits = for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      w <- Seq("foreachBatch", "Trigger.AvailableNow") if line.contains(w)
    } yield s"${rel(p)}:${i + 1}: $w"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
