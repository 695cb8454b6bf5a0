package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `src/main` materializes frames in one module, `graft.util.Pin`: no
  * other file checkpoints a frame or observes metrics of its own, so
  * the pin policy and its lineage trade-off cannot drift per site. */
class PinScanSpec extends AnyFunSuite {

  test("src/main pins and observes frames only in graft.util.Pin") {
    val mainRoot = Iterator.iterate(Paths.get(sys.props("user.dir")).toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .map(_.resolve("src/main/scala"))
      .find(Files.isDirectory(_))
      .getOrElse(fail("src/main/scala not found above the working directory"))
    def rel(p: Path) = mainRoot.relativize(p).toString.replace('\\', '/')
    val sources: Seq[Path] = Files.walk(mainRoot).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        rel(p) != "graft/util/Pin.scala").toSeq
    assert(sources.size > 100, s"only ${sources.size} sources under $mainRoot")

    val hits = for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      w <- Seq(".localCheckpoint(", ".checkpoint(", "Observation(") if line.contains(w)
    } yield s"${rel(p)}:${i + 1}: $w"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
