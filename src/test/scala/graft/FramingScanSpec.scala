package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `src/main` frames RIFF/IFF chunks, ISO-BMFF boxes, PNG chunks and
  * JPEG header segments in one module, `graft.util.Containers`: no
  * other file keeps a walk of its own, or the size arithmetic such a
  * walk is written with. */
class FramingScanSpec extends AnyFunSuite {

  test("src/main walks container framing only in graft.util.Containers") {
    val mainRoot = Iterator.iterate(Paths.get(sys.props("user.dir")).toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .map(_.resolve("src/main/scala"))
      .find(Files.isDirectory(_))
      .getOrElse(fail("src/main/scala not found above the working directory"))
    def rel(p: Path) = mainRoot.relativize(p).toString.replace('\\', '/')
    // JpegCodec keeps its own marker walk: its scans interleave
    // entropy-coded data on the bit-exact decode path
    val exempt = Set("graft/util/Containers.scala", "graft/llm/JpegCodec.scala")
    val sources: Seq[Path] = Files.walk(mainRoot).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !exempt(rel(p))).toSeq
    assert(sources.size > 100, s"only ${sources.size} sources under $mainRoot")

    val walkCode = Seq("def box(", "def boxes(", "def walkChunks(", "def exifBlock(",
      "def payloadRange(", "size.toInt & 1", "(size & 1)", "pos + 12L + len")
    val hits = for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      w <- walkCode if line.contains(w)
    } yield s"${rel(p)}:${i + 1}: $w"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
