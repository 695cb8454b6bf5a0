package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every native expression in `graft.plans` writes its kernel once, as
  * a Scala method that both `nullSafeEval` and the generated code call:
  * no file there builds Java source from a template (`stripMargin`) or
  * declares generated locals (`freshName`), so the interpreted and the
  * generated path cannot drift apart. */
class NativeKernelScanSpec extends AnyFunSuite {

  test("graft.plans generates one call per kernel, never a Java loop") {
    val plansRoot = Iterator.iterate(Paths.get(sys.props("user.dir")).toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .map(_.resolve("src/main/scala/graft/plans"))
      .find(Files.isDirectory(_))
      .getOrElse(fail("src/main/scala/graft/plans not found above the working directory"))
    def rel(p: Path) = plansRoot.relativize(p).toString.replace('\\', '/')
    val sources: Seq[Path] = Files.walk(plansRoot).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size >= 13, s"only ${sources.size} sources under $plansRoot")

    val hits = for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      w <- Seq("stripMargin", "freshName(") if line.contains(w)
    } yield s"${rel(p)}:${i + 1}: $w"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
