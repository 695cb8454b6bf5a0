package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `src/main` registers native SQL functions in one file,
  * `graft.plans.NativeFunctions`: no other file touches a function
  * registry, so the name, class and builder of a function cannot drift
  * between the session extension, `Graft.init` and the Column helpers. */
class NativeFunctionsScanSpec extends AnyFunSuite {

  test("src/main registers SQL functions only in graft.plans.NativeFunctions") {
    val mainRoot = Iterator.iterate(Paths.get(sys.props("user.dir")).toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .map(_.resolve("src/main/scala"))
      .find(Files.isDirectory(_))
      .getOrElse(fail("src/main/scala not found above the working directory"))
    def rel(p: Path) = mainRoot.relativize(p).toString.replace('\\', '/')
    val sources: Seq[Path] = Files.walk(mainRoot).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        rel(p) != "graft/plans/NativeFunctions.scala").toSeq
    assert(sources.size > 100, s"only ${sources.size} sources under $mainRoot")

    val hits = for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      w <- Seq("createOrReplaceTempFunction", "registerFunction", "injectFunction")
      if line.contains(w)
    } yield s"${rel(p)}:${i + 1}: $w"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
