package perfbench

import java.time.LocalDate

import graft.sources.TeamRankingsNormalizer

/** Self-tests of the benchmark's generators and fingerprinting (no Spark
  * session needed). Prints one line per check and, last, the fingerprint
  * of [[Sample]] so the Python side can assert it computes the same
  * value. Exit code 1 on any failed check. */
object SelfTest {
  val Columns: Seq[String] = Seq("id", "name", "score", "when")
  val Sample: Seq[Seq[Any]] = Seq(
    Seq(1L, "alpha", 1.5, java.sql.Date.valueOf("2024-02-29")),
    Seq(2L, null, -0.0, java.sql.Date.valueOf("1999-12-31")),
    Seq(3L, "gamma é", 1e-7, null),
    Seq(3L, "gamma é", 1e-7, null))

  def main(args: Array[String]): Unit = {
    var failed = 0
    def check(name: String)(ok: => Boolean): Unit = {
      val pass = try ok catch { case e: Throwable => System.err.println(e); false }
      if (!pass) failed += 1
      println(s"${if (pass) "ok  " else "FAIL"} $name")
    }
    val day = LocalDate.of(2025, 10, 2)
    val spec = TeamRankingsNormalizer.registry.head

    check("odds payload: same seed gives the same bytes")(
      Gen.oddsPayload(7, 3, day) == Gen.oddsPayload(7, 3, day))
    check("odds payload: another seed gives other inputs")(
      Gen.oddsPayload(7, 3, day)._1 != Gen.oddsPayload(8, 3, day)._1)
    check("odds payload: row count does not depend on the seed")(
      Gen.oddsPayload(7, 3, day)._2 == Gen.oddsPayload(8, 3, day)._2)
    check("rankings table: same seed gives the same cells")(
      Gen.rankingsTable(7, 3, 0, spec) == Gen.rankingsTable(7, 3, 0, spec))
    check("rankings table: another seed gives other cells")(
      Gen.rankingsTable(7, 3, 0, spec) != Gen.rankingsTable(8, 3, 0, spec))
    check("stored rankings: seeded")(
      Gen.storedRankings(7, 1, Seq("a", "b")) == Gen.storedRankings(7, 1, Seq("a", "b")) &&
        Gen.storedRankings(7, 1, Seq("a", "b")) != Gen.storedRankings(8, 1, Seq("a", "b")))

    val a = Gen.images(7, 2); val b = Gen.images(7, 2); val c = Gen.images(8, 2)
    check("images: same seed gives the same bytes")(
      a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x.bytes, y.bytes) })
    check("images: another seed gives other pictures")(
      a.zip(c).forall { case (x, y) => !java.util.Arrays.equals(x.bytes, y.bytes) })
    check("images: sizes and formats do not depend on the seed")(
      a.map(i => (i.w, i.h, i.format)) == c.map(i => (i.w, i.h, i.format)))
    check("images: every format is present")(a.map(_.format).distinct == Gen.Formats)

    val f = Fingerprint.of(Columns, Sample.iterator)
    check("fingerprint: stable under row order")(
      Fingerprint.of(Columns, Sample.reverseIterator) == f)
    check("fingerprint: stable under column order")(
      Fingerprint.of(Columns.reverse, Sample.iterator.map(_.reverse)) == f)
    check("fingerprint: counts duplicate rows")(
      Fingerprint.of(Columns, Sample.distinct.iterator) != f)
    check("fingerprint: sees a changed value")(
      Fingerprint.of(Columns, (Sample.head.updated(2, 1.25) +: Sample.tail).iterator) != f)
    check("fingerprint: -0.0 and 0.0 agree")(
      Fingerprint.canon(-0.0) == Fingerprint.canon(0.0))
    check("fingerprint: int widths agree")(
      Fingerprint.canon(5) == Fingerprint.canon(5L) && Fingerprint.canon(5.toShort) == "5")
    println(s"sample ${f.rows} ${f.hash}")
    sys.exit(if (failed == 0) 0 else 1)
  }
}
