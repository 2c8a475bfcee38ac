package perfbench

/** The benchmark's own tests: generator determinism, the tail rule and
  * self-time arithmetic. Run with `python3 perfbench/run.py --self-test`;
  * exits non-zero on the first failure. */
object SelfTest {

  private var failures = 0
  private def expect(ok: Boolean, what: String): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }
  private def near(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    val spec = Corpus.Spec(Seq(2015, 2019), colorsPerDay = 2,
      d1Questions = (20, 30), d2Questions = (20, 30), questionsPerPage = (2, 5),
      stemWords = (10, 40), figureShare = 0.1, nonStandardShare = 0.1)
    val a = Corpus.generate(7L, spec)
    val b = Corpus.generate(7L, spec)
    val c = Corpus.generate(8L, spec)
    expect(Corpus.digest(a) == Corpus.digest(b), "same seed gives identical bytes")
    expect(a.records == b.records, "same seed gives an identical manifest")
    expect(Corpus.digest(a) != Corpus.digest(c), "another seed gives other bytes")
    expect(a.booklets.size == 8 && a.files == 16, "2 years x 2 days x 2 colors")
    expect(a.records.size < a.markers && a.records.nonEmpty,
      "image pages and non-standard questions are dropped from the manifest")
    expect(a.booklets.forall(_.name.matches("20\\d\\d_PV_impresso_D[12]_CD[1-9]\\.pdf")),
      "booklet names follow the ENEM pattern")
    val d1 = a.booklets.filter(_.name.contains("_D1_")).groupBy(_.name.take(4))
    expect(d1.values.forall(bs => bs.map(_.records.map(_.pageContent.trim).toSet)
        .reduce(_ intersect _).nonEmpty),
      "colors of one (year, day) share question text")
    val single = Corpus.single(7L, spec, 2031, "D2")
    expect(single.booklets.size == 1 && single.records.forall(_.year == 2031),
      "a single-booklet folder carries its own year")

    val xs = (1 to 100).map(_.toDouble)
    expect(Trace.tail(xs) == Some((90.0, 90.0)),
      "tail of 1..100 is p90 = 90 with ten samples beyond")
    expect(Trace.tail((1 to 20).map(_.toDouble)) == Some((50.0, 10.0)),
      "tail of 20 samples is p50 = 10 with ten beyond")
    expect(Trace.tail((1 to 19).map(_.toDouble)).isEmpty,
      "no tail below 20 samples")
    val t = Trace.tail(scala.util.Random.shuffle((1 to 57).map(_.toDouble)))
    expect(t.exists { case (_, v) => (1 to 57).count(_ > v) == 10 },
      "exactly ten samples lie beyond the reported tail")
    expect(near(Trace.median(Seq(3.0, 1.0, 2.0)), 2.0) &&
      near(Trace.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5), "median")

    def s(id: Int, a: Long, b: Long) = Span(id, "x", 0, 0, a * 1000000000L, b * 1000000000L)
    val parent = s(1, 0, 10)
    expect(near(Trace.selfSeconds(parent, Nil), 10), "no children: self = duration")
    expect(near(Trace.selfSeconds(parent, Seq(s(2, 1, 3), s(3, 5, 6))), 7),
      "disjoint children subtract their durations")
    expect(near(Trace.selfSeconds(parent, Seq(s(2, 1, 4), s(3, 3, 6))), 5),
      "overlapping children are covered once")
    expect(near(Trace.selfSeconds(parent, Seq(s(2, -2, 2), s(3, 9, 12))), 7),
      "children are clipped to the parent interval")
    expect(near(Trace.selfSeconds(parent, Seq(s(2, 0, 10), s(3, 2, 3))), 0),
      "fully covered parent has no self time")
    expect(near(Trace.unionSeconds(Seq((0L, 2000000000L), (1000000000L, 3000000000L),
      (5000000000L, 6000000000L))), 4), "interval union")

    println(if (failures == 0) "self-test passed" else s"self-test: $failures failed")
    System.exit(if (failures == 0) 0 else 1)
  }
}
