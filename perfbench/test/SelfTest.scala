package perfbench

import perfbench.Check.Row
import perfbench.Gen.Doc

/** The benchmark's own tests: generators, the percentile rule, self-time
  * arithmetic, and that every check rejects a planted wrong answer.
  *
  * {{{
  * python3 perfbench/run.py --selftest
  * }}}
  */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case t: Throwable => failures += 1; println(s"FAIL $name: $t") }

  private def assert(cond: Boolean, what: => String): Unit = if (!cond) throw new AssertionError(what)
  private def rejects(r: Option[String], what: String): Unit = assert(r.isDefined, s"$what was accepted")
  private def accepts(r: Option[String], what: String): Unit = assert(r.isEmpty, s"$what was rejected: ${r.get}")

  def main(args: Array[String]): Unit = {
    test("generators are deterministic per seed and differ across seeds") {
      val t = Gen.yearStart(2024) + 3600
      assert(Gen.bar(7, 2, t) == Gen.bar(7, 2, t), "bar not deterministic")
      assert(Gen.bar(7, 2, t) != Gen.bar(8, 2, t), "bar ignores the seed")
      val (d1, p1) = Gen.docBatches(7, 3, 50)
      val (d2, p2) = Gen.docBatches(7, 3, 50)
      val (d3, _) = Gen.docBatches(8, 3, 50)
      assert(d1 == d2 && p1 == p2, "documents not deterministic")
      assert(d1 != d3, "documents ignore the seed")
      assert(p1.exists(_.exact) && p1.exists(!_.exact), "no planted copies of both kinds")
      assert(d1.flatten.map(_.id) == d1.flatten.indices.map(_.toLong), "ids not ascending from 0")
      val e1 = Gen.embeddings(7, 20, 8)
      assert(e1.map(_.toSeq) == Gen.embeddings(7, 20, 8).map(_.toSeq), "embeddings not deterministic")
      assert(e1.map(_.toSeq) != Gen.embeddings(8, 20, 8).map(_.toSeq), "embeddings ignore the seed")
    }

    test("market keys keep leading zeros and mora's byte limits") {
      val codes = Gen.series.map(_.code)
      assert(codes.exists(c => c.forall(_.isDigit) && c.startsWith("0")), "no all-digit code with a leading zero")
      assert(Gen.series.map(_.market.getBytes("UTF-8").length).max == 10, "no 10-byte market")
      assert(codes.map(_.getBytes("UTF-8").length).max == 18, "no 18-byte code")
    }

    test("bar timestamps follow each market's schedule") {
      val sat = Gen.epoch(java.time.LocalDate.of(2024, 7, 6))
      val krx = Gen.series.indexWhere(_.market == "KRX")
      val upbit = Gen.series.indexWhere(_.market == "UPBIT")
      assert(Gen.bars(krx, sat, sat + 86400).isEmpty, "KRX trades on Saturday")
      assert(Gen.bars(upbit, sat, sat + 86400).size == 1440, "UPBIT is not 24/7")
      assert(Gen.bars(krx, sat + 2 * 86400, sat + 3 * 86400).size == 390, "KRX session is not 390 bars")
    }

    test("percentile rule picks the highest percentile with >= 10 samples beyond it") {
      assert(Stats.tailPercentile(19).isEmpty, "19 samples")
      assert(Stats.tailPercentile(20).contains(50.0), "20 samples")
      assert(Stats.tailPercentile(100).contains(90.0), "100 samples")
      assert(Stats.tailPercentile(199).contains(90.0), "199 samples")
      assert(Stats.tailPercentile(200).contains(95.0), "200 samples")
      assert(Stats.tailPercentile(1000).contains(99.0), "1000 samples")
      assert(Stats.tailPercentile(10000).contains(99.9), "10000 samples")
      assert(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 50) == 2.5, "median interpolation")
      assert(Stats.percentile(Seq(5.0, 1.0, 3.0), 100) == 5.0, "maximum")
      assert(math.abs(Stats.geomean(Seq(2.0, 8.0)) - 4.0) < 1e-12, "geometric mean")
      assert(Stats.geomean(Seq(2.0, 0.0)) == 0.0 && Stats.geomean(Nil) == 0.0, "geometric mean of a 0 or of none")
    }

    test("self time subtracts the union of the children inside the span") {
      val parent = Span(0, -1, 0, "op", 0, 100)
      def child(a: Long, b: Long) = Span(1, 0, 0, "c", a, b)
      assert(Stats.selfUs(parent, Nil) == 100, "no children")
      assert(Stats.selfUs(parent, Seq(child(10, 30), child(20, 40), child(90, 120))) == 60,
        "overlapping and clipped children")
      assert(Stats.selfUs(parent, Seq(child(-5, 200))) == 0, "a child covering the span")
      assert(Stats.unionUs(Seq((0, 10), (10, 20), (30, 40)), 0, 100) == 30, "adjacent intervals")
      assert(TraceLayers.lateEarly(Seq(1.0, 1.0, 1.0, 1.0, 2.0, 2.0, 2.0, 4.0)) == 3.0, "late/early ratio")
    }

    val seed = 3L
    val s = Gen.series.indexWhere(_.market == "UPBIT")
    val t0 = Gen.yearStart(2025)
    val want = Check.expectedRange(seed, s, Iterator.range(0, 5).map(t0 + 60L * _))

    test("range check rejects a changed value, a missing row and a duplicate") {
      accepts(Check.sameRows("r", want.reverse, want), "the right rows in another order")
      val b = want(2).v
      rejects(Check.sameRows("r", want.updated(2, Row(want(2).ts, b.copy(_4 = Math.nextUp(b._4)))), want), "a changed close")
      rejects(Check.sameRows("r", want.updated(2, Row(want(2).ts, b.copy(_6 = 1L))), want), "changed bit_fields")
      rejects(Check.sameRows("r", want.take(4), want), "a missing row")
      rejects(Check.sameRows("r", want :+ want.head, want :+ want.head), "a duplicate row")
    }

    test("resample fold is open-first, high-max, low-min, close-last, volume-sum (F5)") {
      val rows = Seq(1.0, 3.0, 2.0, 5.0, 4.0).zipWithIndex.map { case (p, i) =>
        Row(t0 + 60L * i, (p, p + 1, p - 1, p + 0.5, 10.0, 0L))
      }
      val folded = Check.resample(rows, 300)
      assert(folded == Seq(t0 -> ((1.0, 6.0, 0.0, 4.5, 50.0, 0L))), s"got $folded")
      rejects(Check.sameBuckets("b", Seq(t0 -> ((1.0, 6.0, 0.0, 5.5, 50.0, 0L))), folded), "a wrong close")
      rejects(Check.sameBuckets("b", Nil, folded), "a missing bucket")
      accepts(Check.sameBuckets("b", folded, folded), "the right buckets")
      val day = Check.daily(rows)
      assert(day == Seq((Math.floorDiv(t0, 86400L) * 86400L, 5L, 6.0, 0.0, 50.0)), s"daily got $day")
      rejects(Check.same("d", day.map(d => d.copy(_2 = 4L)), day), "a wrong count")
    }

    test("exact dedup fold is first-wins across and within batches") {
      val b0 = Seq(Doc(0, "a b c"), Doc(1, "x y z"), Doc(2, "A B C"))
      val b1 = Seq(Doc(3, "x y z"), Doc(4, "new doc"), Doc(5, "new doc"))
      val dups = Check.exactDups(Seq(b0, b1))
      assert(dups == Seq(Set(2L), Set(3L, 5L)), s"got $dups")
      rejects(Check.same("dups", Set(3L), dups(1)), "a missed within-batch copy")
    }

    test("near-dup check rejects unverified flags and missed planted copies") {
      val idx = new Check.Shingles
      val base = (1 to 100).map(i => s"w$i").mkString(" ")
      val near = base.replace("w50 ", "zz ")
      Seq(Doc(0, base), Doc(1, "p q r s t u v"), Doc(2, near), Doc(3, "p q r s t u v x")).foreach(idx.add)
      val j = Check.jaccard(Check.shingles(base), Check.shingles(near))
      val mj = math.round(j * 10000) / 10000.0
      val planted = Seq(2L -> 0L)
      accepts(Check.nearDupFlags(Seq(2L -> mj), idx, planted, 0.5, 0.9), "a verified flag")
      rejects(Check.nearDupFlags(Seq(2L -> 0.99), idx, planted, 0.5, 0.9), "a wrong max_jaccard")
      rejects(Check.nearDupFlags(Seq(2L -> mj, 1L -> 1.0), idx, planted, 0.5, 0.9), "a flag on a first arrival")
      rejects(Check.nearDupFlags(Nil, idx, planted, 0.5, 0.9), "a missed planted copy")
      rejects(Check.nearDupFlags(Seq(2L -> mj, 2L -> mj), idx, planted, 0.5, 0.9), "a doubled flag")
    }

    test("ANN check rejects wrong scores, unknown or repeated ids, and scores recall") {
      val corpus = Map(0L -> Array(1f, 0f), 1L -> Array(0.9f, 0.1f), 2L -> Array(0f, 1f), 3L -> Array(-1f, 0f))
      val q = Array(1f, 0.05f)
      val exact = Check.topK(q, corpus, 2)
      assert(exact.map(_._1) == Seq(0L, 1L), s"brute force got $exact")
      val right = exact.map { case (i, sc) => i -> math.round(sc * 10000) / 10000.0 }
      assert(Check.annAnswer(9, right, q, corpus, 2) == Right(1.0), "the exact answer")
      val worse = Seq(right.head, 2L -> math.round(Check.cosine(q, corpus(2L)) * 10000) / 10000.0)
      assert(Check.annAnswer(9, worse, q, corpus, 2) == Right(0.5), "half recall")
      assert(Check.annAnswer(9, Seq(right.head, 1L -> 0.5), q, corpus, 2).isLeft, "a wrong score")
      assert(Check.annAnswer(9, Seq(right.head, 7L -> 0.5), q, corpus, 2).isLeft, "an unknown id")
      assert(Check.annAnswer(9, Seq(right.head, right.head), q, corpus, 2).isLeft, "a repeated id")
      assert(Check.annAnswer(9, Seq(right.head), q, corpus, 2).isLeft, "too few neighbours")
    }

    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
