package perfbench

import java.time.{DayOfWeek, LocalDate, ZoneOffset}

/** Seeded input generators. Every value is a pure function of the seed
  * and its coordinates, so the checks in [[Check]] recompute any expected
  * output without running the program under test.
  */
object Gen {

  /** splitmix64 finalizer: the one hash every generator draws from. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(parts: Long*): Long = parts.foldLeft(0x5EEDL)((h, p) => mix(h ^ p))

  /** Uniform double in [0, 1) from a hash. */
  def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  // ---------------------------------------------------------------- candles

  /** When a market trades, as minute-of-day windows in UTC. */
  sealed trait Schedule extends Serializable {
    def trades(day: LocalDate): Boolean
    def firstMinute: Int
    def minutes: Int
  }
  /** Crypto exchanges: every minute of every day. */
  case object AllDay extends Schedule {
    def trades(day: LocalDate): Boolean = true
    val firstMinute = 0
    val minutes = 1440
  }
  /** A weekday session of 390 one-minute bars starting at `firstMinute`. */
  final case class Weekdays(firstMinute: Int) extends Schedule {
    def trades(day: LocalDate): Boolean =
      day.getDayOfWeek != DayOfWeek.SATURDAY && day.getDayOfWeek != DayOfWeek.SUNDAY
    val minutes = 390
  }

  final case class Series(idx: Int, market: String, code: String,
                          sched: Schedule, base: Double) {
    def key: String = s"$market/$code"
  }

  /** Real market keys: KRX all-digit codes with leading zeros, an UPBIT
    * pair code, and one market and one code at mora's 10- and 18-byte
    * limits. Mixing them in one store makes Spark resolve `code` as a
    * string. Listed hottest first: reads rank series in this order.
    */
  val series: IndexedSeq[Series] = {
    val krx = Weekdays(0) // 09:00 KST
    Seq(("KRX", "005930", krx, 70000.0), ("UPBIT", "KRW-BTC", AllDay, 90000000.0),
      ("KRX", "000660", krx, 180000.0), ("KRX", "035420", krx, 190000.0),
      ("OTC-GLOBAL", "XS1234567890-2030A", Weekdays(810), 100.0), // 13:30 UTC
      ("KRX", "000270", krx, 95000.0))
      .zipWithIndex.map { case ((m, c, s, b), i) => Series(i, m, c, s, b) }.toIndexedSeq
  }

  val Length = 60 // one-minute bars

  /** One bar's values: (open, high, low, close, volume, bit_fields).
    * Volumes are whole numbers so sums are exact in any order.
    */
  def bar(seed: Long, s: Int, ts: Long): (Double, Double, Double, Double, Double, Long) = {
    val b = series(s).base
    val h = hash(seed, s, ts)
    def price(t: Long): Double =
      b * (1 + 0.05 * StrictMath.sin(t / 86400.0 * 0.9 + s))
    val open = price(ts) * (1 + 0.002 * (unit(h) - 0.5))
    val close = price(ts + Length) * (1 + 0.002 * (unit(mix(h)) - 0.5))
    val high = math.max(open, close) + b * 0.001 * unit(mix(h + 1))
    val low = math.min(open, close) - b * 0.001 * unit(mix(h + 2))
    val volume = (1 + (mix(h + 3) >>> 40) % 5000).toDouble
    (open, high, low, close, volume, 0L)
  }

  def dayOf(ts: Long): LocalDate = LocalDate.ofEpochDay(Math.floorDiv(ts, 86400L))

  def epoch(d: LocalDate): Long = d.atStartOfDay(ZoneOffset.UTC).toEpochSecond

  /** Bar timestamps of series `s` in [from, to), ascending. */
  def bars(s: Int, from: Long, to: Long): Iterator[Long] = {
    val sch = series(s).sched
    Iterator.iterate(dayOf(from))(_.plusDays(1))
      .takeWhile(d => epoch(d) < to)
      .filter(sch.trades)
      .flatMap { d =>
        val d0 = epoch(d) + sch.firstMinute * 60L
        Iterator.range(0, sch.minutes).map(i => d0 + i * 60L)
      }
      .filter(t => t >= from && t < to)
  }

  def yearStart(y: Int): Long = epoch(LocalDate.of(y, 1, 1))

  /** Draws ranks 0..n-1 with Zipf(`s`) weights, rank 0 the hottest. */
  final class Zipf(n: Int, s: Double, rnd: scala.util.Random) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r, s))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(n - 1, if (i >= 0) i + 1 else -i - 1)
    }
  }

  // ------------------------------------------------------------ documents

  /** A seeded vocabulary of pronounceable lower-case ASCII words. */
  def vocabulary(seed: Long, n: Int): IndexedSeq[String] = {
    val cons = "bcdfghjklmnprstvwz"; val vow = "aeiou"
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    var i = 0L
    while (seen.size < n) {
      val h = hash(seed, 77, i)
      val syl = 1 + (h >>> 60).toInt % 3
      seen += (0 until syl).map { j =>
        val g = mix(h + j)
        s"${cons(((g >>> 8) % cons.length).toInt)}${vow(((g >>> 20) % vow.length).toInt)}" +
          (if ((g & 1) == 0) cons(((g >>> 32) % cons.length).toInt).toString else "")
      }.mkString
      i += 1
    }
    seen.toIndexedSeq
  }

  final case class Doc(id: Long, text: String)

  /** Where a planted document came from: `exact` copies differ at most in
    * letter case; near copies have one or two words replaced.
    */
  final case class Plant(id: Long, of: Long, exact: Boolean)

  /** `nBatches` batches of `perBatch` documents with ascending ids. In
    * every batch 8% are exact copies of an earlier document (half of them
    * upper-cased) and 8% are copies with one or two words replaced, at
    * seeded positions.
    */
  def docBatches(seed: Long, nBatches: Int, perBatch: Int): (IndexedSeq[IndexedSeq[Doc]], Seq[Plant]) = {
    val rnd = new scala.util.Random(hash(seed, 101))
    val vocab = vocabulary(seed, 4000)
    val zipf = new Zipf(vocab.size, 1.0, rnd)
    val all = scala.collection.mutable.ArrayBuffer[Doc]()
    val plants = scala.collection.mutable.ArrayBuffer[Plant]()
    val copies = perBatch * 8 / 100
    val batches = (0 until nBatches).map { _ =>
      val roles = rnd.shuffle(Seq.fill(copies)("exact") ++ Seq.fill(copies)("near") ++
        Seq.fill(perBatch - 2 * copies)("fresh"))
      roles.map { role =>
        val id = all.size.toLong
        lazy val src = all(rnd.nextInt(all.size))
        val doc =
          if (all.isEmpty || role == "fresh")
            Doc(id, Seq.fill(60 + rnd.nextInt(60))(vocab(zipf.next())).mkString(" "))
          else if (role == "exact") {
            plants += Plant(id, src.id, exact = true)
            Doc(id, if (plants.size % 2 == 0) src.text.toUpperCase(java.util.Locale.ROOT) else src.text)
          } else {
            val words = src.text.split(' ')
            (0 until 1 + rnd.nextInt(2)).foreach(_ => words(rnd.nextInt(words.length)) = vocab(zipf.next()))
            plants += Plant(id, src.id, exact = false)
            Doc(id, words.mkString(" "))
          }
        all += doc
        doc
      }.toIndexedSeq
    }
    (batches, plants.toSeq)
  }

  /** Clustered unit-scale embeddings: `n` vectors of `dim` floats around
    * 24 seeded centres.
    */
  def embeddings(seed: Long, n: Int, dim: Int): IndexedSeq[Array[Float]] = {
    val rnd = new scala.util.Random(hash(seed, 202))
    val centres = IndexedSeq.fill(24)(Array.fill(dim)(rnd.nextGaussian()))
    IndexedSeq.fill(n) {
      val c = centres(rnd.nextInt(centres.size))
      Array.tabulate(dim)(i => (c(i) + 0.6 * rnd.nextGaussian()).toFloat)
    }
  }
}
