package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{Row => SRow}
import org.apache.spark.sql.functions._

import graft.model.Candle
import graft.store.CandleStore

import perfbench.Check.Row
import perfbench.Gen.{bar, bars, series, yearStart}

/** candle_read: read-mostly serving of one store that holds every market.
  *
  * Set-up writes six months of one-minute bars across a year boundary for
  * all series (about 0.5M rows) with one `CandleStore.upsert`. The client then runs
  * equal numbers of page, range, resample, latest-bar and SQL reads, hot
  * series most often, one at a time, and checks each answer against
  * [[Gen.bar]].
  */
final class CandleRead(c: Ctx) extends Workload {
  import c.spark

  import CandleRead._
  private val catBase = c.dir("catalog")
  spark.conf.set("spark.sql.catalog.cc", classOf[graft.sources.CandleCatalog].getName)
  spark.conf.set("spark.sql.catalog.cc.base", catBase)

  private var store: CandleStore = _
  private var table = ""

  /** Per set-up: wall ms of the first read. */
  private val firstScans = scala.collection.mutable.ArrayBuffer[Double]()

  def setup(rep: Int): Unit = {
    val seed = c.seed
    val parts = for (s <- series.indices; y <- Years) yield (s, y)
    val input = spark.sparkContext.parallelize(parts, parts.size).flatMap { case (s, y) =>
      val sr = series(s)
      bars(s, yearLo(y), yearHi(y)).map { t =>
        val b = bar(seed, s, t)
        SRow(sr.market, sr.code, Gen.Length, new Timestamp(t * 1000L), b._1, b._2, b._3, b._4, b._5, b._6)
      }
    }
    store = CandleStore(spark, s"$catBase/r$rep/candles")
    c.trace.op("setup.upsert")(store.upsert(spark.createDataFrame(input, Candle.schema)))
    table = s"cc.r$rep.candles"
    val first = new Outcome
    Kinds.zipWithIndex.foreach { case (k, i) => readOnce(first, Req(k, i, Years(i % 2), 0.5, 0.5)) }
    if (first.failed > 0) sys.error(s"set-up reads failed: ${first.mismatches.mkString("; ")}")
    firstScans += first.opMs.head
  }

  def warm(): Unit = {
    val o = new Outcome
    val rnd = new scala.util.Random(Gen.hash(c.seed, 302))
    deck(rnd).foreach(readOnce(o, _))
    if (o.failed > 0) sys.error(s"warm-up reads failed: ${o.mismatches.mkString("; ")}")
  }

  /** One read: its kind, series, year (page and latest reads), the
    * quantile `u` of its span between 1 day and 1 month and the quantile
    * `at` of its start within the store's range.
    */
  private final case class Req(kind: String, series: Int, year: Int, u: Double, at: Double)

  /** The op mix. No traffic record of a mora deployment gives shares per
    * read kind, so every kind is read equally: a round is one read of each
    * kind, all of the same series, year and range, in a seeded order.
    * A deck of 10 rounds draws the series by assumed Zipf(1.1) shares
    * (4, 2, 1, 1, 1, 1 of 10, hottest first), both years equally and one
    * span from each tenth of the span range, each list in its own seeded
    * order, so every kind sees the same series and spans and the mix of a
    * run does not depend on its length.
    */
  private val Kinds = Seq("page", "range", "resample", "latest", "sql")
  /** The kinds served by the store's own read calls. */
  private val StoreKinds = Seq("page", "range", "latest")
  private val SeriesDeck = Seq(4, 2, 1, 1, 1, 1).zipWithIndex.flatMap { case (n, s) => Seq.fill(n)(s) }

  private def deck(rnd: scala.util.Random): Seq[Req] = {
    val n = SeriesDeck.size
    val ss = rnd.shuffle(SeriesDeck)
    val ys = rnd.shuffle(Seq.tabulate(n)(i => Years(i % Years.size)))
    val us = rnd.shuffle(Seq.tabulate(n)(i => (i + rnd.nextDouble()) / n))
    (0 until n).flatMap { i =>
      val at = rnd.nextDouble()
      rnd.shuffle(Kinds).map(Req(_, ss(i), ys(i), us(i), at))
    }
  }

  private def expected(s: Int, from: Long, to: Long): Seq[Row] =
    Check.expectedRange(c.seed, s, bars(s, from, to))

  private val yearSummary = scala.collection.mutable.Map[(Int, Int), Option[(Long, Long, Long, Double, Double, Double)]]()

  private def ts(t: Long): Timestamp = new Timestamp(t * 1000L)

  /** A run of `--seconds` S reads round(S / 8) decks, at least 1. The
    * count comes from S alone: a deck takes about 8 s on a 4-core host,
    * and a loop that ran until a deadline would give a faster program
    * more decks, each warmer than the last.
    */
  def run(o: Outcome, seconds: Double): Unit = {
    val rnd = new scala.util.Random(Gen.hash(c.seed, 303))
    (0 until math.max(1, math.round(seconds / 8).toInt)).foreach(_ => deck(rnd).foreach(readOnce(o, _)))
  }

  private def kindMs(o: Outcome, kinds: Seq[String]): Double =
    Stats.geomean(kinds.map(k => o.samples.get(s"${k}_ms").map(xs => Stats.median(xs.toSeq)).getOrElse(0.0)))

  /** Geometric mean of the five kinds' median read times. */
  def opMs(o: Outcome): Double = kindMs(o, Kinds)

  /** Geometric mean of the median times of the store's own reads. */
  def readMs(o: Outcome): Double = kindMs(o, StoreKinds)

  def finish(o: Outcome): Unit = {
    val live = series.indices.map(s => bars(s, First, End).size.toLong).sum
    o.extra("space_amp") = FileTree.bytes(store.path) / (48.0 * live)
  }

  /** One read, timed and checked. */
  private def readOnce(o: Outcome, req: Req): Unit = {
      val Req(kind, s, y, u, at) = req
      val sr = series(s)
      val span = (math.exp(u * math.log(30.0)) * 1440).toLong * 60L // 1 day .. 30 days
      val from = First + (at * (End - First - span) / 60).toLong * 60L
      val to = from + span
      // resample to 1 h for spans up to a week, else to 1 d
      val width = if (span <= 7 * 86400L) 3600L else 86400L
      o.attempt(s"$kind ${sr.key}") {
        val (got, ms) = c.trace.op(s"read.$kind") {
          kind match {
            case "page" =>
              Client.collect(c, o, c.trace.span("store.readPage")(store.readPage(sr.market, sr.code, Gen.Length, y))
                .agg(count(lit(1)), min("ts"), max("ts"), max("high"), min("low"), sum("volume")))
            case "range" =>
              Client.collect(c, o, c.trace.span("store.rangeScan")(store.rangeScan(sr.market, sr.code, Gen.Length, ts(from), ts(to))))
            case "resample" =>
              val in = c.trace.span("store.rangeScan")(store.rangeScan(sr.market, sr.code, Gen.Length, ts(from), ts(to)))
              Client.collect(c, o, c.trace.span("ops.resampleCandles")(
                graft.ops.TimeSeries.resampleCandles(in, "ts", width, Candle.keyCols)))
            case "latest" =>
              Client.collect(c, o, c.trace.span("store.minMaxTs")(store.minMaxTs(sr.market, sr.code, Gen.Length, y)))
            case "sql" =>
              Client.collect(c, o, c.trace.span("sources.sql")(spark.sql(
                s"""SELECT unix_timestamp(date_trunc('DAY', ts)) AS d, count(*) AS n, max(high) AS h,
                   |min(low) AS l, sum(volume) AS v FROM $table
                   |WHERE market = '${sr.market}' AND code = '${sr.code}' AND candle_length = ${Gen.Length}
                   |AND ts >= timestamp_seconds($from) AND ts < timestamp_seconds($to)
                   |GROUP BY 1""".stripMargin)))
          }
        }
        o.opMs += ms; o.sample(s"${kind}_ms", ms); o.items += 1
        kind match {
          case "page" =>
            val want = yearSummary.getOrElseUpdate((s, y), {
              val rs = expected(s, yearLo(y), yearHi(y))
              if (rs.isEmpty) None else Some(Check.summary(rs))
            })
            val r = got.head
            Check.same(s"page ${sr.key} $y", if (r.getLong(0) == 0) None else
              Some((r.getLong(0), r.getTimestamp(1).getTime / 1000, r.getTimestamp(2).getTime / 1000,
                r.getDouble(3), r.getDouble(4), r.getDouble(5))), want)
          case "range" =>
            Check.sameRows(s"range ${sr.key} [$from, $to)", got.map(Client.toRow).toSeq, expected(s, from, to))
          case "resample" =>
            if (got.exists(r => r.getString(0) != sr.market || r.getString(1) != sr.code))
              Some(s"resample ${sr.key}: rows of another series: ${got.head}")
            else Check.sameBuckets(s"resample ${sr.key} w=$width [$from, $to)",
              got.map(r => r.getAs[Long]("bucket") -> ((r.getAs[Double]("open"), r.getAs[Double]("high"),
                r.getAs[Double]("low"), r.getAs[Double]("close"), r.getAs[Double]("volume"), 0L))).toSeq,
              Check.resample(expected(s, from, to), width))
          case "latest" =>
            val want = bars(s, yearLo(y), yearHi(y))
            val first = want.nextOption()
            val last = want.foldLeft(first)((_, t) => Some(t))
            Check.same(s"latest ${sr.key} $y",
              got.headOption.map(r => (r.getTimestamp(0).getTime / 1000, r.getTimestamp(1).getTime / 1000)),
              first.map(f => (f, last.get)))
          case "sql" =>
            val want = Check.daily(expected(s, from, to))
            Check.same(s"sql ${sr.key} [$from, $to)",
              got.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
                .toSeq.sortBy(_._1), want)
        }
      }
  }

  def close(): Unit = ()

  def layers(o: Outcome): Unit = {
    val t = c.trace
    val ops = TraceLayers.loopOps(t, o)
    def jobsOfKind(k: String*): Seq[Double] =
      ops.filter(s => k.exists(x => s.name == s"read.$x")).map(s => TraceLayers.jobsOf(t, s).size.toDouble)
    def p50(name: String) = TraceLayers.p50(o.samples.get(name).map(_.toSeq).getOrElse(Nil))
    def mean(name: String) = TraceLayers.mean(o.samples.get(name).map(_.toSeq).getOrElse(Nil))
    o.layer("store.page_ms") = p50("page_ms")
    o.layer("store.range_ms") = p50("range_ms")
    o.layer("store.latest_ms") = p50("latest_ms")
    o.layer("store.jobs_per_read") = TraceLayers.mean(jobsOfKind("page", "range", "latest"))
    o.layer("store.files_per_read") = mean("files_per_read")
    o.layer("store.partitions_per_read") = mean("partitions_per_read")
    o.layer("store.files_per_partition") = Client.filesPerPartition(store.path)
    o.layer("store.first_scan_ms") = Stats.median(firstScans.toSeq)
    t.opSpans.filter(_.name == "setup.upsert").lastOption.foreach { s =>
      o.layer("store.jobs_per_upsert") = TraceLayers.jobsOf(t, s).size.toDouble
    }
    // the store holds only what the set-up's one upsert wrote
    o.layer("store.write_amp") = o.extra.getOrElse("space_amp", 0.0)
    o.layer("ops.resample_ms") = p50("resample_ms")
    o.layer("ops.jobs_per_resample") = TraceLayers.mean(jobsOfKind("resample"))
    o.layer("sources.sql_ms") = p50("sql_ms")
    o.layer("plans.plan_ms") = TraceLayers.p50(t.spans.filter(s => s.name == "plans.plan" &&
      s.startUs >= o.loopStartUs).map(_.durUs / 1000.0).toSeq)
  }

}

object CandleRead {
  /** The store spans [October 2024, April 2025): two year partitions per
    * series, about 0.5M bars.
    */
  val Years = Seq(2024, 2025)
  val First: Long = Gen.epoch(java.time.LocalDate.of(2024, 10, 1))
  val End: Long = Gen.epoch(java.time.LocalDate.of(2025, 4, 1))
  def yearLo(y: Int): Long = math.max(First, yearStart(y))
  def yearHi(y: Int): Long = math.min(End, yearStart(y + 1))
}
