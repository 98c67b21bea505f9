package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}

import graft.model.Candle
import graft.ops.TimeSeries
import graft.store.CandleStore

/** Property tests (SURVEY.md §5.2 item 3) over generated candle batches.
  * ScalaCheck generators with fixed seeds — each property is checked on
  * several random batches; parquet round-trips keep sample counts small.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Candles of the (market, code) keys `keys` draws. */
  private def candlesOf(keys: Gen[(String, String)]): Gen[Candle] = for {
    key <- keys
    // seconds across the 2021/2022 boundary -> exercises year split
    off <- Gen.choose(-2000000L, 2000000L)
    o <- Gen.choose(1.0, 100.0)
    v <- Gen.choose(0.0, 10.0)
  } yield Candle(key._1, key._2, 60,
    new Timestamp(Timestamp.valueOf("2022-01-01 00:00:00").getTime + off * 1000L),
    o, o + 1, o - 1, o + 0.5, v, 0L)

  /** The fixed keys of the single-market properties below, which key
    * their oracles on `code` alone. */
  private val candleGen: Gen[Candle] =
    candlesOf(Gen.oneOf("BTC", "ETH").map(("UPBIT", _)))

  /** Store keys under mora's limits (PAPER.md: MarketCode ≤ 10 bytes,
    * Code ≤ 18 bytes): all-digit codes with leading zeros, keys at the
    * maximum length, characters Hive escapes in partition dirs, leading
    * and trailing spaces, the literal `null`, and non-ASCII (Hangul, 3
    * bytes each in UTF-8). Never empty: upsert refuses empty keys.
    */
  private def keyOf(maxBytes: Int): Gen[String] = {
    val alnum = Gen.alphaNumChar
    val escaped = Gen.oneOf(" /:=%#?*\\{}[]\"".toSeq)
    def upTo(n: Int, c: Gen[Char]): Gen[String] =
      Gen.choose(1, n).flatMap(Gen.listOfN(_, c)).map(_.mkString)
    Gen.oneOf(
      upTo(maxBytes - 1, Gen.numChar).map("0" + _),
      Gen.listOfN(maxBytes, alnum).map(_.mkString),
      upTo(maxBytes, Gen.frequency(2 -> alnum, 1 -> escaped)),
      upTo(maxBytes - 2, alnum).map(" " + _ + " "),
      Gen.const("null"),
      upTo(maxBytes / 3, Gen.choose('\uAC00', '\uD7A3')))
  }
  private val keyGen: Gen[(String, String)] =
    Gen.zip(keyOf(10), keyOf(18))

  private def draw[T](g: Gen[T], seed: Int): T =
    g.apply(Gen.Parameters.default, rng.Seed(seed.toLong)).get

  private def batches(n: Int, size: Int): Seq[Seq[Candle]] =
    (1 to n).map(s => draw(Gen.listOfN(size, candleGen), s))

  private def state(st: CandleStore): Seq[Row] =
    st.scan().orderBy("code", "ts").collect().toSeq
  private type Row = org.apache.spark.sql.Row

  test("property: generated store keys round-trip through upsert, scan, " +
      "readPage, rangeScan, minMaxTs and the catalog, or are refused whole") {
    val base = tmpDir("prop-keys")
    spark.conf.set("spark.sql.catalog.prop_keys", classOf[graft.sources.CandleCatalog].getName)
    spark.conf.set("spark.sql.catalog.prop_keys.base", base)
    val cs = java.nio.charset.Charset.forName(System.getProperty("sun.jnu.encoding"))
    def yearOf(t: Timestamp): Int = t.toInstant.atZone(java.time.ZoneOffset.UTC).getYear
    type Bar = (String, String, Long, Double)
    def bars(rows: Array[org.apache.spark.sql.Row]): Seq[Bar] = rows.toSeq.map(r =>
      (r.getAs[String]("market"), r.getAs[String]("code"),
        r.getAs[Timestamp]("ts").getTime, r.getAs[Double]("open"))).sorted
    (1 to 3).foreach { seed =>
      val keys = draw(Gen.listOfN(4, keyGen), seed).distinct
      val batch = draw(Gen.listOfN(24, candlesOf(Gen.oneOf(keys))), seed)
      val (ok, refused) = batch.partition(c =>
        Seq(c.market, c.code).forall(cs.newEncoder().canEncode(_)))
      // driver oracle: one bar per (key, ts), the max content wins
      val want = ok.groupBy(c => (c.market, c.code, c.ts.getTime))
        .map { case ((m, k, t), vs) => (m, k, t, vs.map(_.open).max) }.toSeq.sorted
      val st = CandleStore(spark, s"$base/ns/s$seed")
      st.upsert(ok.toDF())
      val ctx = s"seed $seed, keys ${keys.map { case (m, k) => s"[$m|$k]" }.mkString(" ")}"
      assert(bars(st.scan().collect()) == want, ctx)
      ok.map(c => (c.market, c.code)).distinct.foreach { case (m, k) =>
        val series = want.filter(b => b._1 == m && b._2 == k)
        series.groupBy(b => yearOf(new Timestamp(b._3))).foreach { case (y, rows) =>
          assert(bars(st.readPage(m, k, 60, y).collect()) == rows, s"$ctx page $y")
          val mm = st.minMaxTs(m, k, 60, y).as[(Timestamp, Timestamp)].head()
          assert((mm._1.getTime, mm._2.getTime) == ((rows.head._3, rows.last._3)),
            s"$ctx minMaxTs $y")
        }
        val (from, to) = (ts("2021-12-20 00:00:00"), ts("2022-01-10 00:00:00"))
        assert(bars(st.rangeScan(m, k, 60, from, to).collect()) ==
          series.filter(b => b._3 >= from.getTime && b._3 < to.getTime), s"$ctx range")
        val sql = spark.sql(
          s"SELECT market, code, ts, open FROM prop_keys.ns.s$seed " +
            "WHERE market = :m AND code = :k", Map("m" -> m, "k" -> k))
        assert(bars(sql.collect()) == series, s"$ctx sql")
      }
      // a batch holding any key the path charset cannot encode is
      // refused before anything lands
      if (refused.nonEmpty) {
        val e = intercept[Exception](st.upsert(batch.toDF()))
        val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .map(_.getMessage).mkString("\n")
        assert(msg.contains(cs.name), s"$ctx: $msg")
        assert(bars(st.scan().collect()) == want, s"$ctx after refusal")
      }
    }
  }

  test("property: upsert is idempotent — upsert(upsert(S,B),B) == upsert(S,B)") {
    batches(3, 25).zipWithIndex.foreach { case (b, i) =>
      val st = CandleStore(spark, tmpDir(s"prop-idem$i") + "/t")
      st.upsert(b.take(10).toDF()) // some prior state
      st.upsert(b.toDF())
      val once = state(st)
      st.upsert(b.toDF())
      assert(state(st) == once, s"seed ${i + 1} not idempotent")
    }
  }

  test("property: rows unique per (key, ts) and sorted reads after any batch sequence") {
    batches(3, 40).zipWithIndex.foreach { case (b, i) =>
      val st = CandleStore(spark, tmpDir(s"prop-uniq$i") + "/t")
      b.grouped(15).foreach(g => st.upsert(g.toDF()))
      val dup = st.scan()
        .groupBy("market", "code", "candle_length", "ts").count()
        .where($"count" > 1).count()
      assert(dup == 0, s"seed ${i + 1} produced duplicate (key, ts)")
    }
  }

  test("property: the last batch wins on every overlapping timestamp") {
    batches(3, 30).zipWithIndex.foreach { case (b, i) =>
      val st = CandleStore(spark, tmpDir(s"prop-lww$i") + "/t")
      val (b1, b2) = b.splitAt(15)
      st.upsert(b1.toDF())
      st.upsert(b2.toDF(), ordinalCol = None)
      // expected: for keys+ts in b2 (last occurrence within b2 by content
      // tie-break irrelevant when unique), the stored open equals b2's
      val stored = st.scan().select("code", "ts", "open")
        .as[(String, Timestamp, Double)].collect()
        .map { case (c, t, o) => (c, t.getTime / 1000) -> o }.toMap
      b2.groupBy(c => (c.code, c.ts.getTime / 1000)).foreach { case (k, vs) =>
        val expected = vs.map(_.open).max // content struct desc tie-break: max wins
        if (vs.map(_.open).distinct.size == 1 || vs.size == 1)
          assert(stored(k) == vs.last.open || stored(k) == expected)
        else assert(stored(k) == expected, s"seed ${i + 1}: batch row must win at $k")
      }
    }
  }

  test("property: order-insensitivity for batches on disjoint keys") {
    batches(2, 20).zipWithIndex.foreach { case (b, i) =>
      val btc = b.map(_.copy(code = "BTC"))
      val eth = b.map(_.copy(code = "ETH"))
      val st1 = CandleStore(spark, tmpDir(s"prop-ord-a$i") + "/t")
      st1.upsert(btc.toDF()); st1.upsert(eth.toDF())
      val st2 = CandleStore(spark, tmpDir(s"prop-ord-b$i") + "/t")
      st2.upsert(eth.toDF()); st2.upsert(btc.toDF())
      assert(state(st1) == state(st2), s"seed ${i + 1} order-sensitive on disjoint keys")
    }
  }

  test("property: any micro-batch split of a batch converges to the batch upsert (F6)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    batches(2, 30).zipWithIndex.foreach { case (b, i) =>
      // random (seeded) split points into 1..4 micro-batches
      val rnd = new scala.util.Random(100 + i)
      val splits = b.grouped(1 + rnd.nextInt(math.max(1, b.size / 2))).toSeq
      val streamed = graft.store.CandleStore(spark, tmpDir(s"prop-st$i") + "/t")
      val stream = MemoryStream[Candle]
      val q = graft.streaming.Ingest.startUpsertIngest(stream.toDF(), streamed, tmpDir(s"prop-ck$i"),
        trigger = Trigger.ProcessingTime(0))
      splits.foreach { g => stream.addData(g); q.processAllAvailable() }
      q.stop()
      val batch = graft.store.CandleStore(spark, tmpDir(s"prop-bt$i") + "/t")
      splits.foreach(g => batch.upsert(g.toDF()))
      assert(streamed.scan().orderBy("code", "ts").collect().toSeq ==
        batch.scan().orderBy("code", "ts").collect().toSeq,
        s"seed ${i + 1}: streamed state diverges from batch state")
    }
  }

  test("property: versioned scan == driver-side last-wins fold, any commit/compact interleaving") {
    import graft.store.VersionedCandleStore
    batches(3, 20).zipWithIndex.foreach { case (all, i) =>
      // checkpointEvery=2 forces journal rollups to interleave with the
      // commits and compactions under test: every read below goes
      // through checkpoint + tail resolution, not a flat file list
      val st = new VersionedCandleStore(spark, tmpDir(s"prop-vst$i") + "/v",
        checkpointEvery = 2)
      // split into 4 commit batches; compact after a seed-chosen one
      val parts = all.grouped(5).toSeq
      val compactAfter = i % parts.size
      // driver-side oracle: per (code, second-truncated ts), the row
      // from the highest tx wins; within a batch the content struct
      // max wins (no ordinal — mirrors commit()'s tie-break)
      val expect = scala.collection.mutable.Map[(String, Long), (Long, (Double, Double, Double, Double, Double, Long))]()
      parts.zipWithIndex.foreach { case (b, j) =>
        st.commit(b.toDF())
        b.groupBy(c => (c.code, c.ts.getTime / 1000L * 1000L)).foreach {
          case ((code, tsec), rows) =>
            val w = rows.map(c => (c.open, c.high, c.low, c.close, c.volume, c.bit_fields)).max
            expect((code, tsec)) = ((j + 1).toLong, w)
        }
        if (j == compactAfter) st.compact()
      }
      val got = st.scan().collect().map { r =>
        (r.getAs[String]("code"), r.getAs[Timestamp]("ts").getTime) ->
          (r.getAs[Double]("open"), r.getAs[Double]("high"), r.getAs[Double]("low"),
            r.getAs[Double]("close"), r.getAs[Double]("volume"), r.getAs[Long]("bit_fields"))
      }.toMap
      val want = expect.map { case ((code, tsec), (_, w)) => (code, tsec) -> w }.toMap
      assert(got == want, s"seed ${i + 1}: scan != driver fold")
      // journal-addressed history: as-of the first commit == fold of
      // batch 1. The first commit's row may be folded into a
      // summarized `commits` run by the rollup (checkpointEvery=2
      // guarantees rollups interleave), so the min spans run STARTS
      // (tx_id − n_rows + 1) as well as plain commit rows.
      val asOf1 = st.txLog().where(col("kind").isin("commit", "commits"))
        .select(when(col("kind") === "commits",
          col("tx_id") - col("n_rows") + 1).otherwise(col("tx_id")).as("t"))
        .agg(min("t")).head().getLong(0)
      if (compactAfter == 0) { // floor == 1: as-of tx 1 still readable
        val h = st.scanAsOf(asOf1).count()
        val firstKeys = parts.head.map(c => (c.code, c.ts.getTime / 1000L)).distinct.size
        assert(h == firstKeys, s"seed ${i + 1}: as-of first tx row count")
      }
    }
  }

  test("property: gapFill leaves no holes and preserves present rows") {
    batches(2, 25).zipWithIndex.foreach { case (b, i) =>
      val candles = b.map(c => (c.code, c.ts, c.close)).toDF("code", "ts", "close")
        .groupBy("code", "ts").agg(org.apache.spark.sql.functions.max("close").as("close"))
      val filled = TimeSeries.gapFill(candles, "ts", Seq("code"), 3600, Seq("close"))
      // grid completeness: successive rows per code are exactly 1h apart
      val gaps = TimeSeries.gaps(filled, "ts", Seq("code"), 3600)
      assert(gaps.count() == 0, s"seed ${i + 1}: hole in filled grid")
      // present rows keep their value and are not flagged
      val joined = filled.select("code", "ts", "close_filled", "is_gap")
        .join(candles, Seq("code", "ts"))
      assert(joined.where($"close_filled" =!= $"close" || $"is_gap").count() == 0,
        s"seed ${i + 1}: original rows altered by gapFill")
    }
  }

  test("property: asofJoin equals the naive per-row argmax on generated data") {
    batches(2, 20).zipWithIndex.foreach { case (b, i) =>
      val (lRaw, rRaw) = b.splitAt(10)
      val left = lRaw.zipWithIndex.map { case (c, j) => (c.code, c.ts, j.toLong) }
        .toDF("code", "ts", "lid")
      val right = rRaw.map(c => (c.code, c.ts, c.close)).toDF("code", "ts", "value")
        .groupBy("code", "ts").agg(org.apache.spark.sql.functions.max("value").as("value"))
      val out = TimeSeries.asofJoin(left, right, Seq("code"), "ts", "ts", Seq("value"))
        .select("lid", "asof_value").as[(Long, Option[Double])].collect().toMap
      val rightRows = right.as[(String, Timestamp, Double)].collect()
      lRaw.zipWithIndex.foreach { case (c, j) =>
        val expect = rightRows
          .filter(r => r._1 == c.code && !r._2.after(c.ts))
          .sortBy(_._2.getTime).lastOption.map(_._3)
        assert(out(j.toLong) == expect, s"seed ${i + 1} lid=$j")
      }
    }
  }

  test("property: identical docs always collide in minhash; jaccard stays in [0,1]") {
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    (1 to 2).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val texts = (0 until 30).map(_ =>
        Seq.fill(8 + rnd.nextInt(8))(words(rnd.nextInt(words.size))).mkString(" "))
      // plant an exact duplicate pair
      val docs = (texts :+ texts.head).zipWithIndex
        .map { case (t, id) => (id.toLong, t) }.toDF("doc_id", "text")
      val pairs = graft.llm.Dedup.minhashNearDupPairs(docs, "doc_id", "text",
          threshold = 0.0)
        .select("id_a", "id_b", "jaccard")
        .as[(Long, Long, Double)].collect()
      assert(pairs.exists(p => p._1 == 0L && p._2 == 30L && p._3 == 1.0),
        s"seed $seed: planted duplicate not found")
      assert(pairs.forall(p => p._3 >= 0.0 && p._3 <= 1.0))
    }
  }

  test("property: BottomKAggregator == sorted distinct take-k under any " +
      "split and merge order") {
    for (seed <- 1 to 5) {
      val xs = Gen.listOfN(300, Gen.choose(0L, 120L))
        .apply(Gen.Parameters.default, rng.Seed(seed.toLong)).get
      val k = 1 + seed * 7
      val agg = new graft.llm.TopK.BottomKAggregator(k)
      // arbitrary split into partial buffers, arbitrary merge order
      val rnd = new scala.util.Random(seed)
      val chunks = xs.grouped(1 + rnd.nextInt(40)).toSeq
      val partials = chunks.map(_.foldLeft(agg.zero)(agg.reduce))
      val merged = rnd.shuffle(partials).foldLeft(agg.zero)(agg.merge)
      val expected = xs.distinct.sorted.take(k)
      assert(agg.finish(merged) == expected,
        s"seed $seed k=$k: ${agg.finish(merged)} vs $expected")
    }
  }

  test("property: cdcChunks reassembles losslessly and chunk identity is " +
      "a pure function of content for any token sequence") {
    for (seed <- 1 to 4) {
      val words = Gen.listOfN(250, Gen.choose(0, 40).map(i => s"w$i"))
        .apply(Gen.Parameters.default, rng.Seed(seed.toLong)).get
      val text = words.mkString(" ")
      val docs = Seq((1L, text), (2L, text)).toDF("doc_id", "text")
      val out = graft.llm.TextStats.cdcChunks(docs, "doc_id", "text",
          window = 3, divisor = 4L)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      val c1 = out.filter(_._1 == 1L).sortBy(_._2)
      val c2 = out.filter(_._1 == 2L).sortBy(_._2)
      // identical content -> identical chunking, byte for byte
      assert(c1.map(x => (x._2, x._3, x._4)).toSeq ==
        c2.map(x => (x._2, x._3, x._4)).toSeq, s"seed $seed")
      // lossless: token counts sum to the doc length; indexes contiguous
      assert(c1.map(_._3).sum == words.length, s"seed $seed")
      assert(c1.map(_._2).toSeq == c1.indices.toSeq, s"seed $seed")
      assert(c1.forall(_._3 > 0), s"seed $seed: empty chunk")
    }
  }

  test("property: resample preserves volume sum, bounds high/low (F5 invariants)") {
    batches(3, 60).zipWithIndex.foreach { case (b, i) =>
      val df = b.toDF()
      val re = TimeSeries.resampleCandles(df, "ts", 3600, Seq("code"))
      val (v1, v2) = (df.agg(sum("volume")).as[Double].head(),
        re.agg(sum("volume")).as[Double].head())
      assert(math.abs(v1 - v2) < 1e-9, s"seed ${i + 1} volume not preserved")
      val badHigh = re.agg(max("high")).as[Double].head()
      assert(badHigh == df.agg(max("high")).as[Double].head())
      assert(re.agg(min("low")).as[Double].head() == df.agg(min("low")).as[Double].head())
    }
  }
}
