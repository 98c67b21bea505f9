package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.ops.TimeSeries

class TimeSeriesSpec extends SparkSpec {
  import spark.implicits._

  private def tick(code: String, t: String, v: Double, id: Long = 0) =
    (code, ts(t), v, id)

  test("resample golden: five 1-min candles -> one 5-min candle (F5)") {
    val oneMin = Seq(
      // (code, ts, open, high, low, close, volume)
      ("BTC", ts("2022-01-01 10:00:00"), 10.0, 15.0, 9.0, 12.0, 1.0),
      ("BTC", ts("2022-01-01 10:01:00"), 12.0, 18.0, 11.0, 17.0, 2.0),
      ("BTC", ts("2022-01-01 10:02:00"), 17.0, 21.0, 8.0, 9.0, 3.0),
      ("BTC", ts("2022-01-01 10:03:00"), 9.0, 14.0, 7.0, 13.0, 4.0),
      ("BTC", ts("2022-01-01 10:04:00"), 13.0, 16.0, 12.0, 14.0, 5.0)
    ).toDF("code", "ts", "open", "high", "low", "close", "volume")
    val out = TimeSeries.resampleCandles(oneMin, "ts", 300, Seq("code"))
      .select("open", "high", "low", "close", "volume")
      .as[(Double, Double, Double, Double, Double)].head()
    assert(out == ((10.0, 21.0, 7.0, 14.0, 15.0)),
      "open=first, high=max, low=min, close=last, volume=sum")
  }

  test("candlesFromTicks: OHLC from raw ticks by time order") {
    val ticks = Seq(
      tick("BTC", "2022-01-01 10:00:05", 100.0),
      tick("BTC", "2022-01-01 10:00:01", 90.0),  // earliest -> open
      tick("BTC", "2022-01-01 10:00:58", 95.0),  // latest -> close
      tick("BTC", "2022-01-01 10:00:30", 120.0), // max -> high
      tick("BTC", "2022-01-01 10:00:31", 80.0)   // min -> low
    ).toDF("code", "ts", "v", "id")
    val out = TimeSeries.candlesFromTicks(ticks, "ts", "v", None, Seq("code"), 60)
      .select("open", "high", "low", "close", "n")
      .as[(Double, Double, Double, Double, Long)].head()
    assert(out == ((90.0, 120.0, 80.0, 95.0, 5L)))
  }

  test("asofJoin: latest right value at or before each left ts, per key") {
    val left = Seq(("u1", ts("2022-01-01 10:00:10"), 1L), ("u1", ts("2022-01-01 10:05:00"), 2L),
      ("u2", ts("2022-01-01 10:00:00"), 3L)).toDF("user", "ts", "lid")
    val right = Seq(("u1", ts("2022-01-01 10:00:10"), 111.0), // equal ts visible
      ("u1", ts("2022-01-01 10:03:00"), 222.0),
      ("u2", ts("2022-01-01 11:00:00"), 999.0) // after left -> no match
    ).toDF("user", "ts", "value")
    val out = TimeSeries.asofJoin(left, right, Seq("user"), "ts", "ts", Seq("value"))
      .orderBy("lid").select("asof_value").as[Option[Double]].collect()
    assert(out.toSeq == Seq(Some(111.0), Some(222.0), None))
  }

  test("AsOfJoinPlan node lowers via ResolveAsOfJoin to the library plan") {
    val left = Seq(("u1", ts("2022-01-01 10:00:10"), 1L), ("u1", ts("2022-01-01 10:05:00"), 2L),
      ("u2", ts("2022-01-01 10:00:00"), 3L)).toDF("user", "ts", "lid")
    val right = Seq(("u1", ts("2022-01-01 10:00:10"), 111.0),
      ("u1", ts("2022-01-01 10:03:00"), 222.0),
      ("u2", ts("2022-01-01 11:00:00"), 999.0)).toDF("user", "ts", "value")
    assert(graft.plans.AsOf.ruleInstalled(spark),
      "test session must carry graft extensions")
    val viaPlan = graft.plans.AsOf.asofJoin(left, right, Seq("user"), "ts", "ts", Seq("value"))
    // the raw plan carries the operator; analysis lowers it away
    assert(viaPlan.queryExecution.logical.collect {
      case p: graft.plans.AsOfJoinPlan => p
    }.nonEmpty, "raw logical plan must contain AsOfJoinPlan")
    assert(viaPlan.queryExecution.analyzed.collect {
      case p: graft.plans.AsOfJoinPlan => p
    }.isEmpty, "analysis must lower AsOfJoinPlan")
    // row-identical to the direct library call, composable downstream
    val direct = TimeSeries.asofJoin(left, right, Seq("user"), "ts", "ts", Seq("value"))
    assert(viaPlan.orderBy("lid").collect().toSeq ==
      direct.orderBy("lid").collect().toSeq)
    val filtered = viaPlan.where($"asof_value" > 200.0).select("lid").as[Long].collect()
    assert(filtered.toSeq == Seq(2L))
  }

  test("asofJoinOpts forward: nearest right row at-or-after; none -> NULL") {
    val left = Seq(("u1", ts("2022-01-01 10:00:00"), 1L),
      ("u1", ts("2022-01-01 12:30:00"), 2L)).toDF("user", "ts", "lid")
    val right = Seq(("u1", ts("2022-01-01 10:30:00"), 7.0),
      ("u1", ts("2022-01-01 12:00:00"), 8.0)).toDF("user", "ts", "value")
    val out = TimeSeries.asofJoinOpts(left, right, Seq("user"), "ts", "ts",
        Seq("value"), forward = true)
      .orderBy("lid").select("asof_value").as[Option[Double]].collect()
    assert(out.toSeq == Seq(Some(7.0), None))
  }

  test("asofJoinOpts tolerance: stale matches resolve to NULL") {
    val left = Seq(("u1", ts("2022-01-01 10:00:00"), 1L),
      ("u1", ts("2022-01-01 18:00:00"), 2L)).toDF("user", "ts", "lid")
    val right = Seq(("u1", ts("2022-01-01 09:55:00"), 7.0)).toDF("user", "ts", "value")
    val out = TimeSeries.asofJoinOpts(left, right, Seq("user"), "ts", "ts",
        Seq("value"), toleranceSec = Some(600))
      .orderBy("lid").select("asof_value").as[Option[Double]].collect()
    assert(out.toSeq == Seq(Some(7.0), None), "09:55 is within 10min of 10:00, stale for 18:00")
  }

  test("asofJoin: a matched right row with NULL value yields NULL, not a stale fill") {
    val left = Seq(("u1", ts("2022-01-01 11:30:00"), 1L)).toDF("user", "ts", "lid")
    val right = Seq(("u1", ts("2022-01-01 10:00:00"), Some(5.0)),
      ("u1", ts("2022-01-01 11:00:00"), None)).toDF("user", "ts", "value")
    val out = TimeSeries.asofJoin(left, right, Seq("user"), "ts", "ts", Seq("value"))
      .select("asof_value").as[Option[Double]].head()
    assert(out.isEmpty, "the 11:00 row (value NULL) is the as-of match; must not fill past it")
  }

  test("bucketStart floors pre-epoch timestamps (no toward-zero truncation)") {
    val ticks = Seq(("k", ts("1969-12-31 23:30:00"), 1.0)).toDF("code", "ts", "v")
    val out = TimeSeries.candlesFromTicks(ticks, "ts", "v", None, Seq("code"), 3600)
      .select(timestamp_seconds(col("bucket"))).as[Timestamp].head()
    assert(out == ts("1969-12-31 23:00:00"), s"got $out")
  }

  test("gapFill preserves off-grid rows and flags only truly-generated rows") {
    val candles = Seq(
      ("k", ts("2022-01-01 10:00:00"), 1.0),
      ("k", ts("2022-01-01 10:20:00"), 2.0), // off the hourly grid
      ("k", ts("2022-01-01 12:00:00"), 3.0)
    ).toDF("code", "ts", "close")
    val filled = TimeSeries.gapFill(candles, "ts", Seq("code"), 3600, Seq("close"))
      .orderBy("ts")
    val rows = filled.select("ts", "close_filled", "is_gap")
      .as[(Timestamp, Double, Boolean)].collect().toSeq
    assert(rows == Seq(
      (ts("2022-01-01 10:00:00"), 1.0, false),
      (ts("2022-01-01 10:20:00"), 2.0, false), // survived, not flagged
      (ts("2022-01-01 11:00:00"), 2.0, true),  // generated + forward-filled
      (ts("2022-01-01 12:00:00"), 3.0, false)), s"got $rows")
  }

  test("gaps finds inter-event silences above threshold only") {
    val ev = Seq(tick("u1", "2022-01-01 10:00:00", 0, 1), tick("u1", "2022-01-01 10:30:00", 0, 2),
      tick("u1", "2022-01-01 12:00:00", 0, 3)).toDF("u", "ts", "v", "event_id")
    val g = TimeSeries.gaps(ev, "ts", Seq("u"), 3600, Seq("event_id"))
      .select("gap_sec").as[Long].collect()
    assert(g.toSeq == Seq(5400L))
  }

  test("sessionize groups by gap and counts events") {
    val ev = Seq(tick("u1", "2022-01-01 10:00:00", 0, 1), tick("u1", "2022-01-01 10:10:00", 0, 2),
      tick("u1", "2022-01-01 12:00:00", 0, 3)).toDF("u", "ts", "v", "event_id")
    val s = TimeSeries.sessionize(ev, "ts", Seq("u"), 1800, Seq("event_id"))
      .orderBy("session_id").select("n_events").as[Long].collect()
    assert(s.toSeq == Seq(2L, 1L))
  }

  test("dailyCumulativeCounts is an exclusive prefix sum (ref index.go:11-17)") {
    val ev = (1 to 3).flatMap(d => (1 to d).map(i =>
      tick("k", f"2022-01-0$d 10:0$i:00", 0, i))).toDF("k", "ts", "v", "id")
    val out = TimeSeries.dailyCumulativeCounts(ev, "ts", Seq("k"))
      .orderBy("day").select("day_count", "cum_before").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 0L), (2L, 1L), (3L, 3L)))
  }

  test("vwap weights by quantity") {
    val df = Seq(("a", 10.0, 1.0), ("a", 20.0, 3.0)).toDF("k", "p", "q")
    val v = TimeSeries.vwap(df, "p", "q", Seq("k")).select("vwap").as[Double].head()
    assert(math.abs(v - 17.5) < 1e-12)
  }

  test("movingAvg window is exactly the last n rows") {
    val df = (1 to 5).map(i => ("k", ts(f"2022-01-01 10:0$i:00"), i.toDouble, i.toLong))
      .toDF("k", "ts", "v", "id")
    val out = TimeSeries.movingAvg(df, "v", "ts", Seq("k"), 3, Seq("id"))
      .orderBy("id").select("mavg").as[Double].collect()
    assert(out.toSeq == Seq(1.0, 1.5, 2.0, 3.0, 4.0))
  }

  test("indicators: SMA/Donchian windows, ROC lag, RSI extremes") {
    // monotonic rise then a fall: closes 1..6 then 3
    val closes = Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 3.0)
    val df = closes.zipWithIndex.map { case (v, i) =>
      ("BTC", ts(f"2022-01-01 ${10 + i}%02d:00:00"), v)
    }.toDF("code", "ts", "close")
    val out = TimeSeries.indicators(df, "close", "ts", Seq("code"), n = 3, rocN = 2)
      .orderBy("ts")
      .select("sma", "donchian_hi", "donchian_lo", "roc", "rsi").collect()
    assert(out(2).getDouble(0) == 2.0 && out(5).getDouble(0) == 5.0) // SMA3
    assert(out(5).getDouble(1) == 6.0 && out(6).getDouble(1) == 6.0) // hi
    assert(out(6).getDouble(2) == 3.0)                               // lo
    assert(out(0).isNullAt(3) && out(2).getDouble(3) == 200.0)       // (3-1)/1*100
    assert(out(0).isNullAt(4), "no changes yet -> RSI null")
    assert(out(3).getDouble(4) == 100.0, "all-gain window -> RSI 100")
    // 3-row frame at the last row: changes +1, +1, -3 -> avg gain 2/3,
    // avg loss 1 -> RSI 40
    assert(math.abs(out(6).getDouble(4) - (100.0 - 100.0 / (1 + (2.0 / 3.0) / 1.0))) < 1e-12)
    // the Donchian channel includes the current row, so it bounds every close
    assert(TimeSeries.indicators(df, "close", "ts", Seq("code"), n = 3, rocN = 2)
      .where($"close" > $"donchian_hi" || $"close" < $"donchian_lo").count() == 0)
  }

  test("ema: recursive fold matches closed form, per key, layout-independent") {
    val rows = Seq(
      ("A", ts("2022-01-01 10:00:00"), 10.0),
      ("A", ts("2022-01-01 11:00:00"), 20.0),
      ("A", ts("2022-01-01 12:00:00"), 30.0),
      ("B", ts("2022-01-01 10:00:00"), 5.0),
      ("B", ts("2022-01-01 11:00:00"), 5.0)).toDF("code", "ts", "v")
    val a = 0.5
    val out = TimeSeries.ema(rows, "v", "ts", Seq("code"), a)
      .orderBy("code", "ts").select("code", "ema").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val e1 = a * 20 + (1 - a) * 10.0
    val e2 = a * 30 + (1 - a) * e1
    assert(out.toSeq == Seq(("A", 10.0), ("A", e1), ("A", e2), ("B", 5.0), ("B", 5.0)))
    // same result regardless of input partitioning
    val repart = TimeSeries.ema(rows.repartition(5), "v", "ts", Seq("code"), a)
      .orderBy("code", "ts").select("code", "ema").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    assert(repart.toSeq == out.toSeq)
  }
}
