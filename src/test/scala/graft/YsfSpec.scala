package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.model.Candle
import graft.sources.Ysf

/** `.ysf` page format: golden byte-layout checks against the reference
  * spec (`page/header.go:31-44`, `page/body.go:36-80`), an
  * independently hand-synthesized page decoded by the reader, and a
  * Spark write→read round trip with year splitting.
  */
class YsfSpec extends SparkSpec {
  import spark.implicits._

  private val Y2024 = 1704067200L // 2024-01-01 00:00:00 UTC
  private def at(epochSec: Long) = new Timestamp(epochSec * 1000L)

  private def candle(sec: Long, v: Double, bits: Long = 0L) =
    Candle("KRX", "005930", 3600, at(sec), v, v + 1, v - 1, v + 0.5, v * 10, bits)

  test("encodePage emits the exact reference byte layout") {
    val rows = Seq(
      candle(Y2024 + 5, 1.5, bits = 0xA1B2C3D4L),
      candle(Y2024 + 86400 + 10, 2.5, bits = 1L))
    val b = Ysf.encodePage("KRX", "005930", 3600, 2024, rows, lastTxId = 7L)
    assert(b.length == Ysf.DataOffset + 2 * Ysf.BlockWidth)
    val le = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)

    // header (60 B)
    assert(b.slice(0, 4).toSeq == Ysf.Magic.toSeq, "magic")
    assert((le.getShort(4) & 0xffff) == 1, "version")
    assert((le.getShort(6) & 0xffff) == 2024, "year")
    assert(le.getInt(8) == 3600, "candle_length")
    assert(le.getInt(12) == 2, "count")
    assert(le.getInt(16) == 5, "start_offset")
    assert(le.getInt(20) == 86410, "end_offset")
    assert(le.getLong(24) == 7L, "last_tx_id")
    assert(b.slice(32, 42).toSeq ==
      ("KRX".getBytes("UTF-8") ++ Array.fill[Byte](7)(0)).toSeq, "market padding")
    assert(b.slice(42, 60).toSeq ==
      ("005930".getBytes("UTF-8") ++ Array.fill[Byte](12)(0)).toSeq, "code padding")

    // daily prefix-sum index: day0 has 1 row, day1 has 1 row
    assert(le.getInt(60) == 0, "index[0] = rows before day 0")
    assert(le.getInt(64) == 1, "index[1] = rows before day 1")
    assert(le.getInt(68) == 2, "index[2]")
    assert(le.getInt(60 + 4 * (Ysf.IndexCount - 1)) == 2, "index[last]")

    // body block 0 at DATA_OFFSET = 1548
    val o = Ysf.DataOffset
    assert(o == 1548, "DATA_OFFSET (constant.go:1-8)")
    assert(le.getInt(o) == 5, "ts_offset LE")
    assert(b.slice(o + 4, o + 8).toSeq ==
      Seq(0xA1.toByte, 0xB2.toByte, 0xC3.toByte, 0xD4.toByte),
      "bit_fields is big-endian (body.go:47,61)")
    assert(le.getDouble(o + 8) == 1.5, "open")
    assert(le.getDouble(o + 16) == 2.5, "high")
    assert(le.getDouble(o + 24) == 0.5, "low")
    assert(le.getDouble(o + 32) == 2.0, "close")
    assert(le.getDouble(o + 40) == 15.0, "volume")
  }

  test("decodePage parses an independently hand-built page") {
    // Synthesized straight from the format spec, NOT via encodePage.
    val buf = ByteBuffer.allocate(Ysf.DataOffset + Ysf.BlockWidth)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put(Array(0x20, 0x18, 0x10, 0x29).map(_.toByte))
    buf.putShort(1)             // version
    buf.putShort(2023.toShort)  // year
    buf.putInt(60)              // candle_length
    buf.putInt(1)               // count
    buf.putInt(120)             // start_offset
    buf.putInt(120)             // end_offset
    buf.putLong(99L)            // last_tx_id
    buf.put("NYSE".getBytes("UTF-8")); buf.put(new Array[Byte](6))
    buf.put("AAPL".getBytes("UTF-8")); buf.put(new Array[Byte](14))
    (0 until Ysf.IndexCount).foreach(i => buf.putInt(if (i == 0) 0 else 1))
    buf.putInt(120)                                   // ts_offset
    buf.order(ByteOrder.BIG_ENDIAN).putInt(0x01020304) // bit_fields BE
    buf.order(ByteOrder.LITTLE_ENDIAN)
    Seq(10.0, 11.0, 9.0, 10.5, 1000.0).foreach(buf.putDouble)

    val rows = Ysf.decodePage(buf.array())
    val y2023 = 1672531200L // 2023-01-01 00:00:00 UTC
    assert(rows == Seq(Candle("NYSE", "AAPL", 60, at(y2023 + 120),
      10.0, 11.0, 9.0, 10.5, 1000.0, 0x01020304L)))

    val h = Ysf.decodeHeader(buf.array())
    assert(h == Ysf.Header("NYSE", "AAPL", 60, 2023, 1, 120, 120, 99L))
    val idx = Ysf.decodeIndex(buf.array())
    assert(idx(0) == 0 && idx(1) == 1 && idx(Ysf.IndexCount - 1) == 1)
  }

  test("decode rejects bad magic and truncated pages") {
    val good = Ysf.encodePage("A", "B", 60, 2024, Seq(candle(Y2024, 1.0)))
    val badMagic = good.clone(); badMagic(0) = 0x00
    assertThrows[IllegalArgumentException](Ysf.decodePage(badMagic))
    assertThrows[IllegalArgumentException](Ysf.decodePage(good.take(100)))
    assertThrows[IllegalArgumentException](
      Ysf.decodePage(good.take(good.length - 1))) // body shorter than count
  }

  test("property: encode->decode round-trips arbitrary pages (incl. leap years, boundaries)") {
    import org.scalacheck.{Gen, rng}
    // 2024 is a leap year: offsets up to day 366 must survive (the
    // reference REJECTS day > 365, bodyList.go:39-42 — we deliberately
    // keep full calendar-year semantics, SURVEY §7.4).
    val years = Seq(2023, 2024)
    val rowGen = for {
      year <- Gen.oneOf(years)
      secsInYear = if (year == 2024) 366L * 86400 else 365L * 86400
      off <- Gen.frequency(
        8 -> Gen.choose(0L, secsInYear - 1),
        1 -> Gen.const(0L),                 // first second of the year
        1 -> Gen.const(secsInYear - 1))     // last second (day 365/366)
      o <- Gen.choose(-1e6, 1e6)
      v <- Gen.choose(0.0, 1e9)
      bf <- Gen.choose(0L, 0xffffffffL)     // full uint32 bit_fields range
    } yield (year, graft.model.Candle("UPBIT", "BTC", 60,
      new java.sql.Timestamp((Ysf.yearStartEpoch(year) + off) * 1000L),
      o, o + 1, o - 1, o + 0.5, v, bf))
    (1 to 5).foreach { seed =>
      val rows = Gen.listOfN(40, rowGen)
        .apply(Gen.Parameters.default, rng.Seed(seed.toLong)).get
      years.foreach { y =>
        val yearRows = rows.collect { case (`y`, c) => c }
        if (yearRows.nonEmpty) {
          val decoded = Ysf.decodePage(Ysf.encodePage("UPBIT", "BTC", 60, y, yearRows))
          // expected: one row per second offset (last-wins = max content
          // tuple), ts-ascending
          val expected = yearRows.groupBy(_.ts.getTime)
            .map { case (_, g) => g.maxBy(c =>
              (c.open, c.high, c.low, c.close, c.volume, c.bit_fields)) }
            .toSeq.sortBy(_.ts.getTime)
          assert(decoded == expected, s"seed $seed year $y")
          // daily prefix-sum index is consistent with the decoded rows
          val idx = Ysf.decodeIndex(Ysf.encodePage("UPBIT", "BTC", 60, y, yearRows))
          val y0 = Ysf.yearStartEpoch(y)
          (0 until Ysf.IndexCount).foreach { d =>
            val before = expected.count(c => (c.ts.getTime / 1000L - y0) / 86400L < d)
            assert(idx(d) == before, s"seed $seed year $y index day $d")
          }
        }
      }
    }
  }

  test("Spark write -> read round-trips across series and years") {
    val rows = Seq(
      candle(Y2024 + 10, 1.0),
      candle(Y2024 + 3600, 2.0, bits = 5L),
      candle(Y2024 - 60, 3.0),                       // 2023
      Candle("KRX", "000660", 60, at(Y2024 + 30), 4.0, 5.0, 3.0, 4.5, 40.0, 0L))
    val df = rows.toDF()
    val dir = tmpDir("ysf-rt")
    Ysf.write(df, dir, lastTxId = 3L)

    // reference directory layout: {market}/{length}/{code}/{year%05d}.ysf
    for (rel <- Seq("KRX/3600/005930/02024.ysf", "KRX/3600/005930/02023.ysf",
                    "KRX/60/000660/02024.ysf"))
      assert(new java.io.File(s"$dir/$rel").isFile, rel)

    val back = Ysf.read(spark, dir)
    assert(back.columns.toSeq ==
      Candle.schema.fieldNames.toSeq :+ "year", "schema + year column")
    val got = back.drop("year").as[Candle].collect().toSet
    assert(got == rows.toSet)

    // pages are ts-sorted on disk regardless of input order
    val hdr = Ysf.decodeHeader(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/KRX/3600/005930/02024.ysf")))
    assert(hdr.count == 2 && hdr.startOffset == 10 && hdr.endOffset == 3600)
    assert(hdr.lastTxId == 3L)
  }

  test("readSeries prunes at listing time: corrupt out-of-selection pages never read") {
    val dir = tmpDir("ysf-prune")
    val rows = Seq(
      graft.model.Candle("UPBIT", "BTC", 60, ts("2022-03-01 10:00:00"), 1, 2, 0.5, 1.5, 10, 0L),
      graft.model.Candle("UPBIT", "BTC", 60, ts("2023-03-01 10:00:00"), 2, 3, 1.5, 2.5, 20, 0L),
      graft.model.Candle("UPBIT", "ETH", 60, ts("2022-03-01 10:00:00"), 9, 9, 9, 9, 9, 0L))
    Ysf.write(rows.toDF(), dir)
    // plant garbage where an unselected series-year lives: if pruning
    // ever reads it, decode throws
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "UPBIT", "60", "ETH", "09999.ysf"),
      Array.fill[Byte](100)(0x5a))
    val btc = Ysf.readSeries(spark, dir, "UPBIT", 60, "BTC")
      .orderBy("ts").collect()
    assert(btc.length == 2)
    val only2022 = Ysf.readSeries(spark, dir, "UPBIT", 60, "BTC", Some((2022, 2022)))
      .select("ts").as[java.sql.Timestamp].collect()
    assert(only2022.toSeq == Seq(ts("2022-03-01 10:00:00")))
    // unknown series → empty frame with the Candle schema, no error
    assert(Ysf.readSeries(spark, dir, "UPBIT", 60, "DOGE").count() == 0)
    // the planted page IS poisonous when actually selected
    intercept[org.apache.spark.SparkException] {
      Ysf.readSeries(spark, dir, "UPBIT", 60, "ETH", Some((9999, 9999))).count()
    }
  }

  test("read compiles its row encoder: no interpreted fallback") {
    val dir = tmpDir("ysf-codegen")
    Ysf.write(Seq(candle(Y2024 + 10, 1.0), candle(Y2024 - 60, 2.0)).toDF(), dir)
    // both settings make a failed compile throw instead of falling back
    withConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false") {
      val got = Ysf.read(spark, dir).select("code", "open", "year")
        .as[(String, Double, Int)].collect().sorted.toSeq
      assert(got == Seq(("005930", 1.0, 2024), ("005930", 2.0, 2023)))
    }
  }

  test("read feeds the CandleStore schema (interop migration path)") {
    val dir = tmpDir("ysf-mig")
    Ysf.write(Seq(candle(Y2024 + 10, 1.0), candle(Y2024 + 70, 2.0)).toDF(), dir)
    val storePath = tmpDir("ysf-mig-store") + "/candles"
    val st = graft.store.CandleStore(spark, storePath)
    st.upsert(Ysf.read(spark, dir).drop("year"))
    assert(st.readPage("KRX", "005930", 3600, 2024).count() == 2)
  }
}
