package graft

import java.sql.Timestamp

import org.apache.spark.sql.catalyst.expressions.IsNotNull
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.model.Candle
import graft.store.CandleStore

/** Upsert semantics keyed to the reference behavior (SURVEY.md §2.1
  * "behavioral details"; `page/page.go:61-142`, `common/candle.go:70-80`,
  * `page/header.go:109-113`).
  */
class CandleStoreSpec extends SparkSpec {
  import spark.implicits._

  private def c(code: String, t: String, o: Double, bits: Long = 0): Candle =
    Candle("UPBIT", code, 60, ts(t), o, o + 1, o - 1, o + 0.5, 10.0, bits)

  test("upsert splits multi-year batches into year partitions (ref factory.go:14-35)") {
    val store = CandleStore(spark, tmpDir("cs-year") + "/t")
    store.upsert(Seq(
      c("BTC", "2021-12-31 23:59:59", 1),
      c("BTC", "2022-01-01 00:00:00", 2),
      c("BTC", "2023-06-15 12:00:00", 3)).toDF())
    val years = store.scan().select("year").as[Int].collect().sorted
    assert(years.sameElements(Array(2021, 2022, 2023)))
    // year boundary: Dec 31 23:59:59 stays in the old year, Jan 1
    // 00:00:00 opens the new one (header.go:109-113 inclusive/exclusive)
    assert(store.readPage("UPBIT", "BTC", 60, 2021).count() == 1)
    assert(store.readPage("UPBIT", "BTC", 60, 2022).count() == 1)
  }

  test("upsert dedups per (key, ts) with new-batch-wins (ref page.go:114-123)") {
    val store = CandleStore(spark, tmpDir("cs-dedup") + "/t")
    store.upsert(Seq(c("BTC", "2022-03-01 10:00:00", 100)).toDF())
    store.upsert(Seq(c("BTC", "2022-03-01 10:00:00", 200)).toDF())
    val rows = store.scan().select("open").as[Double].collect()
    assert(rows.sameElements(Array(200.0)))
  }

  test("within-batch duplicate ts resolves by highest ordinal (deterministic)") {
    val store = CandleStore(spark, tmpDir("cs-ord") + "/t")
    val batch = Seq(
      (0L, c("BTC", "2022-03-01 10:00:00", 1)),
      (2L, c("BTC", "2022-03-01 10:00:00", 3)),
      (1L, c("BTC", "2022-03-01 10:00:00", 2))
    ).toDF("ord", "x").select($"ord", $"x.*")
    store.upsert(batch, ordinalCol = Some("ord"))
    assert(store.scan().select("open").as[Double].head() == 3.0)
  }

  test("late rows into any past date are accepted (ref page.go:66-71)") {
    val store = CandleStore(spark, tmpDir("cs-late") + "/t")
    store.upsert(Seq(c("BTC", "2022-06-01 00:00:00", 5)).toDF())
    store.upsert(Seq(c("BTC", "2022-01-01 00:00:00", 1)).toDF()) // before min ts
    val tss = store.scan().orderBy("ts").select("ts").as[Timestamp].collect()
    assert(tss.head == ts("2022-01-01 00:00:00") && tss.length == 2)
  }

  test("upsert is idempotent (streaming retry convergence)") {
    val store = CandleStore(spark, tmpDir("cs-idem") + "/t")
    val batch = Seq(c("BTC", "2022-03-01 10:00:00", 1), c("ETH", "2022-03-01 10:00:00", 2)).toDF()
    store.upsert(batch)
    val before = store.scan().orderBy("code", "ts").collect().toSeq
    store.upsert(batch)
    assert(store.scan().orderBy("code", "ts").collect().toSeq == before)
  }

  test("upsert only touches partitions in the batch (dynamic overwrite)") {
    val store = CandleStore(spark, tmpDir("cs-dyn") + "/t")
    store.upsert(Seq(c("BTC", "2022-03-01 10:00:00", 1), c("ETH", "2021-03-01 10:00:00", 7)).toDF())
    store.upsert(Seq(c("BTC", "2022-03-01 10:00:00", 9)).toDF())
    // ETH/2021 untouched by the second upsert
    assert(store.readPage("UPBIT", "ETH", 60, 2021).select("open").as[Double].head() == 7.0)
    assert(store.readPage("UPBIT", "BTC", 60, 2022).select("open").as[Double].head() == 9.0)
  }

  test("timestamps truncate to whole seconds (ref candle.go:44 stores Unix())") {
    val store = CandleStore(spark, tmpDir("cs-sec") + "/t")
    store.upsert(Seq(c("BTC", "2022-03-01 10:00:00.750", 1)).toDF())
    assert(store.scan().select("ts").as[Timestamp].head() == ts("2022-03-01 10:00:00"))
  }

  test("rows stay unique+sorted per series after overlapping upserts (ref invariant)") {
    val store = CandleStore(spark, tmpDir("cs-inv") + "/t")
    store.upsert((1 to 50).map(i => c("BTC", f"2022-03-01 10:${i % 60}%02d:00", i)).toDF())
    store.upsert((25 to 75).map(i => c("BTC", f"2022-03-01 10:${i % 60}%02d:00", i * 10)).toDF())
    val g = store.scan().groupBy("market", "code", "candle_length", "ts").count()
      .agg(max("count")).as[Long].head()
    assert(g == 1L, "duplicate (key, ts) after merge")
  }

  test("minMaxTs and listSeries answer the header-read queries (ref header.go:121-135)") {
    val store = CandleStore(spark, tmpDir("cs-mm") + "/t")
    store.upsert(Seq(c("BTC", "2022-01-05 00:00:00", 1), c("BTC", "2022-11-30 00:00:00", 2),
      c("ETH", "2022-06-01 00:00:00", 3)).toDF())
    val mm = store.minMaxTs("UPBIT", "BTC", 60, 2022).as[(Timestamp, Timestamp)].head()
    assert(mm == (ts("2022-01-05 00:00:00"), ts("2022-11-30 00:00:00")))
    assert(store.listSeries().count() == 2)
  }

  test("minMaxTs/pageHeaders serve from footer metadata, no row scan (ref disk.go:23-42)") {
    val store = CandleStore(spark, tmpDir("cs-footer") + "/t")
    store.upsert(Seq(c("BTC", "2022-01-05 00:00:00", 1),
      c("BTC", "2022-11-30 00:00:00", 2), c("ETH", "2022-06-01 00:00:00", 3)).toDF())
    // the footer path must be live (stats present) and exact
    val fs = store.footerStats("UPBIT", "BTC", 60, 2022)
    assert(fs.contains((ts("2022-01-05 00:00:00"), ts("2022-11-30 00:00:00"), 2L)))
    // minMaxTs plans a LocalTableScan — the answer came from metadata,
    // not a parquet row scan
    val plan = store.minMaxTs("UPBIT", "BTC", 60, 2022)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("FileScan"),
      s"expected metadata-only plan:\n$plan")
    // pageHeaders = describeSeries's header fields, from footers alone
    val ph = store.pageHeaders()
      .select("market", "candle_length", "code", "year", "n_rows", "first_ts", "last_ts")
      .orderBy("code")
    val ds = store.describeSeries()
      .select("market", "candle_length", "code", "year", "n_rows", "first_ts", "last_ts")
      .orderBy("code")
    assert(ph.collect().toSeq == ds.collect().toSeq)
  }

  test("footer reads survive path-escaped partition values (space, slash, colon)") {
    val store = CandleStore(spark, tmpDir("cs-esc") + "/t")
    val weird = "BTC/USD T:1"
    store.upsert(Seq(
      Candle("UP BIT", weird, 60, ts("2022-01-05 00:00:00"), 1, 2, 0, 1.5, 10.0, 0L)).toDF())
    val fs = store.footerStats("UP BIT", weird, 60, 2022)
    assert(fs.isDefined && fs.get._3 == 1L, s"footerStats must resolve escaped dirs: $fs")
    val ph = store.pageHeaders().select("market", "code").as[(String, String)].collect()
    assert(ph.toSeq == Seq(("UP BIT", weird)), "pageHeaders must unescape partition values")
  }

  test("appendNewer fast path writes without reading existing data (ref page.go:73-77)") {
    val store = CandleStore(spark, tmpDir("cs-app") + "/t")
    store.upsert(Seq(c("BTC", "2022-03-01 10:00:00", 1)).toDF())
    store.appendNewer(Seq(c("BTC", "2022-03-01 11:00:00", 2)).toDF())
    assert(store.scan().count() == 2)
  }

  test("compact folds many small files into one run, preserving data (ref WAL flush M3)") {
    val store = CandleStore(spark, tmpDir("cs-compact") + "/t")
    // 6 appends -> >=6 files in the BTC/2022 partition
    (1 to 6).foreach(i => store.appendNewer(Seq(c("BTC", f"2022-03-01 10:0$i:00", i)).toDF()))
    def nFiles: Long = store.scan()
      .select(input_file_name()).distinct().count()
    val before = store.scan().orderBy("ts").collect().toSeq
    assert(nFiles >= 6)
    val compacted = store.compact(maxFilesPerPartition = 2)
    assert(compacted == 1, s"expected 1 partition compacted, got $compacted")
    assert(nFiles < 6, "file count must shrink")
    assert(store.scan().orderBy("ts").collect().toSeq == before, "data must be unchanged")
    // second pass is a no-op
    assert(store.compact(maxFilesPerPartition = 2) == 0)
  }

  test("leap day rows land in the leap year (ref quirk: day-366 rejected, SURVEY §7.4)") {
    // The reference's uint32 day index caps at day 365, rejecting Feb 29
    // of leap years in the daily index (`page/bodyList.go:39-42`). We
    // keep calendar semantics: leap-day rows are ordinary rows.
    val store = CandleStore(spark, tmpDir("cs-leap") + "/t")
    store.upsert(Seq(
      c("BTC", "2024-02-29 12:00:00", 1),
      c("BTC", "2024-12-31 23:59:59", 2)).toDF())
    assert(store.readPage("UPBIT", "BTC", 60, 2024).count() == 2)
    val mm = store.minMaxTs("UPBIT", "BTC", 60, 2024)
      .as[(Timestamp, Timestamp)].head()
    assert(mm._1 == ts("2024-02-29 12:00:00"))
  }

  test("point lookup prunes partitions (ref storage.go:78-96 page addressing)") {
    val store = CandleStore(spark, tmpDir("cs-prune") + "/t")
    store.upsert(Seq(c("BTC", "2022-03-01 10:00:00", 1), c("ETH", "2021-03-01 10:00:00", 2)).toDF())
    val page = store.readPage("UPBIT", "BTC", 60, 2022)
    // the scan's own partition filters, not the plan string: every scan
    // prints the PartitionFilters label, and the printed list is cut short
    val plan = page.queryExecution.executedPlan
    val scans = plan.collect { case s: FileSourceScanExec => s }
    val pruned = scans.flatMap(_.partitionFilters)
      .filterNot(_.isInstanceOf[IsNotNull]).flatMap(_.references.map(_.name)).toSet
    assert(scans.nonEmpty && Set("year", "code").subsetOf(pruned),
      s"expected year and code among the partition filters of:\n$plan")
    assert(page.count() == 1)
  }

  private def snap(s: CandleStore): Seq[String] =
    s.scan().select("code", "year", "ts", "open")
      .collect().map(_.mkString("|")).sorted.toSeq

  test("atomic upsert: a crash at EVERY install step rolls forward to the " +
    "full multi-year batch (one WAL tx per batch, ref transaction.go:28-59 " +
    "+ replay database.go:56-77)") {
    val base = tmpDir("cs-atomic")
    val batchA = Seq(
      c("BTC", "2021-06-01 00:00:00", 1), c("BTC", "2022-06-01 00:00:00", 2),
      c("ETH", "2022-06-01 00:00:00", 3)).toDF()
    def batchB = Seq(
      c("BTC", "2021-06-01 00:00:00", 10), c("BTC", "2022-07-01 00:00:00", 20),
      c("BTC", "2023-01-01 00:00:00", 30)).toDF()
    // expected end state: a store that applied both batches cleanly
    val ref = CandleStore(spark, base + "/ref")
    ref.upsert(batchA); ref.upsert(batchB)
    val want = snap(ref)
    // ≥2 replaced partitions (BTC 2021+2022) + ≥3 installed files: a
    // crash can tear the batch across years in every prefix below
    val probe = CandleStore(spark, base + "/probe")
    probe.upsert(batchA)
    val total = probe.upsertWithCrash(batchB, maxOps = 0).opCount
    assert(total >= 5, s"expected >=2 deletes + >=3 moves, got $total ops")
    // k == total is the crash AFTER the last move but BEFORE cleanup:
    // intent + emptied staging left behind, recovery must still converge
    for (k <- 0 to total) {
      val s = CandleStore(spark, base + s"/t$k")
      s.upsert(batchA)
      s.upsertWithCrash(batchB, maxOps = k)
      val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val txlog = new org.apache.hadoop.fs.Path(base + s"/t$k", "_txlog")
      assert(fs.listStatus(txlog).exists(_.getPath.getName.endsWith(".intent")),
        s"crash simulation at $k must leave the published intent behind")
      if (k == total) {
        // also cover the crash BETWEEN the two cleanup deletes:
        // staging gone, intent still published
        val staged = new org.apache.hadoop.fs.Path(base + s"/t$k", "_staging")
        fs.delete(staged, true)
      }
      // a plain read repairs and sees the WHOLE batch — open replays the WAL
      assert(snap(s) == want, s"crash after $k of $total install ops")
      assert(!fs.exists(txlog) || fs.listStatus(txlog).isEmpty,
        s"intent debris after recovery at crash point $k")
      val staging = new org.apache.hadoop.fs.Path(base + s"/t$k", "_staging")
      assert(!fs.exists(staging) || fs.listStatus(staging).isEmpty,
        s"staging debris after recovery at crash point $k")
    }
  }

  test("atomic upsert over a multi-file partition: crash mid-delete still rolls forward") {
    val base = tmpDir("cs-multifile")
    def build(path: String): CandleStore = {
      val s = CandleStore(spark, path)
      // two append-only writes → ≥2 live files in the BTC/2022 partition,
      // so the intent's delete phase has >1 op for ONE partition
      s.appendNewer(Seq(c("BTC", "2022-03-01 10:00:00", 1)).toDF())
      s.appendNewer(Seq(c("BTC", "2022-03-01 11:00:00", 2)).toDF())
      s
    }
    val batch = Seq(c("BTC", "2022-03-01 10:00:00", 9), c("BTC", "2023-01-01 00:00:00", 3)).toDF()
    val ref = build(base + "/ref")
    ref.upsert(batch)
    val want = snap(ref)
    val probe = build(base + "/probe")
    val intent = probe.upsertWithCrash(batch, maxOps = 0)
    assert(intent.deletes.length >= 2,
      s"fixture must produce a multi-file delete list, got ${intent.deletes}")
    // crash with HALF the partition's files deleted (max torn state)
    val s = build(base + "/t")
    s.upsertWithCrash(batch, maxOps = 1)
    assert(snap(s) == want, "recovery must complete the multi-file replace")
  }

  test("atomic and dynamic-overwrite installs produce identical tables") {
    val base = tmpDir("cs-atomic-eq")
    val b1 = Seq(c("BTC", "2021-06-01 00:00:00", 1), c("ETH", "2022-06-01 00:00:00", 2)).toDF()
    val b2 = Seq(c("BTC", "2021-06-01 00:00:00", 9), c("BTC", "2023-06-01 00:00:00", 4)).toDF()
    val a = CandleStore(spark, base + "/a")
    val b = CandleStore(spark, base + "/b")
    a.upsert(b1); a.upsert(b2)
    b.upsert(b1, atomic = false); b.upsert(b2, atomic = false)
    assert(snap(a) == snap(b))
    assert(a.compact(maxFilesPerPartition = 1) == b.compact(maxFilesPerPartition = 1, atomic = false))
    assert(snap(a) == snap(b))
  }

  test("a corrupt published intent fails recovery loudly (never silently skipped)") {
    val base = tmpDir("cs-corrupt")
    val store = CandleStore(spark, base + "/t")
    store.upsert(Seq(c("BTC", "2022-03-01 10:00:00", 1)).toDF())
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val bad = new org.apache.hadoop.fs.Path(base + "/t", "_txlog/tx-999-bad.intent")
    val os = fs.create(bad, true)
    os.write("not an intent\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    os.close()
    val e = intercept[Exception] { store.scan() }
    assert(e.getMessage != null && e.getMessage.contains("commit-intent"),
      s"expected a commit-intent format error, got: ${e.getMessage}")
    fs.delete(bad, false)
    assert(store.scan().count() == 1) // table healthy once debris is cleared
  }

  test("vacuum age-guards staging debris (in-flight vs torn, spark-gotchas)") {
    val base = tmpDir("cs-vacuum")
    val store = CandleStore(spark, base + "/t")
    store.upsert(Seq(c("BTC", "2022-03-01 10:00:00", 1)).toDF())
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // unpublished debris: a staging dir and a .tmp intent, both "old"
    val orphan = new org.apache.hadoop.fs.Path(base + "/t", "_staging/tx-000-dead")
    fs.mkdirs(orphan)
    val tmp = new org.apache.hadoop.fs.Path(base + "/t", "_txlog/tx-000-dead.tmp")
    fs.create(tmp, true).close()
    val old = System.currentTimeMillis - 7200000L
    fs.setTimes(orphan, old, -1); fs.setTimes(tmp, old, -1)
    // a FRESH staging dir (a possibly in-flight writer) must survive
    val fresh = new org.apache.hadoop.fs.Path(base + "/t", "_staging/tx-111-live")
    fs.mkdirs(fresh)
    assert(store.vacuum(minAgeMs = 3600000L) == 2)
    assert(!fs.exists(orphan) && !fs.exists(tmp) && fs.exists(fresh))
    // recover() never touches unpublished debris
    assert(store.recover() == 0)
    assert(fs.exists(fresh))
  }

  test("pinned-scan guard: an extra on-disk column fails loudly, not silently narrowed") {
    // a store-shaped dir whose files carry a column the pinned scan
    // schema does not know — a layout revision without a pin bump; the
    // one-time footer-vs-pin check must refuse, not project it away
    val dir = tmpDir("cs-pinguard") + "/t"
    Seq(("2022-03-01 10:00:00", 1.0)).toDF("tss", "open")
      .select(to_timestamp($"tss").as("ts"), $"open",
        lit(2.0).as("high"), lit(0.5).as("low"), lit(1.5).as("close"),
        lit(10.0).as("volume"), lit(0L).as("bit_fields"),
        lit("surprise").as("extra_col"),
        lit("UPBIT").as("market"), lit(60).as("candle_length"),
        lit("BTC").as("code"), lit(2022).as("year"))
      .write.partitionBy(Candle.partitionCols: _*).parquet(dir)
    val doctored = CandleStore(spark, dir)
    val e = intercept[RuntimeException](doctored.scan().count())
    assert(e.getMessage.contains("pinned"), s"unexpected: ${e.getMessage}")
    // and an honest store still scans fine through the same guard
    val good = CandleStore(spark, tmpDir("cs-pinok") + "/t")
    good.upsert(Seq(c("BTC", "2022-03-01 10:00:00", 1)).toDF())
    assert(good.scan().count() == 1)
  }

  // a store-shaped dir holding one candle, with `open` as given and
  // `nesting` as the partition directory order
  private def doctoredStore(name: String, open: org.apache.spark.sql.Column,
                            nesting: Seq[String]): CandleStore = {
    val dir = tmpDir(name) + "/t"
    Seq("2022-03-01 10:00:00").toDF("tss")
      .select(to_timestamp($"tss").as("ts"), open.as("open"),
        lit(2.0).as("high"), lit(0.5).as("low"), lit(1.5).as("close"),
        lit(10.0).as("volume"), lit(0L).as("bit_fields"),
        lit("UPBIT").as("market"), lit(60).as("candle_length"),
        lit("BTC").as("code"), lit(2022).as("year"))
      .write.partitionBy(nesting: _*).parquet(dir)
    CandleStore(spark, dir)
  }

  test("pinned-scan guard: a changed data-column type fails loudly") {
    val doctored = doctoredStore("cs-pintype", lit("1.0"), Candle.partitionCols)
    val e = intercept[RuntimeException](doctored.scan().count())
    assert(e.getMessage.contains("pinned"), s"unexpected: ${e.getMessage}")
  }

  test("pinned-scan guard: a changed partition nesting fails loudly") {
    val doctored = doctoredStore("cs-pinnest", lit(1.0),
      Seq("market", "code", "candle_length", "year"))
    val e = intercept[RuntimeException](doctored.scan().count())
    assert(e.getMessage.contains("pinned"), s"unexpected: ${e.getMessage}")
  }

  test("upsert refuses a key its partition dir would lose: empty, or outside " +
      "the path charset") {
    val store = CandleStore(spark, tmpDir("cs-keys") + "/t")
    store.upsert(Seq(c("BTC", "2022-03-01 10:00:00", 1)).toDF())
    val before = store.scan().collect().toSeq
    val cs = java.nio.charset.Charset.forName(System.getProperty("sun.jnu.encoding"))
    // the refusal travels as a task failure: search the whole cause chain
    def refusal(f: => Any): String =
      Iterator.iterate[Throwable](intercept[Exception](f))(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString("\n")

    val empty = refusal(store.upsert(Seq(c("", "2022-03-01 11:00:00", 2)).toDF()))
    assert(empty.contains("candle code ''") && empty.contains(cs.name), empty)
    assert(store.scan().collect().toSeq == before)
    val noMarket = refusal(store.appendNewer(
      Seq(c("BTC", "2022-03-01 12:00:00", 3).copy(market = null)).toDF()))
    assert(noMarket.contains("candle market null"), noMarket)
    assert(store.scan().collect().toSeq == before)

    val code = "\uC0BC\uC131" // Samsung, 6 bytes in UTF-8
    val nonAscii = Seq(c(code, "2022-03-01 13:00:00", 4)).toDF()
    if (cs.newEncoder().canEncode(code)) {
      store.upsert(nonAscii)
      assert(store.readPage("UPBIT", code, 60, 2022).select("code", "open")
        .as[(String, Double)].collect().toSeq == Seq((code, 4.0)))
    } else {
      val msg = refusal(store.upsert(nonAscii))
      assert(msg.contains(s"candle code '$code'") && msg.contains(cs.name), msg)
      assert(store.scan().collect().toSeq == before)
    }
  }

  test("all-digit KRX codes keep their leading zeros through every read path " +
      "(ref page/index.go:19-28 keys codes as strings)") {
    val base = tmpDir("cs-krx")
    val store = CandleStore(spark, s"$base/markets/krx")
    def k(code: String, t: String, o: Double): Candle =
      Candle("KRX", code, 60, ts(t), o, o + 1, o - 1, o + 0.5, 10.0, 0L)
    // one series across the 2023/2024 boundary, a second code beside it
    store.upsert(Seq(
      k("005930", "2023-12-31 23:59:00", 1),
      k("005930", "2024-01-01 00:01:00", 2),
      k("000660", "2024-01-01 00:01:00", 3)).toDF())
    store.upsert(Seq(k("005930", "2024-01-01 00:01:00", 20)).toDF()) // newer wins
    store.appendNewer(Seq(k("005930", "2024-01-01 00:02:00", 4)).toDF())

    assert(store.scan().schema("code").dataType == org.apache.spark.sql.types.StringType)
    val codes = store.scan().select("code").distinct().as[String].collect().sorted
    assert(codes.toSeq == Seq("000660", "005930"))

    def opens(df: org.apache.spark.sql.DataFrame): Seq[Double] =
      df.orderBy("ts").select("open").as[Double].collect().toSeq
    assert(opens(store.readPage("KRX", "005930", 60, 2024)) == Seq(20.0, 4.0))
    assert(opens(store.readPage("KRX", "005930", 60, 2023)) == Seq(1.0))
    assert(opens(store.readPage("KRX", "000660", 60, 2024)) == Seq(3.0))
    assert(opens(store.rangeScan("KRX", "005930", 60,
      ts("2023-12-31 00:00:00"), ts("2024-01-02 00:00:00"))) == Seq(1.0, 20.0, 4.0))
    val mm = store.minMaxTs("KRX", "005930", 60, 2024).as[(Timestamp, Timestamp)].head()
    assert(mm == (ts("2024-01-01 00:01:00"), ts("2024-01-01 00:02:00")))

    val before = store.scan().orderBy("code", "ts").collect().toSeq
    assert(store.compact(maxFilesPerPartition = 1) == 1)
    assert(store.scan().orderBy("code", "ts").collect().toSeq == before)

    spark.conf.set("spark.sql.catalog.cs_krx", classOf[graft.sources.CandleCatalog].getName)
    spark.conf.set("spark.sql.catalog.cs_krx.base", base)
    val sql = spark.sql(
      "SELECT code, open FROM cs_krx.markets.krx WHERE code = '005930' ORDER BY ts")
      .as[(String, Double)].collect().toSeq
    assert(sql == Seq(("005930", 1.0), ("005930", 20.0), ("005930", 4.0)))
  }
}
