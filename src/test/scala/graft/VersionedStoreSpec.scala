package graft

import java.sql.Timestamp

import graft.model.Candle
import graft.store.VersionedCandleStore

/** Versioned store semantics: tx-stamped appends, as-of reads, journal
  * counter, compaction (reference LastTxId + persistent counter,
  * `page/header.go:13-23`, `wal/counter.go:13-94`), plus the
  * concurrency guarantees of the reference's lock manager
  * (`database/concurrency/db.go:68-156`): distinct tx ids under
  * concurrent committers, torn-commit invisibility, atomic compaction
  * swap.
  */
class VersionedStoreSpec extends SparkSpec {
  import spark.implicits._

  private def c(code: String, t: String, o: Double): Candle =
    Candle("UPBIT", code, 60, ts(t), o, o + 1, o - 1, o + 0.5, 10.0, 0L)

  test("as-of reads reconstruct every historical state; scan is latest") {
    val st = VersionedCandleStore(spark, tmpDir("vstore") + "/v")
    assert(st.latestTxId == 0L)
    val t1 = st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 1),
      c("BTC", "2022-01-01 10:01:00", 2)).toDF())
    val t2 = st.commit(Seq(c("BTC", "2022-01-01 10:01:00", 20), // overwrite
      c("ETH", "2021-06-01 00:00:00", 5)).toDF())               // new key
    val t3 = st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 100)).toDF())
    assert((t1, t2, t3) == ((1L, 2L, 3L)) && st.latestTxId == 3L)

    def opens(df: org.apache.spark.sql.DataFrame): Map[(String, Timestamp), Double] =
      df.select("code", "ts", "open").collect()
        .map(r => (r.getString(0), r.getTimestamp(1)) -> r.getDouble(2)).toMap

    assert(opens(st.scanAsOf(1L)) == Map(
      ("BTC", ts("2022-01-01 10:00:00")) -> 1.0,
      ("BTC", ts("2022-01-01 10:01:00")) -> 2.0))
    assert(opens(st.scanAsOf(2L)) == Map(
      ("BTC", ts("2022-01-01 10:00:00")) -> 1.0,
      ("BTC", ts("2022-01-01 10:01:00")) -> 20.0,
      ("ETH", ts("2021-06-01 00:00:00")) -> 5.0))
    assert(opens(st.scan()) == Map(
      ("BTC", ts("2022-01-01 10:00:00")) -> 100.0,
      ("BTC", ts("2022-01-01 10:01:00")) -> 20.0,
      ("ETH", ts("2021-06-01 00:00:00")) -> 5.0))
    // as-of beyond the journal == latest (journal-gated)
    assert(opens(st.scanAsOf(99L)) == opens(st.scan()))
    // journal records one row per commit
    assert(st.txLog().where($"kind" === "commit")
      .select("tx_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("within-batch ordinal last-wins matches CandleStore.upsert semantics") {
    val st = VersionedCandleStore(spark, tmpDir("vstore-ord") + "/v")
    val batch = Seq(
      (0L, c("BTC", "2022-01-01 10:00:00", 11)),
      (1L, c("BTC", "2022-01-01 10:00:00", 22))
    ).toDF("ord", "c").select($"ord", $"c.*")
    st.commit(batch, ordinalCol = Some("ord"))
    assert(st.scan().select("open").as[Double].head() == 22.0)
  }

  test("commit refuses a key its partition dir would lose: empty, or outside " +
      "the path charset") {
    val st = VersionedCandleStore(spark, tmpDir("vstore-keys") + "/v")
    st.commit(Seq(c("BTC", "2022-03-01 10:00:00", 1)).toDF())
    def state = (st.scan().collect().toSeq,
      st.txLog().where($"kind" === "commit").select("tx_id").as[Long].collect().toSeq)
    val before = state
    val cs = java.nio.charset.Charset.forName(System.getProperty("sun.jnu.encoding"))
    // the refusal travels as a task failure: search the whole cause chain
    def refusal(f: => Any): String =
      Iterator.iterate[Throwable](intercept[Exception](f))(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString("\n")

    val empty = refusal(st.commit(Seq(c("", "2022-03-01 11:00:00", 2)).toDF(),
      batchId = Some(7L)))
    assert(empty.contains("candle code ''") && empty.contains(cs.name), empty)
    assert(state == before)
    val noMarket = refusal(st.commit(
      Seq(c("BTC", "2022-03-01 12:00:00", 3).copy(market = null)).toDF()))
    assert(noMarket.contains("candle market null"), noMarket)
    assert(state == before)

    val code = "\uC0BC\uC131" // Samsung, 6 bytes in UTF-8
    val nonAscii = Seq(c(code, "2022-03-01 13:00:00", 4)).toDF()
    if (cs.newEncoder().canEncode(code)) {
      st.commit(nonAscii)
      assert(st.scan().where($"code" === code).select("open").as[Double]
        .collect().toSeq == Seq(4.0))
    } else {
      val msg = refusal(st.commit(nonAscii))
      assert(msg.contains(s"candle code '$code'") && msg.contains(cs.name), msg)
      assert(state == before)
    }
    // the refused batch released its replay guard: a mended retry commits
    st.commit(Seq(c("ETH", "2022-03-01 11:00:00", 2)).toDF(), batchId = Some(7L))
    assert(st.scan().where($"code" === "ETH").select("open").as[Double]
      .collect().toSeq == Seq(2.0))
  }

  test("concurrent committers mint distinct monotonic tx ids; both batches readable") {
    val st = VersionedCandleStore(spark, tmpDir("vstore-conc") + "/v")
    val perThread = 2
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Seq[Long]]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = (0 until 2).map { w =>
      new Thread(() => {
        gate.await()
        val ids = (0 until perThread).map { i =>
          st.commit(Seq(c(s"K$w", s"2022-01-01 10:0$i:00", w * 100 + i + 1)).toDF())
        }
        results.put(w, ids)
        ()
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    val all = (0 until 2).flatMap(results.get(_))
    // distinct ids overall, monotonic within each committer
    assert(all.distinct.size == 4 && all.toSet == Set(1L, 2L, 3L, 4L))
    (0 until 2).foreach(w => assert(results.get(w) == results.get(w).sorted))
    // every committed row is present: 2 keys × 2 timestamps
    assert(st.scan().count() == 4)
    assert(st.txLog().where($"kind" === "commit").count() == 4)
  }

  test("tx-id reservation hammer: 8 threads x 20 reservations, all distinct") {
    // tight loop, no Spark jobs between reservations — maximal contention
    // on the atomic create (RawLocalFileSystem's create(overwrite=false)
    // is NOT atomic; this spec pins the File.createNewFile path)
    val st = VersionedCandleStore(spark, tmpDir("vstore-hammer") + "/v")
    val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val dup = new java.util.concurrent.atomic.AtomicBoolean(false)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = (0 until 8).map(_ => new Thread(() => {
      gate.await()
      (0 until 20).foreach { _ =>
        if (!ids.add(st.reserveTxId())) dup.set(true)
      }
    }))
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    assert(!dup.get() && ids.size == 160, s"distinct=${ids.size}/160")
  }

  test("tx-id reservation is atomic and skips outstanding reservations") {
    val st = VersionedCandleStore(spark, tmpDir("vstore-res") + "/v")
    // interleaved reservations before any data lands
    assert(st.reserveTxId() == 1L)
    assert(st.reserveTxId() == 2L)
    // a commit now must not reuse a reserved-but-uncommitted id
    assert(st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 1)).toDF()) == 3L)
  }

  test("compact preserves winning tx ids, swaps atomically, fails loudly below floor") {
    val st = VersionedCandleStore(spark, tmpDir("vstore-compact") + "/v")
    st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 1)).toDF())
    st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 2)).toDF())
    st.commit(Seq(c("ETH", "2022-01-01 10:00:00", 3)).toDF())
    val before = st.scan().collect().toSeq
    val handle = st.scan() // resolved against the pre-compaction generation
    assert(st.compact() == 3L)
    assert(st.scan().collect().toSeq == before)
    // the pre-compaction read handle stays consistent (old generation
    // retained) — never an empty or partial view mid-swap
    assert(handle.collect().toSeq == before)
    // storage keeps exactly one version per key, with ORIGINAL tx ids
    // (BTC's winner was tx 2, ETH's tx 3 — not restamped to latest)
    val stored = spark.read.parquet(st.path + "/data-g000000002")
      .select("code", "tx_id").as[(String, Long)].collect().toMap
    assert(stored == Map("BTC" -> 2L, "ETH" -> 3L))
    // as-of at/after the squash floor is exact; below it fails loudly
    assert(st.scanAsOf(3L).count() == 2)
    intercept[IllegalArgumentException](st.scanAsOf(2L))
    // the counter keeps going after compaction
    assert(st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 4)).toDF()) == 4L)
    assert(st.scan().where($"code" === "BTC").select("open").as[Double].head() == 4.0)
    // second compaction GCs generations older than the previous one
    assert(st.compact() == 4L)
    val gens = new java.io.File(st.path).listFiles()
      .map(_.getName).filter(_.startsWith("data-g")).sorted.toSeq
    assert(gens == Seq("data-g000000002", "data-g000000003"))
    // re-running with nothing new to squash is a no-op (no generation
    // churn, no duplicate journal row)
    assert(st.compact() == 4L)
    val gens2 = new java.io.File(st.path).listFiles()
      .map(_.getName).filter(_.startsWith("data-g")).sorted.toSeq
    assert(gens2 == gens)
    assert(st.txLog().where($"kind" === "compact").count() == 2)
  }

  test("scanAsOfTime fails loudly when compaction discarded a time-excluded interleaving") {
    val st = VersionedCandleStore(spark, tmpDir("vstore-timefloor") + "/v")
    // tx2 journals LATER than tx3 (out-of-order wall clocks, as under
    // concurrent committers)
    st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 1)).toDF(),
      committedAt = Some(ts("2024-05-01 10:00:00")))
    st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 2)).toDF(),
      committedAt = Some(ts("2024-05-01 13:00:00")))
    st.commit(Seq(c("ETH", "2022-01-01 10:00:00", 3)).toDF(),
      committedAt = Some(ts("2024-05-01 12:00:00")))
    // before compaction the mid-instant state is reconstructible:
    // tx2 not yet journaled at 12:30 — BTC shows tx1's row
    val mid = st.scanAsOfTime(ts("2024-05-01 12:30:00"))
      .select("code", "open").as[(String, Double)].collect().toMap
    assert(mid == Map("BTC" -> 1.0, "ETH" -> 3.0))
    st.compact()
    // after squashing, that interleaving's history is gone: tx2 (time-
    // excluded but below the floor) must fail loudly, not lie silently
    intercept[IllegalArgumentException](
      st.scanAsOfTime(ts("2024-05-01 12:30:00")).collect())
    // instants admitting ALL commits still read fine
    assert(st.scanAsOfTime(ts("2024-05-01 14:00:00")).count() == 2)
  }

  test("scanAsOfTime addresses history by journal wall-clock") {
    val st = VersionedCandleStore(spark, tmpDir("vstore-time") + "/v")
    st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 1)).toDF(),
      committedAt = Some(ts("2024-05-01 12:00:00")))
    st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 2)).toDF(),
      committedAt = Some(ts("2024-05-02 12:00:00")))
    def openAt(t: String): Seq[Double] =
      st.scanAsOfTime(ts(t)).select("open").as[Double].collect().toSeq
    assert(openAt("2024-04-30 00:00:00") == Seq.empty) // before first commit
    assert(openAt("2024-05-01 18:00:00") == Seq(1.0))  // between commits
    assert(openAt("2024-05-01 12:00:00") == Seq(1.0))  // inclusive boundary
    assert(openAt("2024-06-01 00:00:00") == Seq(2.0))  // after both
  }

  test("commits racing a compaction are never stranded in the superseded generation") {
    val st = VersionedCandleStore(spark, tmpDir("vstore-race") + "/v")
    st.commit(Seq(c("SEED", "2022-01-01 10:00:00", 0)).toDF())
    val gate = new java.util.concurrent.CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val committer = new Thread(() => {
      gate.await()
      (0 until 4).foreach { i =>
        try st.commit(Seq(c(s"K$i", "2022-01-01 10:00:00", i + 1)).toDF())
        catch { case t: Throwable => failures.add(t); () }
      }
    })
    val compactor = new Thread(() => {
      gate.await()
      (0 until 3).foreach { _ =>
        try { st.compact(); () }
        catch { case t: Throwable => failures.add(t); () }
      }
    })
    committer.start(); compactor.start(); gate.countDown()
    committer.join(); compactor.join()
    assert(failures.isEmpty, s"unexpected failures: ${failures.toArray.mkString(", ")}")
    // every journaled commit's rows must be readable — nothing stranded
    assert(st.txLog().where($"kind" === "commit").count() == 5)
    val codes = st.scan().select("code").as[String].collect().toSet
    assert(codes == Set("SEED", "K0", "K1", "K2", "K3"),
      s"stranded commits: ${Set("SEED", "K0", "K1", "K2", "K3") -- codes}")
  }

  test("vacuum removes torn-commit orphans that reads never saw") {
    val st = VersionedCandleStore(spark, tmpDir("vstore-vac") + "/v")
    st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 1)).toDF())
    st.commit(Seq(c("ETH", "2022-01-01 10:00:00", 2)).toDF())
    // simulate a torn commit: copy a committed data file under a tx id
    // that reserved + moved but never journaled
    val gen = new java.io.File(st.path)
      .listFiles().filter(_.getName.startsWith("data-g")).head
    def dataFiles = {
      val buf = scala.collection.mutable.ArrayBuffer[java.io.File]()
      def walk(d: java.io.File): Unit = d.listFiles().foreach { x =>
        if (x.isDirectory) walk(x)
        else if (x.getName.startsWith("tx") && x.getName.endsWith(".parquet")) buf += x
      }
      walk(gen); buf.toSeq
    }
    val src = dataFiles.head
    val torn = new java.io.File(src.getParentFile,
      "tx00000000000000000009-" + src.getName.split("-", 2)(1))
    java.nio.file.Files.copy(src.toPath, torn.toPath)
    // invisible to reads (committed-set gating)…
    assert(st.scan().count() == 2)
    assert(st.latestTxId == 2L)
    // …default vacuum SKIPS young candidates (an in-flight commit looks
    // exactly like a torn one — age is the discriminator)…
    assert(st.vacuum() == 0 && torn.exists())
    // …and with the age guard waived (caller guarantees no in-flight
    // writers) the orphan is reclaimed; committed data untouched
    assert(st.vacuum(minAgeMs = 0) >= 1)
    assert(!torn.exists())
    assert(st.scan().count() == 2)
    assert(st.vacuum(minAgeMs = 0) == 0) // idempotent; committed reserves stay
  }

  test("journal checkpointing keeps the txlog listing O(interval) across 500+ commits") {
    val st = new VersionedCandleStore(spark, tmpDir("vstore-ckpt") + "/v",
      checkpointEvery = 50)
    // a few REAL commits so scans have data to reconstruct…
    st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 1)).toDF())
    st.commit(Seq(c("ETH", "2022-01-01 10:00:00", 2)).toDF())
    st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 3)).toDF())
    // …then drive the journal the way a year of streaming ingest would
    // (one commit per micro-batch), without paying a data write per row
    val total = 523
    var tx = st.latestTxId
    (1 to 5).foreach { round =>
      val upto = 3 + round * 104
      while (tx < upto) {
        tx += 1
        st.writeJournalRow(tx, 0L, ts("2024-05-01 10:00:00"), "commit", None)
      }
      st.checkpointJournal()
    }
    assert(tx == total)
    // listing is bounded by the checkpoint interval retained (latest +
    // previous checkpoints, plus tails not yet absorbed by the previous
    // one) — NOT by the 523 commits ever journaled
    // (filter the local FS's hidden .crc checksum twins — a DFS listing
    // would not show them)
    val files = new java.io.File(st.path + "/txlog").listFiles().map(_.getName)
      .filterNot(_.startsWith("."))
    assert(files.length < 150, s"txlog listing has ${files.length} files")
    assert(files.count(_.startsWith("checkpoint-")) == 2) // latest + previous retained
    // the journal's CONTENT is exact: every commit, no duplicates
    assert(st.txLog().where($"kind" === "commit").count() == total)
    assert(st.latestTxId == total.toLong)
    // reads reconstruct through the checkpointed journal
    assert(st.scan().select("code", "open").as[(String, Double)].collect().toMap
      == Map("BTC" -> 3.0, "ETH" -> 2.0))
    assert(st.scanAsOf(1L).select("open").as[Double].collect().toSeq == Seq(1.0))
    // auto-rollup triggers on FRESH tails (above the latest checkpoint)
    // only — retained absorbed tails must not re-trigger a rollup one
    // commit after each checkpoint. 60 fresh commits > interval 50:
    while (tx < total + 60) {
      tx += 1
      st.writeJournalRow(tx, 0L, ts("2024-05-01 10:00:00"), "commit", None)
    }
    val tailsBefore = new java.io.File(st.path + "/txlog").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).count(_.startsWith("tx-"))
    assert(tailsBefore >= 60)
    st.commit(Seq(c("SOL", "2022-01-01 10:00:00", 4)).toDF())
    val filesAfter = new java.io.File(st.path + "/txlog").listFiles().map(_.getName)
      .filterNot(_.startsWith("."))
    assert(filesAfter.count(_.startsWith("tx-")) < tailsBefore,
      "commit past the threshold should have rolled the journal up")
    assert(st.latestTxId == total + 61L)
    assert(st.scan().count() == 3)
    // the rollup also GCs tx reserves it made permanent — otherwise
    // streaming ingest that never compacts accretes one _txn file per
    // commit forever
    val reserves = new java.io.File(st.path + "/_txn").listFiles()
      .map(_.getName).filter(_.endsWith(".reserve"))
    assert(reserves.isEmpty, s"reserves not GC'd by checkpoint: ${reserves.length}")
    // one commit later NO second rollup fires (1 fresh tail < interval):
    // retained absorbed tails must not count toward the threshold, or
    // every checkpoint would re-roll the full history one commit later
    // and collapse the one-interval retention lag readers depend on
    st.commit(Seq(c("ADA", "2022-01-01 10:00:00", 5)).toDF())
    val files2 = new java.io.File(st.path + "/txlog").listFiles().map(_.getName)
      .filterNot(_.startsWith("."))
    assert(files2.count(_.startsWith("checkpoint-"))
      == filesAfter.count(_.startsWith("checkpoint-")))
    assert(files2.count(_.startsWith("tx-"))
      == filesAfter.count(_.startsWith("tx-")) + 1,
      "a single fresh commit re-triggered a rollup")
    assert(st.scan().count() == 4)
  }

  test("journal checkpoint SUMMARIZES commits below the squash floor into " +
      "run rows: collect O(runs + window), reads exact across the boundary, " +
      "torn-commit gaps preserved") {
    val st = new VersionedCandleStore(spark, tmpDir("vstore-sum") + "/v",
      checkpointEvery = 10)
    st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 1)).toDF()) // tx 1
    st.commit(Seq(c("ETH", "2022-01-01 10:00:00", 2)).toDF()) // tx 2
    st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 3)).toDF()) // tx 3
    st.reserveTxId() // burns tx 4: reserved, never journaled — a torn gap
    st.commit(Seq(c("SOL", "2022-01-01 10:00:00", 5)).toDF()) // tx 5
    // plant torn DATA under the gap id: a "moved but never journaled"
    // commit the gate must keep invisible through every rollup shape
    val gen = new java.io.File(st.path)
      .listFiles().filter(_.getName.startsWith("data-g")).head
    val buf = scala.collection.mutable.ArrayBuffer[java.io.File]()
    def walk(d: java.io.File): Unit = d.listFiles().foreach { x =>
      if (x.isDirectory) walk(x)
      else if (x.getName.startsWith("tx") && x.getName.endsWith(".parquet")) buf += x
    }
    walk(gen)
    val src = buf.head
    java.nio.file.Files.copy(src.toPath, new java.io.File(src.getParentFile,
      f"tx${4L}%020d-" + src.getName.split("-", 2)(1)).toPath)
    assert(st.scan().count() == 3)
    // raise the floor, grow a journal window above it, roll up
    st.compact() // floor = 5 (carry-forward relays the torn tx-4 file)
    var tx = st.latestTxId
    while (tx < 40) { tx += 1
      st.writeJournalRow(tx, 0L, ts("2024-05-01 10:00:00"), "commit", None) }
    st.checkpointJournal()
    val log = st.txLog().collect()
    // commits ≤ floor folded into runs SPLIT AT THE GAP; window keeps
    // per-commit rows
    val runs = log.filter(_.getString(3) == "commits")
      .map(r => (r.getLong(0) - r.getLong(1) + 1, r.getLong(0))).sorted.toSeq
    assert(runs == Seq((1L, 3L), (5L, 5L)), s"runs: $runs")
    assert(!log.exists(r => r.getString(3) == "commit" && r.getLong(0) <= 5L),
      "summarized commits still present as per-commit rows")
    assert(log.count(_.getString(3) == "commit") == 35) // 6..40
    // reads exact across the summarization boundary
    assert(st.latestTxId == 40L)
    assert(st.scan().select("code", "open").as[(String, Double)].collect().toMap
      == Map("BTC" -> 3.0, "ETH" -> 2.0, "SOL" -> 5.0)) // torn 4 invisible
    assert(st.scanAsOf(40L).count() == 3)
    intercept[IllegalArgumentException](st.scanAsOf(4L)) // below floor
    // as-of-time: before everything → empty; mid-window (runs excluded,
    // some recents eligible) → loud refusal; after everything → full
    assert(st.scanAsOfTime(ts("2020-01-01 00:00:00")).count() == 0)
    intercept[IllegalArgumentException](
      st.scanAsOfTime(ts("2024-06-01 00:00:00")))
    assert(st.scanAsOfTime(new java.sql.Timestamp(
      System.currentTimeMillis() + 3600000L)).count() == 3)
    // a second compact + one commit past it + rollup folds the window
    // too (a rollup with nothing above the previous checkpoint's max
    // tx early-outs by design): the journal stabilizes at
    // O(runs + compacts + fresh window), independent of commit count
    st.compact() // floor = 40
    st.commit(Seq(c("ADA", "2022-01-01 10:00:00", 6)).toDF()) // tx 41
    st.checkpointJournal()
    val log2 = st.txLog().collect()
    val runs2 = log2.filter(_.getString(3) == "commits")
      .map(r => (r.getLong(0) - r.getLong(1) + 1, r.getLong(0))).sorted.toSeq
    assert(runs2 == Seq((1L, 3L), (5L, 40L)), s"runs2: $runs2")
    assert(log2.count(_.getString(3) == "commit") == 1) // tx 41 only
    assert(log2.length <= 5, s"journal rows: ${log2.length}") // 2 runs + 2 compacts + 1
    assert(st.latestTxId == 41L)
    assert(st.scan().count() == 4)
    assert(st.changesSince(41L).count() == 0)
    assert(st.scanAsOf(40L).count() == 3) // floor itself still readable
  }

  test("committed gate is journal-sized: a sparse journal (tx ids 1 and 1e9) plans instantly") {
    val st = VersionedCandleStore(spark, tmpDir("vstore-sparse") + "/v")
    st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 7)).toDF())
    // a counter that jumped: the next journaled commit is tx 10^9 (no
    // data — journal-only). The old gate enumerated (1 to 10^9) on the
    // driver per read; the journal-sized gate flips to IN(admitted).
    st.writeJournalRow(1000000000L, 0L, ts("2024-05-01 10:00:00"), "commit", None)
    val t0 = System.nanoTime()
    val rows = st.scan().select("code", "open").as[(String, Double)].collect()
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    assert(rows.toSeq == Seq(("BTC", 7.0)))
    assert(elapsedSec < 30.0, f"sparse-journal scan took $elapsedSec%.1f s")
    assert(st.latestTxId == 1000000000L)
  }

  test("compact sweeps ALL retained generations, not just the immediately superseded one") {
    val st = VersionedCandleStore(spark, tmpDir("vstore-sweep") + "/v")
    st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 1)).toDF())
    st.commit(Seq(c("ETH", "2022-01-01 10:00:00", 2)).toDF())
    st.compact() // gen1 -> gen2 (gen1 retained)
    // a writer stalled mid-commit parked its (unjournaled) file in gen1 —
    // the generation TWO compactions will have superseded. Simulate with
    // a copied data file under an unjournaled tx id (valid parquet; its
    // rows are committed-gated out of reads, and foldLatest absorbs the
    // duplicate key).
    def gen(n: Int) = new java.io.File(st.path + f"/data-g$n%09d")
    def dataFiles(d: java.io.File): Seq[java.io.File] = {
      val buf = scala.collection.mutable.ArrayBuffer[java.io.File]()
      def walk(x: java.io.File): Unit = x.listFiles().foreach { f =>
        if (f.isDirectory) walk(f)
        else if (f.getName.startsWith("tx") && f.getName.endsWith(".parquet")) buf += f
      }
      walk(d); buf.toSeq
    }
    val src = dataFiles(gen(1)).head
    val stalled = new java.io.File(src.getParentFile,
      "tx00000000000000000099-" + src.getName.split("-", 2)(1))
    java.nio.file.Files.copy(src.toPath, stalled.toPath)
    // a third commit so the next compact isn't a no-op, then compact:
    // gen2 -> gen3, GC deletes gen1 — but ONLY after the sweep walked it
    st.commit(Seq(c("SOL", "2022-01-01 10:00:00", 3)).toDF())
    st.compact()
    assert(!gen(1).exists() && gen(2).exists() && gen(3).exists())
    val relayed = dataFiles(gen(3)).filter(_.getName.startsWith("tx00000000000000000099-"))
    assert(relayed.nonEmpty,
      "unjournaled file parked two generations back was lost by the GC")
    // it stays invisible (unjournaled) and reads are unchanged
    assert(st.scan().count() == 3)
  }

  test("batch replay guard is atomic: one journal row per batch under concurrent retries") {
    val st = VersionedCandleStore(spark, tmpDir("vstore-bguard") + "/v")
    val b = Seq(c("BTC", "2022-01-01 10:00:00", 1)).toDF()
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Long]]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = (0 until 2).map(_ => new Thread(() => {
      gate.await()
      try results.add(Right(st.commit(b, batchId = Some(9L))))
      catch { case t: Throwable => results.add(Left(t)) }
      ()
    }))
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    // exactly ONE transaction minted for the batch, no duplicate history
    val journaled = st.txLog()
      .where($"kind" === "commit" && $"batch_id" === 9L)
      .select("tx_id").as[Long].collect()
    assert(journaled.length == 1)
    // every SUCCESSFUL committer returned that tx; a loser that found the
    // winner mid-flight failed loudly (never silently duplicated)
    val (losses, wins) = results.toArray(Array.empty[Either[Throwable, Long]])
      .partition(_.isLeft)
    assert(wins.nonEmpty && wins.forall(_ == Right(journaled.head)))
    losses.foreach { l =>
      assert(l.swap.toOption.get.isInstanceOf[IllegalStateException])
    }
    assert(st.scan().count() == 1)
  }

  test("a crashed batch-guard winner is vacuum-reclaimed, un-wedging retries") {
    val st = VersionedCandleStore(spark, tmpDir("vstore-bcrash") + "/v")
    // simulate a winner that reserved the guard then died before journaling
    val guard = new java.io.File(st.path + "/_txn/batch-00000000000000000005.reserve")
    guard.getParentFile.mkdirs()
    guard.createNewFile()
    val b = Seq(c("BTC", "2022-01-01 10:00:00", 1)).toDF()
    intercept[IllegalStateException](st.commit(b, batchId = Some(5L)))
    assert(st.vacuum(minAgeMs = 0) >= 1 && !guard.exists())
    assert(st.commit(b, batchId = Some(5L)) == 1L)
    assert(st.txLog().where($"batch_id" === 5L).count() == 1)
  }

  test("compact interrupted at EVERY crash prefix converges — reads exact or " +
    "loud, never silently squashed (generation-swap analog of the plain-store " +
    "intent-replay specs)") {
    val base = tmpDir("vstore-ccrash")
    def build(path: String): VersionedCandleStore = {
      val st = VersionedCandleStore(spark, path)
      st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 1)).toDF())
      st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 2),
        c("ETH", "2022-01-01 10:00:00", 3)).toDF())
      st.commit(Seq(c("SOL", "2023-01-01 10:00:00", 4)).toDF())
      st
    }
    def snap(st: VersionedCandleStore): Seq[String] =
      st.scan().select("code", "ts", "open")
        .collect().map(_.mkString("|")).sorted.toSeq
    def opens(df: org.apache.spark.sql.DataFrame): Map[String, Double] =
      df.select("code", "open").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val asOf2Exact = Map("BTC" -> 2.0, "ETH" -> 3.0)
    // expected terminal state: crash → converge → one more commit+compact
    val ref = build(base + "/ref")
    val want = snap(ref)
    ref.compact()
    ref.commit(Seq(c("BTC", "2022-01-01 10:00:00", 9)).toDF())
    ref.compact()
    val wantFinal = snap(ref)
    for (k <- 1 to 7) {
      val st = build(base + s"/t$k")
      val ex = intercept[VersionedCandleStore.SimulatedCrash](st.compactWithCrash(k))
      assert(ex.step == k)
      // a hard crash leaves the lock (kill -9 runs no finally): a fresh
      // compact refuses until the operator breaks the stale lock
      intercept[IllegalStateException](st.compact())
      assert(st.breakStaleLock(), s"k=$k: stale lock must exist")
      assert(!st.breakStaleLock(), s"k=$k: second break must be a no-op")
      // latest-state reads are exact at every prefix
      assert(snap(st) == want, s"k=$k: scan after crash")
      // as-of below the squash point is exact while history is intact
      // (journal row not yet written, k<=2) and REFUSED after — never
      // the silently-squashed wrong answer the publish-before-journal
      // order would give
      if (k <= 2) assert(opens(st.scanAsOf(2L)) == asOf2Exact, s"k=$k: as-of intact")
      else {
        val e = intercept[IllegalArgumentException](st.scanAsOf(2L))
        assert(e.getMessage.contains("predates"), s"k=$k: as-of must refuse loudly")
      }
      // re-running compact converges (full re-run below the journal row,
      // early-out at/after it) and stays exact
      assert(st.compact() == 3L, s"k=$k: re-run compact")
      assert(snap(st) == want, s"k=$k: scan after converged compact")
      assert(opens(st.scanAsOf(3L)) == Map("BTC" -> 2.0, "ETH" -> 3.0, "SOL" -> 4.0))
      // the store keeps working: counter monotonic, next compact exact
      assert(st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 9)).toDF()) == 4L)
      assert(st.compact() == 4L)
      assert(snap(st) == wantFinal, s"k=$k: terminal state")
    }
  }

  test("opening a path with data in an unrecognized layout fails loudly, never reads empty") {
    val dir = new java.io.File(tmpDir("vstore-fmt") + "/old")
    new java.io.File(dir, "_txlog").mkdirs() // a previous format's journal dir
    new java.io.File(dir, "_txlog/log.parquet").createNewFile()
    val st = VersionedCandleStore(spark, dir.toString)
    val ex = intercept[IllegalStateException](st.txLog())
    assert(ex.getMessage.contains("unrecognized layout"))
    intercept[IllegalStateException](st.scan())
    intercept[IllegalStateException](
      st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 1)).toDF()))
    // a CURRENT-layout store stamps its format marker on first commit
    val st2 = VersionedCandleStore(spark, tmpDir("vstore-fmt2") + "/v")
    st2.commit(Seq(c("BTC", "2022-01-01 10:00:00", 1)).toDF())
    assert(new java.io.File(st2.path + "/_graft_format_v1").exists())
    assert(st2.scan().count() == 1)
  }

  test("graft-vstore DataSource: latest/as-of reads, SQL view, pushdown, fold-safe filters") {
    val st = VersionedCandleStore(spark, tmpDir("vstore-dsv") + "/v")
    st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 1),
      c("ETH", "2021-06-01 00:00:00", 5)).toDF(),
      committedAt = Some(ts("2024-05-01 10:00:00")))
    st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 20)).toDF(), // overwrite
      committedAt = Some(ts("2024-05-02 10:00:00")))
    def viaFormat(opts: (String, String)*) = {
      val r = spark.read.format("graft-vstore")
      opts.foreach { case (k, v) => r.option(k, v) }
      r.load(st.path)
    }
    // latest == scan(); VERSION AS OF == scanAsOf; TIMESTAMP AS OF == scanAsOfTime
    assert(viaFormat().collect().toSet == st.scan().collect().toSet)
    assert(viaFormat("asOfTx" -> "1").collect().toSet == st.scanAsOf(1L).collect().toSet)
    assert(viaFormat("asOfTime" -> "2024-05-01 12:00:00").collect().toSet
      == st.scanAsOfTime(ts("2024-05-01 12:00:00")).collect().toSet)
    intercept[IllegalArgumentException](
      viaFormat("asOfTx" -> "1", "asOfTime" -> "2024-05-01 12:00:00").collect())
    // plain SQL over a temp view
    viaFormat().createOrReplaceTempView("vstore_sql")
    assert(spark.sql("SELECT code, open FROM vstore_sql WHERE code = 'BTC'")
      .as[(String, Double)].collect().toSeq == Seq(("BTC", 20.0)))
    // key-column predicates reach the Parquet scan BELOW the last-wins
    // fold (year is both a grouping key and a partition column)
    val pruned = viaFormat().where($"year" === 2021 && $"code" === "ETH")
    assert(pruned.select("open").as[Double].collect().toSeq == Seq(5.0))
    // a CONTENT filter must run ABOVE the fold: open > 10 matches tx2's
    // BTC winner — if it ran below, tx1's open=1 row would resurrect
    val content = viaFormat().where($"open" > 10.0)
    assert(content.select("code", "open").as[(String, Double)].collect().toSeq
      == Seq(("BTC", 20.0)))
    val noMatch = viaFormat().where($"open" > 100.0)
    assert(noMatch.count() == 0, "content filter below the fold resurrected an old version")
  }

  test("graft-vstore reader prunes unused content columns BELOW the fold") {
    val st = VersionedCandleStore(spark, tmpDir("vstore-prune") + "/v")
    st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 1),
      c("ETH", "2021-06-01 00:00:00", 5)).toDF())
    st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 20)).toDF())
    val rel = new graft.sources.VStoreRelation(
      spark.sqlContext, st.path, None, None)
    def readSchema(frame: org.apache.spark.sql.DataFrame): String =
      frame.queryExecution.executedPlan.toString
        .linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    // a 2-content-column projection reads 2 content columns of parquet:
    // the fold's winner struct carries ONLY (open, close), so column
    // pruning reaches the scan below the aggregation
    val slim = rel.scanFrame(Array("market", "code", "ts", "open", "close"),
      Array.empty)
    val slimSchema = readSchema(slim)
    assert(slimSchema.contains("open") && slimSchema.contains("close"),
      s"requested content must be read:\n$slimSchema")
    for (dropped <- Seq("high", "low", "volume", "bit_fields"))
      assert(!slimSchema.contains(dropped),
        s"unused content column '$dropped' not pruned below the fold:\n$slimSchema")
    assert(slim.queryExecution.executedPlan.toString.contains("max_by")
      || slim.queryExecution.optimizedPlan.toString.contains("max_by"),
      "pruned read must still fold last-wins")
    // values are the folded winners, not stale versions
    assert(slim.select("code", "open").as[(String, Double)].collect().toSet
      == Set(("BTC", 20.0), ("ETH", 5.0)))
    // a content column referenced ONLY by a filter is still read (and
    // the filter still runs above the fold)
    val filtered = rel.scanFrame(Array("code"),
      Array(org.apache.spark.sql.sources.GreaterThan("open", 10.0)))
    assert(readSchema(filtered).contains("open"),
      "filter-referenced content column must survive pruning")
    assert(filtered.as[String].collect().toSeq == Seq("BTC"))
    // key-only projection: no content read at all, cardinality exact
    val keysOnly = rel.scanFrame(Array("code", "ts"), Array.empty)
    val keysSchema = readSchema(keysOnly)
    for (dropped <- st.contentCols)
      assert(!keysSchema.contains(dropped),
        s"key-only read still scans '$dropped':\n$keysSchema")
    assert(keysOnly.count() == 2)
    // the end-to-end reader (through Spark's planner) stays correct
    val viaFormat = spark.read.format("graft-vstore").load(st.path)
      .select("code", "open")
    assert(viaFormat.as[(String, Double)].collect().toSet
      == Set(("BTC", 20.0), ("ETH", 5.0)))
  }

  test("graft-vstore V2: batch reads resolve through the Table, pruning " +
      "holds under the ScanBuilder, aggregates bypass the fold") {
    val st = VersionedCandleStore(spark, tmpDir("vstore-v2") + "/v")
    st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 1),
      c("ETH", "2021-06-01 00:00:00", 5)).toDF())
    st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 20)).toDF()) // overwrite
    val reader = spark.read.format("graft-vstore").load(st.path)
    // the batch path is DataSource V2: the analyzed plan carries a
    // DataSourceV2Relation over VStoreTable (execution crosses V1Scan)
    val analyzed = reader.queryExecution.analyzed.toString
    assert(analyzed.contains("graft-vstore"),
      s"expected a V2 relation in:\n$analyzed")
    assert(reader.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }.nonEmpty, "batch read must plan as a V2 scan relation")
    // results identical to the store API
    assert(reader.collect().toSet == st.scan().collect().toSet)
    // column pruning under the V2 ScanBuilder: drive it exactly as
    // Spark does (pushFilters -> pruneColumns -> build) and assert the
    // inner plan's Parquet ReadSchema below the fold
    val table = new graft.sources.VStoreTable(spark, st.path,
      None, None, None, None)
    val sb = new graft.sources.VStoreScanBuilder(spark, table)
    val post = sb.pushFilters(Array(
      org.apache.spark.sql.sources.GreaterThan("open", 10.0)))
    assert(post.length == 1, "all filters are post-scan (re-evaluated)")
    sb.pruneColumns(org.apache.spark.sql.types.StructType(
      table.schema().filter(f => Seq("code", "open").contains(f.name))))
    val inner = sb.build().asInstanceOf[graft.sources.VStoreScan].innerFrame()
    val readSchema = inner.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(readSchema.contains("open"), s"filtered content read:\n$readSchema")
    for (dropped <- Seq("high", "low", "volume", "bit_fields"))
      assert(!readSchema.contains(dropped),
        s"unused content column '$dropped' not pruned below the fold:\n$readSchema")
    assert(inner.select("code", "open").as[(String, Double)].collect().toSet
      == Set(("BTC", 20.0)))
    // aggregate pushdown: global min/max on fold keys + count(*) skip
    // the last-wins fold entirely (no max_by anywhere in the plan) and
    // still see FOLDED semantics (count = live keys, not raw rows)
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val aggDf = reader.agg(min($"ts"), max($"year"), count(lit(1)))
    val aggPlan = aggDf.queryExecution.optimizedPlan.toString
    // pushdown fired: the V2 relation's OUTPUT is the pushed aggregate
    // columns (min_ts/max_year/cnt), so the scan serves pre-aggregated
    // rows from the fold-bypassing key frame (no winner struct built)
    assert(aggPlan.contains("min_ts") && aggPlan.contains("max_year")
      && aggPlan.contains("cnt"),
      s"key aggregates must push into the scan:\n$aggPlan")
    assert(aggDf.as[(java.sql.Timestamp, Int, Long)].head() ==
      ((ts("2021-06-01 00:00:00"), 2022, 2L)))
    // GROUPED pushdown on fold keys: the catalog listing
    // `code, max(ts), count(*)` is served scan-side (group cols first
    // in the pushed schema), with per-group count = LIVE keys (BTC's
    // superseded version must not double-count)
    import org.apache.spark.sql.functions.col
    val catDf = reader.groupBy(col("code")).agg(max($"ts"), count(lit(1)))
    val catPlan = catDf.queryExecution.optimizedPlan.toString
    assert(catPlan.contains("max_ts") && catPlan.contains("cnt"),
      s"fold-key GROUP BY aggregates must push into the scan:\n$catPlan")
    assert(catDf.as[(String, java.sql.Timestamp, Long)].collect().toSet ==
      Set(("BTC", ts("2022-01-01 10:00:00"), 1L),
        ("ETH", ts("2021-06-01 00:00:00"), 1L)))
    // aggregate-free grouping (an outer count() prunes the agg list):
    // the scan serves DISTINCT live group keys
    assert(reader.groupBy(col("code")).agg(max($"ts")).count() == 2L)
    // a CONTENT group key does not push: open is fold-replaced, so
    // grouping by it must run the fold (and sees winner 20.0, not 1.0)
    val byContent = reader.groupBy(col("open")).agg(count(lit(1)))
    val byContentPlan = byContent.queryExecution.optimizedPlan.toString
    assert(!byContentPlan.contains("cnt"),
      s"content-key grouping must stay above the scan:\n$byContentPlan")
    assert(byContent.as[(Double, Long)].collect().toSet ==
      Set((20.0, 1L), (5.0, 1L)))
    // a content aggregate does NOT push (its min/max does not commute
    // with last-wins): the outer Aggregate stays above the relation and
    // the fold inside the scan serves WINNERS (20.0, not raw max 20.0
    // vs superseded 1.0 — the value proves the fold ran)
    val contentAgg = reader.agg(max($"open"))
    val contentPlan = contentAgg.queryExecution.optimizedPlan.toString
    assert(contentPlan.contains("max(open") && !contentPlan.contains("max_open"),
      s"content aggregate must stay above the scan:\n$contentPlan")
    assert(contentAgg.as[Double].head() == 20.0)
    // VERSION AS OF through V2 still folds per the addressed snapshot
    assert(spark.read.format("graft-vstore").option("asOfTx", "1")
      .load(st.path).count() == 2L)
    assert(spark.read.format("graft-vstore").option("asOfTx", "1")
      .load(st.path).agg(max($"open")).as[Double].head() == 5.0)
  }

  test("graft-vstore writer: append commits one tx; append-only modes enforced") {
    val path = tmpDir("vstore-dsw") + "/v"
    val b1 = Seq(c("BTC", "2022-01-01 10:00:00", 1)).toDF()
    val b2 = Seq(c("BTC", "2022-01-01 10:00:00", 2),
      c("ETH", "2021-06-01 00:00:00", 5)).toDF()
    // default ErrorIfExists writes a fresh store…
    b1.write.format("graft-vstore").save(path)
    val st = VersionedCandleStore(spark, path)
    assert(st.latestTxId == 1L && st.scan().count() == 1)
    // …and refuses a non-empty one; Ignore no-ops; Append journals tx 2
    intercept[IllegalStateException](b2.write.format("graft-vstore").save(path))
    b2.write.format("graft-vstore").mode("ignore").save(path)
    assert(st.latestTxId == 1L)
    b2.write.format("graft-vstore").mode("append").save(path)
    assert(st.latestTxId == 2L)
    assert(st.scan().where($"code" === "BTC").select("open").as[Double].head() == 2.0)
    assert(st.scanAsOf(1L).select("open").as[Double].collect().toSeq == Seq(1.0))
    // Overwrite would discard history — fails loudly
    intercept[UnsupportedOperationException](
      b1.write.format("graft-vstore").mode("overwrite").save(path))
    // round trip entirely through the DataSource
    val rt = spark.read.format("graft-vstore").option("asOfTx", "2").load(path)
    assert(rt.collect().toSet == st.scanAsOf(2L).collect().toSet)
  }

  test("changesSince tails per-tx history; floor guarded; CDF via the DataSource") {
    val st = VersionedCandleStore(spark, tmpDir("vstore-cdf") + "/v")
    st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 1)).toDF())
    st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 2), // overwrite
      c("ETH", "2021-06-01 00:00:00", 5)).toDF())
    st.commit(Seq(c("SOL", "2023-03-01 00:00:00", 7)).toDF())
    def feed(since: Long, until: Long = Long.MaxValue) =
      st.changesSince(since, until).select("code", "open", "tx_id")
        .as[(String, Double, Long)].collect().toSet
    // unfolded: BOTH BTC versions appear, each with its tx
    assert(feed(0L) == Set(("BTC", 1.0, 1L), ("BTC", 2.0, 2L),
      ("ETH", 5.0, 2L), ("SOL", 7.0, 3L)))
    assert(feed(1L) == Set(("BTC", 2.0, 2L), ("ETH", 5.0, 2L), ("SOL", 7.0, 3L)))
    assert(feed(1L, until = 2L) == Set(("BTC", 2.0, 2L), ("ETH", 5.0, 2L)))
    assert(feed(3L) == Set.empty)
    // the same feed through the reader surface
    val ds = spark.read.format("graft-vstore")
      .option("changesSince", "1").option("changesUntil", "2").load(st.path)
      .select("code", "open", "tx_id").as[(String, Double, Long)].collect().toSet
    assert(ds == feed(1L, until = 2L))
    intercept[IllegalArgumentException](spark.read.format("graft-vstore")
      .option("changesSince", "1").option("asOfTx", "2").load(st.path))
    // compaction squashes per-tx history below the floor: tailing from
    // the floor is exact, tailing from below it fails loudly
    st.compact()
    assert(st.changesSince(3L).count() == 0)
    intercept[IllegalArgumentException](st.changesSince(2L))
    st.commit(Seq(c("ADA", "2022-05-01 00:00:00", 9)).toDF())
    assert(feed(3L) == Set(("ADA", 9.0, 4L)))
  }

  test("changesSincePre via the reader: pre-image rows ride the batch " +
      "DataSource with the _change_kind schema, equal to the Scala feed; " +
      "changesUntil bounds it; lens exclusivity enforced") {
    val st = VersionedCandleStore(spark, tmpDir("vstore-pre-ds") + "/v")
    st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 1),
      c("ETH", "2021-06-01 00:00:00", 5)).toDF())          // tx 1
    st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 2)).toDF()) // tx 2 update
    st.delete(Seq(("UPBIT", "ETH", 60, ts("2021-06-01 00:00:00")))
      .toDF("market", "code", "candle_length", "ts"))        // tx 3 tombstone
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("code", "open", "tx_id", "_deleted", "_change_kind")
        .as[(String, Double, Long, Boolean, String)].collect().toSet
    val ds = spark.read.format("graft-vstore")
      .option("changesSincePre", "1").load(st.path)
    assert(ds.columns.toSeq == st.changesSincePre(1L).columns.toSeq)
    // the exact feed: both change rows (update + tombstone) plus ONE
    // window-start pre-image per touched key — the version a consumer
    // at watermark 1 already holds
    val expected = Set(
      ("BTC", 2.0, 2L, false, "change"),
      ("ETH", 0.0, 3L, true, "change"),
      ("BTC", 1.0, 1L, false, "preimage"),
      ("ETH", 5.0, 1L, false, "preimage"))
    assert(norm(ds) == expected)
    assert(norm(st.changesSincePre(1L)) == expected,
      "reader and Scala API must serve the same feed")
    // changesUntil bounds the window (the tombstone tx falls out; ETH
    // is then untouched, so its pre-image disappears too)
    val bounded = spark.read.format("graft-vstore")
      .option("changesSincePre", "1").option("changesUntil", "2").load(st.path)
    assert(norm(bounded) == Set(
      ("BTC", 2.0, 2L, false, "change"),
      ("BTC", 1.0, 1L, false, "preimage")))
    // lens exclusivity: the pre-image feed is its own addressing mode
    intercept[IllegalArgumentException](spark.read.format("graft-vstore")
      .option("changesSincePre", "1").option("changesSince", "1").load(st.path))
    intercept[IllegalArgumentException](spark.read.format("graft-vstore")
      .option("changesSincePre", "1").option("asOfTx", "2").load(st.path))
    // a SQL view over the reader serves the feed to pure-SQL consumers
    ds.createOrReplaceTempView("graft_pre_feed")
    assert(spark.sql("SELECT count(*) FROM graft_pre_feed WHERE " +
      "_change_kind = 'preimage'").head().getLong(0) == 2L)
  }

  test("streaming batch-id replay is a no-op returning the prior tx") {
    val st = VersionedCandleStore(spark, tmpDir("vstore-replay") + "/v")
    val b = Seq(c("BTC", "2022-01-01 10:00:00", 1)).toDF()
    val t1 = st.commit(b, batchId = Some(7L))
    val t2 = st.commit(b, batchId = Some(7L)) // foreachBatch retry
    assert(t1 == t2 && st.latestTxId == t1)
    assert(st.txLog().where($"kind" === "commit").count() == 1)
    assert(st.scan().count() == 1)
  }

  test("tombstone delete: one journaled tx hides the key from scan, as-of " +
      "before it intact, re-commit resurrects, absent-key delete is a " +
      "no-op, key scans and SQL aggregates fold the tombstones, batch-id " +
      "replay exactly-once") {
    val st = VersionedCandleStore(spark, tmpDir("vstore-del") + "/v")
    st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 1),
      c("BTC", "2022-01-01 10:01:00", 2),
      c("ETH", "2021-06-01 00:00:00", 3)).toDF())
    def keys(df: org.apache.spark.sql.DataFrame): Set[(String, Timestamp)] =
      df.select("code", "ts").collect()
        .map(r => (r.getString(0), r.getTimestamp(1))).toSet
    val tDel = st.delete(Seq(
      ("UPBIT", "BTC", 60, ts("2022-01-01 10:01:00")), // live -> tombstone
      ("UPBIT", "XRP", 60, ts("2020-01-01 00:00:00"))  // absent -> no-op
    ).toDF("market", "code", "candle_length", "ts"))
    assert(tDel == 2L)
    assert(keys(st.scan()) == Set(("BTC", ts("2022-01-01 10:00:00")),
      ("ETH", ts("2021-06-01 00:00:00"))))
    assert(!keys(st.scan()).contains(("XRP", ts("2020-01-01 00:00:00"))),
      "deleting an absent key must not create it")
    // as-of BEFORE the delete still shows the key; as-of AT it does not
    assert(keys(st.scanAsOf(1L)).contains(("BTC", ts("2022-01-01 10:01:00"))))
    assert(!keys(st.scanAsOf(2L)).contains(("BTC", ts("2022-01-01 10:01:00"))))
    // the fold-bypass key scan agrees with the folded table (the
    // aggregate-pushdown contract under tombstones)
    assert(keys(st.keyRowsAsOf(Long.MaxValue)) == keys(st.scan()))
    assert(st.keyRowsAsOf(Long.MaxValue).count() == 2L)
    // content of surviving keys untouched
    assert(st.scan().where($"code" === "ETH").select("open")
      .as[Double].head() == 3.0)
    // resurrect: a LATER commit of the deleted key wins over the tombstone
    st.commit(Seq(c("BTC", "2022-01-01 10:01:00", 42)).toDF())
    assert(st.scan().where($"code" === "BTC" &&
      $"ts" === ts("2022-01-01 10:01:00")).select("open")
      .as[Double].collect().toSeq == Seq(42.0))
    // batch-keyed delete replay is exactly-once
    val d1 = st.delete(Seq(("UPBIT", "ETH", 60, ts("2021-06-01 00:00:00")))
      .toDF("market", "code", "candle_length", "ts"), batchId = Some(9L))
    val d2 = st.delete(Seq(("UPBIT", "ETH", 60, ts("2021-06-01 00:00:00")))
      .toDF("market", "code", "candle_length", "ts"), batchId = Some(9L))
    assert(d1 == d2 && st.txLog().where($"kind" === "commit").count() == 4)
    assert(keys(st.scan()) == Set(("BTC", ts("2022-01-01 10:00:00")),
      ("BTC", ts("2022-01-01 10:01:00"))))
  }

  test("compact() physically reclaims tombstones: the squashed generation " +
      "holds no deleted keys and no _deleted column data, reads are " +
      "unchanged, and pre-delete history below the floor refuses loudly") {
    val st = VersionedCandleStore(spark, tmpDir("vstore-del-compact") + "/v")
    st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 1),
      c("ETH", "2021-06-01 00:00:00", 3)).toDF())
    st.delete(Seq(("UPBIT", "ETH", 60, ts("2021-06-01 00:00:00")))
      .toDF("market", "code", "candle_length", "ts"))
    val before = st.scan().select("code", "open").as[(String, Double)]
      .collect().toSet
    assert(st.compact() == 2L)
    assert(st.scan().select("code", "open").as[(String, Double)]
      .collect().toSet == before)
    // the squashed generation contains ONE physical row (ETH's tombstone
    // and its shadowed insert both reclaimed)
    val genDirs = new java.io.File(st.path).listFiles()
      .filter(_.getName.startsWith("data-g")).sortBy(_.getName)
    val latestGen = genDirs.last.getPath
    assert(spark.read.parquet(latestGen).count() == 1L,
      "squash must drop tombstoned keys physically")
    assert(!spark.read.parquet(latestGen).columns.contains("_deleted"),
      "squashed rows must not carry the tombstone flag")
    // history below the floor is gone — loudly, as ever
    intercept[IllegalArgumentException](st.scanAsOf(1L))
    // post-compact deletes still work (the store keeps its marker)
    st.delete(Seq(("UPBIT", "BTC", 60, ts("2022-01-01 10:00:00")))
      .toDF("market", "code", "candle_length", "ts"))
    assert(st.scan().count() == 0L)
  }

  test("a change-feed STREAM pinned before the store's first delete fails " +
      "loudly when the feed widens mid-stream, instead of feeding zeroed " +
      "updates") {
    val path = tmpDir("vstore-del-stream") + "/v"
    val st = VersionedCandleStore(spark, path)
    st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 1)).toDF())
    val src = new graft.sources.VStoreStreamSource(spark.sqlContext, path,
      startTx = 0L, maxTxsPerBatch = None)
    assert(!src.schema.fieldNames.contains("_deleted"))
    // first batch delivers fine (streaming-flagged frame — schema only)
    val o1 = src.getOffset.get
    assert(src.getBatch(None, o1).schema.fieldNames.toSeq ==
      src.schema.fieldNames.toSeq)
    // the store gains its first tombstone AFTER the query pinned its
    // schema — the next batch must refuse, not absorb
    st.delete(Seq(("UPBIT", "BTC", 60, ts("2022-01-01 10:00:00")))
      .toDF("market", "code", "candle_length", "ts"))
    val o2 = src.getOffset.get
    val e = intercept[IllegalStateException](src.getBatch(Some(o1), o2))
    assert(e.getMessage.contains("Restart the query"), e.getMessage)
    // a fresh source adopts the widened schema; the batch feed serves
    // the tombstone row flagged
    val src2 = new graft.sources.VStoreStreamSource(spark.sqlContext, path,
      startTx = 0L, maxTxsPerBatch = None)
    assert(src2.schema.fieldNames.contains("_deleted"))
    assert(src2.getBatch(None, src2.getOffset.get).schema.fieldNames
      .contains("_deleted"))
    assert(st.changesSince(0L).where($"_deleted").count() == 1L)
  }
}
