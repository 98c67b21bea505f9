package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.store.CandleStore

/** Candle-store ingest throughput at volume: generates N minute-bars
  * across several series-years with `spark.range` (distributed — no
  * driver materialization), then times (1) the initial upsert, (2) an
  * overlapping re-upsert (merge path), (3) a point lookup and range
  * scan off the resulting table.
  * `sbt "runMain graft.tools.StoreBench [nRows] [skew]"`.
  *
  * With `skew`, the generator plants a hot series instead: 90% of all
  * rows land in ONE (market, code, year) partition — the
  * one-popular-instrument reality of market data — and the run also
  * times a join against a per-code dimension three ways (plain shuffle,
  * [[graft.ops.Joins.saltedJoin]], AQE skew split) to show the upsert
  * and join paths survive real key skew.
  */
object StoreBench {
  def main(args: Array[String]): Unit = {
    // mode words and the numeric size may come in either order
    // (`journal 300` and `300 journal` both work): the size is the
    // FIRST numeric token anywhere in args, defaulted per mode
    val num = args.flatMap(_.toLongOption).headOption
    val n = num.getOrElse(5000000L)
    if (args.contains("skew")) { skewSoak(n); return }
    if (args.contains("journal")) {
      journalSoak(num.map(_.toInt).getOrElse(600)); return
    }
    if (args.contains("vstream")) {
      vstreamSoak(num.map(_.toInt).getOrElse(500)); return
    }
    if (args.contains("xstream")) {
      xstreamSoak(num.map(_.toInt).getOrElse(500)); return
    }
    if (args.contains("cc")) { ccSoak(num.getOrElse(10000000L)); return }
    if (args.contains("fanout")) { fanoutSoak(num.getOrElse(2000000L)); return }
    val spark = GraftSession.builder(appName = "graft-storebench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = java.nio.file.Files.createTempDirectory("graft-storebench").toString + "/t"

    def candles(offset: Long, rows: Long) = spark.range(rows)
      .select(
        lit("UPBIT").as("market"),
        concat(lit("SYM"), (col("id") % 4).cast("string")).as("code"),
        lit(60).as("candle_length"),
        timestamp_seconds(lit(1609459200L) + (col("id") + offset) / 4 * 60).as("ts"),
        (rand(42) * 100).as("open"), (rand(43) * 100 + 100).as("high"),
        (rand(44) * 50).as("low"), (rand(45) * 100).as("close"),
        (rand(46) * 10).as("volume"), lit(0L).as("bit_fields"))

    val store = CandleStore(spark, dir)
    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[storebench] $name%-28s ${sec}%8.2f s  (${n / sec / 1e6}%.2f M rows/s)")
      r
    }
    time("initial upsert")(store.upsert(candles(0, n)))
    time("overlapping re-upsert")(store.upsert(candles(n / 2, n)))
    val years = store.scan().select("year").distinct().count()
    println(s"[storebench] rows=${store.scan().count()} series-years=${
      store.listSeries().count()} years=$years")
    time("point lookup")(
      store.readPage("UPBIT", "SYM0", 60, 2021).count())
    time("range scan 1 month")(
      store.rangeScan("UPBIT", "SYM1", 60,
        java.sql.Timestamp.valueOf("2021-03-01 00:00:00"),
        java.sql.Timestamp.valueOf("2021-04-01 00:00:00")).count())

    // Versioned store: append-only commits (no read-modify-write — the
    // LSM trade) vs the read-time history fold + compaction they buy.
    val vdir = java.nio.file.Files.createTempDirectory("graft-storebench-v").toString + "/v"
    val vst = graft.store.VersionedCandleStore(spark, vdir)
    time("versioned commit 1")(vst.commit(candles(0, n)))
    time("versioned commit 2 (overlap)")(vst.commit(candles(n / 2, n)))
    time("versioned scan (fold 2 txs)")(vst.scan().count())
    time("versioned as-of tx 1")(vst.scanAsOf(1L).count())
    time("versioned compact")(vst.compact())
    time("versioned scan post-compact")(vst.scan().count())
    spark.stop()
  }

  /** Atomic-install soak at HIGH partition fan-out: one batch touching
    * 500 codes × 3 calendar years (1,000 days of 6-hour bars) = 1,500
    * series-year partitions, where the commit's metadata phase (deletes
    * + moves per partition file) is the scaling concern rather than row
    * volume — the install and its pre-publish census run on a bounded
    * parallel pool, so wall time stays far below
    * one-fs-op-per-partition-sequential latency.
    */
  private def fanoutSoak(n: Long): Unit = {
    val spark = GraftSession.builder(appName = "graft-storebench-fanout").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = java.nio.file.Files.createTempDirectory("graft-fanout").toString + "/t"
    def candles(offset: Long) = spark.range(n)
      .select(
        lit("UPBIT").as("market"),
        concat(lit("SYM"), (col("id") % 500).cast("string")).as("code"),
        lit(60).as("candle_length"),
        timestamp_seconds(lit(1609459200L) +
          (col("id") + offset) / 500 * 21600).as("ts"), // 6 h bars: n/500 steps ≈ 1,000 days
        (rand(42) * 100).as("open"), (rand(43) * 100 + 100).as("high"),
        (rand(44) * 50).as("low"), (rand(45) * 100).as("close"),
        (rand(46) * 10).as("volume"), lit(0L).as("bit_fields"))
    val store = graft.store.CandleStore(spark, dir)
    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[storebench] $name%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    time(s"fanout initial upsert ($n rows)")(store.upsert(candles(0)))
    val parts = store.listSeries().count()
    time(s"fanout re-upsert (over $parts live partitions)")(store.upsert(candles(n / 2)))
    println(s"[storebench] rows=${store.scan().count()} series-years=${store.listSeries().count()}")
    spark.stop()
  }

  /** Journal soak: the metadata wall a long-lived streaming table hits —
    * N commits' journal rows with vs without checkpoint rollup; measures
    * the txlog listing size and the journal-read latency every scan pays.
    */
  private def journalSoak(commits: Int): Unit = {
    val spark = GraftSession.builder(appName = "graft-journalbench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def seed(rows: Long) = spark.range(rows).select(
      lit("UPBIT").as("market"), lit("SYM0").as("code"),
      lit(60).as("candle_length"),
      timestamp_seconds(lit(1609459200L) + col("id") * 60).as("ts"),
      (rand(42) * 100).as("open"), (rand(43) * 100 + 100).as("high"),
      (rand(44) * 50).as("low"), (rand(45) * 100).as("close"),
      (rand(46) * 10).as("volume"), lit(0L).as("bit_fields"))
    // compact on a FIXED interval (production's posture — the window is
    // a constant, not a fraction of history): each compact raises the
    // squash floor, so the following rollup FOLDS everything below it
    // into run rows — the summarization path is what keeps a 10k-commit
    // journal O(runs + window) instead of O(commits)
    val compactEveryN = 500
    for ((label, every) <- Seq(("rollup-100", 100), ("no-rollup", Int.MaxValue))) {
      val dir = java.nio.file.Files.createTempDirectory("graft-journalbench")
        .toString + "/v"
      val st = new graft.store.VersionedCandleStore(spark, dir, checkpointEvery = every)
      st.commit(seed(1000))
      val tail = st.newJournalView()
      tail.poll() // seed the incremental tail
      var tailNew = 0L
      var tx = st.latestTxId
      // per-quintile drive wall: flat segments == per-commit cost does
      // not grow with journal age (the soak's main gate)
      val segWalls = scala.collection.mutable.ArrayBuffer[Double]()
      val segSize = math.max(commits / 5, 1)
      var segT0 = System.nanoTime()
      val t0 = System.nanoTime()
      while (tx < commits) {
        tx += 1
        st.writeJournalRow(tx, 0L,
          new java.sql.Timestamp(1700000000000L), "commit", None)
        if (every != Int.MaxValue && tx % every == 0) { st.checkpointJournal(); () }
        if (every != Int.MaxValue && tx % compactEveryN == 0) { st.compact(); tx = st.latestTxId }
        if (tx % 500 == 0)
          // incremental tail absorbs growth as RANGES: O(runs), never
          // one boxed append per covered id
          tailNew += tail.poll().map { case (lo, hi) => hi - lo + 1 }.sum
        if ((tx - (tx / segSize) * segSize) == 0 && segWalls.length < 5) {
          segWalls += (System.nanoTime() - segT0) / 1e9
          segT0 = System.nanoTime()
        }
      }
      // close the window: one final rollup folds everything below the
      // last squash floor (the steady-state shape a maintenance cycle
      // leaves behind)
      if (every != Int.MaxValue) { st.checkpointJournal(); () }
      val driveSec = (System.nanoTime() - t0) / 1e9
      val files = new java.io.File(dir + "/txlog").listFiles()
        .count(f => !f.getName.startsWith("."))
      val logRows = st.txLog().count()
      def med(reps: Int)(f: => Unit): Double = {
        val xs = (1 to reps).map { _ =>
          val a = System.nanoTime(); f; (System.nanoTime() - a) / 1e9
        }
        xs.sorted.apply(reps / 2)
      }
      val readSec = med(5) { st.latestTxId; () }
      val scanSec = med(3) { st.scan().count(); () }
      println(f"[journalbench] $label%-10s commits=$commits txlog_files=$files " +
        f"journal_rows=$logRows drive=${driveSec}%.1f s " +
        f"latestTxId=${readSec * 1000}%.0f ms scan=${scanSec}%.2f s")
      println(f"[journalbench] $label%-10s segment walls (s): " +
        segWalls.map(w => f"$w%.1f").mkString(" "))
      if (every != Int.MaxValue) {
        val flat = segWalls.length >= 2 && segWalls.last <= segWalls.head * 2 + 1.0
        // window (≤ compactEveryN per-commit rows above the last floor,
        // folded by the closing rollup) + 2 rows per compact cycle
        // (run + compact) + slack
        val bounded = logRows <= compactEveryN + 2L * (commits / compactEveryN) + 20
        println(s"[journalbench] flat-per-commit=${if (flat) "OK" else "FAIL"} " +
          s"rows-O(runs+window)=${if (bounded) "OK" else "FAIL"} " +
          s"tail_ids=$tailNew (expected ${commits - 1})")
        if (!flat || !bounded) { spark.stop(); sys.exit(1) }
      }
    }
    spark.stop()
  }

  /** Versioned streaming soak (`StoreBench vstream [nBatches]`, default
    * 500): a REAL Structured Streaming query commits one journaled tx
    * per micro-batch through `Ingest.startVersionedIngest` (MemoryStream
    * + processAllAvailable per feed = one batch each), with the store's
    * auto-rollup keeping the journal O(interval). Gates: per-batch wall
    * flat across the horizon (tail-20 mean vs batches [10,30) within
    * 2.5×), journal rows bounded, one commit row per non-empty batch
    * (exactly-once), and the change-feed tail replays the whole history
    * exactly.
    */
  private def vstreamSoak(nBatches: Int): Unit = {
    val spark = GraftSession.builder(appName = "graft-vstreambench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-vstream").toString
    val st = new graft.store.VersionedCandleStore(spark, s"$base/v",
      checkpointEvery = 100)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
    val stream = mem.toDF().toDF("k", "v").select(
      lit("UPBIT").as("market"), lit("SYM0").as("code"),
      lit(60).as("candle_length"),
      timestamp_seconds(lit(1609459200L) + col("k") * 60).as("ts"),
      col("v").as("open"), (col("v") + 1).as("high"), (col("v") - 1).as("low"),
      col("v").as("close"), lit(10.0).as("volume"), lit(0L).as("bit_fields"))
    val q = graft.streaming.Ingest.startVersionedIngest(stream, st, s"$base/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    val walls = new Array[Double](nBatches)
    var i = 0
    val t0 = System.nanoTime()
    while (i < nBatches) {
      val rows = (0 until 50).map(j => ((i * 50 + j).toLong, i * 1.0 + j))
      val a = System.nanoTime()
      mem.addData(rows)
      q.processAllAvailable()
      walls(i) = (System.nanoTime() - a) / 1e9
      i += 1
      if (i % 50 == 0)
        println(f"[vstream] batch $i/$nBatches wall=${walls(i - 1)}%.2f s " +
          f"elapsed=${(System.nanoTime() - t0) / 1e9}%.0f s")
    }
    q.stop()
    println("[vstream] per-batch walls (s):")
    walls.grouped(20).zipWithIndex.foreach { case (g, i) =>
      println(f"[vstream]  ${i * 20}%3d+ " + g.map(w => f"$w%5.2f").mkString(" "))
    }
    val commits = st.txLog().where(col("kind") === "commit").count() +
      st.txLog().where(col("kind") === "commits")
        .agg(coalesce(sum("n_rows"), lit(0L))).head().getLong(0)
    // during the drive (no compact yet) rows == commits by design; the
    // bounded resource is the txlog FILE listing (auto-rollup keeps it
    // O(checkpointEvery))
    val files = new java.io.File(s"$base/v/txlog").listFiles()
      .count(f => !f.getName.startsWith("."))
    val scanned = st.scan().count()
    // the change-feed tail replays every committed row exactly once
    // (BEFORE the maintenance compact squashes per-tx history)
    val tailed = spark.readStream.format("graft-vstore").load(st.path)
    val tailQ = tailed.writeStream.format("memory").queryName("vstream_tail")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$base/tailckpt").start()
    tailQ.awaitTermination()
    val tailRows = spark.table("vstream_tail").count()
    // one maintenance cycle + one post-compact commit folds the whole
    // journal into run rows — the steady-state O(runs + window) shape.
    // (The commit matters: a rollup whose max tx is already
    // checkpointed early-outs by design, so the compact row folds at
    // the NEXT absorption.)
    st.compact()
    st.commit(Seq((0L, 0.0)).toDF("k", "v").select(
      lit("UPBIT").as("market"), lit("SYM1").as("code"),
      lit(60).as("candle_length"),
      timestamp_seconds(lit(1609459200L)).as("ts"),
      lit(1.0).as("open"), lit(2.0).as("high"), lit(0.5).as("low"),
      lit(1.0).as("close"), lit(10.0).as("volume"), lit(0L).as("bit_fields")))
    st.checkpointJournal()
    val foldedRows = st.txLog().count()
    def median(a: Array[Double]) = a.sorted.apply(a.length / 2)
    // Per-commit cost is an O(checkpointEvery) SAWTOOTH by design (each
    // commit's journal read scans the tails since the last rollup), so
    // the gate compares PHASE-ALIGNED medians: the second post-warmup
    // fifth vs the final two fifths — growth ACROSS rollup cycles is
    // what would be a leak, not growth within one.
    val w0 = walls.slice(nBatches / 5, nBatches * 3 / 5)
    val w1 = walls.slice(nBatches * 3 / 5, nBatches)
    val flat = median(w1) <= 1.5 * median(w0)
    def ok(b: Boolean) = if (b) "OK" else "FAIL"
    println(f"[vstream] batches=$nBatches commits=$commits txlog_files=$files " +
      f"rows=$scanned tail_rows=$tailRows folded_journal_rows=$foldedRows " +
      f"total=${(System.nanoTime() - t0) / 1e9}%.0f s")
    println(f"[vstream] mid-median=${median(w0)}%.2f s " +
      f"tail-median=${median(w1)}%.2f s flat=${ok(flat)} " +
      s"exactly-once=${ok(commits == nBatches)} " +
      s"txlog-files-bounded=${ok(files <= 220)} " +
      s"folded-rows-O(runs)=${ok(foldedRows <= 12)} " +
      s"tail-exact=${ok(tailRows == scanned)}")
    spark.stop()
    if (!flat || commits != nBatches || files > 220 || foldedRows > 12 ||
        tailRows != scanned)
      sys.exit(1)
  }

  /** Cross-store streaming soak (`StoreBench xstream [nBatches]`,
    * default 500): a REAL Structured Streaming query drives ONE atomic
    * two-store transaction per micro-batch through
    * `Ingest.startCrossStoreIngest` (candle upsert + versioned commit
    * under one 2PC marker). Gates:
    *  - per-batch wall FLAT across the horizon (phase-aligned medians,
    *    like the vstream soak) — the coordinator must not pay
    *    O(total-batches) anywhere;
    *  - coordinator dir BOUNDED: the hot listing (pending `.commit` +
    *    tmps at the root) stays empty between batches and the retired
    *    `_done` set stays O(1) under the per-batch batch-horizon GC;
    *  - exactly-once: one journaled vstore commit per batch, candle row
    *    count exact;
    *  - after the drive, an in-window replay returns recorded tokens
    *    and a beyond-horizon replay is REFUSED (never re-executed).
    * Each batch lands in its own candle YEAR so the upsert merge stays
    * O(batch) — the soak isolates coordinator cost, not the (by-design)
    * partition-merge cost of hammering one year 500 times.
    */
  private def xstreamSoak(nBatches: Int): Unit = {
    val spark = GraftSession.builder(appName = "graft-xstreambench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val base = java.nio.file.Files.createTempDirectory("graft-xstream").toString
    val cs = CandleStore(spark, s"$base/candles")
    val vs = new graft.store.VersionedCandleStore(spark, s"$base/v",
      checkpointEvery = 100)
    val coord = s"$base/txs"
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Int, Long, Double)]
    // batch i's rows carry year 1971+i (one candle year per batch)
    val stream = mem.toDF().toDF("b", "k", "v").select(
      lit("UPBIT").as("market"), lit("SYM0").as("code"),
      lit(60).as("candle_length"),
      timestamp_seconds(unix_timestamp(
        make_date(col("b") + 1971, lit(1), lit(1)).cast("timestamp")) +
        col("k") * 60).as("ts"),
      col("v").as("open"), (col("v") + 1).as("high"), (col("v") - 1).as("low"),
      col("v").as("close"), lit(10.0).as("volume"), lit(0L).as("bit_fields"))
    val q = graft.streaming.Ingest.startCrossStoreIngest(stream, coord, "soak",
      b => Seq(graft.store.CrossStoreTx.CandleUpsert(cs, b),
        graft.store.CrossStoreTx.VersionedCommit(vs, b)),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    val rowsPerBatch = 20
    val walls = new Array[Double](nBatches)
    val coordRoot = new java.io.File(coord)
    val doneDir = new java.io.File(coord, "_done")
    var maxRootMarkers, maxDone = 0
    val t0 = System.nanoTime()
    var i = 0
    while (i < nBatches) {
      val rows = (0 until rowsPerBatch).map(j => (i, j.toLong, i * 1.0 + j))
      val a = System.nanoTime()
      mem.addData(rows)
      q.processAllAvailable()
      walls(i) = (System.nanoTime() - a) / 1e9
      val rootMarkers = Option(coordRoot.listFiles()).map(_.count { f =>
        f.isFile && (f.getName.endsWith(".commit") || f.getName.contains(".tmp"))
      }).getOrElse(0)
      val doneN = Option(doneDir.listFiles()).map(_.length).getOrElse(0)
      maxRootMarkers = math.max(maxRootMarkers, rootMarkers)
      maxDone = math.max(maxDone, doneN)
      i += 1
      if (i % 50 == 0)
        println(f"[xstream] batch $i/$nBatches wall=${walls(i - 1)}%.2f s " +
          f"root_markers=$rootMarkers done_entries=$doneN " +
          f"elapsed=${(System.nanoTime() - t0) / 1e9}%.0f s")
    }
    q.stop()
    println("[xstream] per-batch walls (s):")
    walls.grouped(20).zipWithIndex.foreach { case (g, gi) =>
      println(f"[xstream]  ${gi * 20}%3d+ " + g.map(w => f"$w%5.2f").mkString(" "))
    }
    val vCommits = vs.txLog().where(col("kind") === "commit").count() +
      vs.txLog().where(col("kind") === "commits")
        .agg(coalesce(sum("n_rows"), lit(0L))).head().getLong(0)
    val candleRows = cs.scan().count()
    // in-window replay (last batch): recorded tokens, no new journal row
    val lastName = s"soak-${nBatches - 1}"
    val replay = graft.store.CrossStoreTx.execute(spark, coord, lastName,
      Seq(graft.store.CrossStoreTx.VersionedCommit(vs, spark.emptyDataFrame)))
    val vAfterReplay = vs.txLog().where(col("kind") === "commit").count() +
      vs.txLog().where(col("kind") === "commits")
        .agg(coalesce(sum("n_rows"), lit(0L))).head().getLong(0)
    // beyond-horizon replay: batch 0's marker was GC'd batches ago
    val refused =
      try { graft.store.CrossStoreTx.execute(spark, coord, "soak-0",
        Seq(graft.store.CrossStoreTx.VersionedCommit(vs, spark.emptyDataFrame)))
        false
      } catch { case e: IllegalStateException => e.getMessage.contains("GC'd") }
    def median(a: Array[Double]) = a.sorted.apply(a.length / 2)
    val w0 = walls.slice(nBatches / 5, nBatches * 3 / 5)
    val w1 = walls.slice(nBatches * 3 / 5, nBatches)
    val flat = median(w1) <= 1.5 * median(w0)
    def ok(b: Boolean) = if (b) "OK" else "FAIL"
    println(f"[xstream] batches=$nBatches vstore_commits=$vCommits " +
      f"candle_rows=$candleRows max_root_markers=$maxRootMarkers " +
      f"max_done_entries=$maxDone total=${(System.nanoTime() - t0) / 1e9}%.0f s")
    println(f"[xstream] mid-median=${median(w0)}%.2f s " +
      f"tail-median=${median(w1)}%.2f s flat=${ok(flat)} " +
      s"exactly-once=${ok(vCommits == nBatches && vAfterReplay == nBatches &&
        replay.length == 2)} " +
      s"candle-exact=${ok(candleRows == nBatches.toLong * rowsPerBatch)} " +
      s"coord-bounded=${ok(maxRootMarkers <= 2 && maxDone <= 6)} " +
      s"deep-replay-refused=${ok(refused)}")
    spark.stop()
    if (!flat || vCommits != nBatches || vAfterReplay != nBatches ||
        replay.length != 2 || candleRows != nBatches.toLong * rowsPerBatch ||
        maxRootMarkers > 2 || maxDone > 6 || !refused)
      sys.exit(1)
  }

  /** Connected-components soak (`StoreBench cc [nEdges]`): a graph far
    * past oracle scale — `nEdges` random edges over nEdges/5 nodes
    * (supercritical: one giant component emerges, the hard regime for
    * min-label propagation) PLUS a 4096-node chain so pointer jumping's
    * O(log d) round count is actually exercised. Runs the default
    * localCheckpoint path and the reliable-checkpoint path and reports
    * wall time, rounds, and component count for each (the two must
    * match exactly).
    */
  private def ccSoak(nEdges: Long): Unit = {
    val spark = GraftSession.builder(appName = "graft-ccbench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val nNodes = math.max(nEdges / 5, 2L)
    val chainBase = nNodes + 1000000L
    val random = spark.range(nEdges).select(
      pmod(hash(col("id")), lit(nNodes)).cast("long").as("id_a"),
      pmod(hash(col("id") * 7 + 3), lit(nNodes)).cast("long").as("id_b"))
    val chain = spark.range(4095).select(
      (col("id") + chainBase).as("id_a"), (col("id") + chainBase + 1).as("id_b"))
    val edges = random.unionByName(chain).where(col("id_a") =!= col("id_b"))
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-ccbench-ckpt").toString)
    var components = Map.empty[String, Long]
    for ((label, reliableEvery) <- Seq(("localCheckpoint", 0), ("reliable-k3", 3))) {
      val t0 = System.nanoTime()
      val nComp = graft.llm.Dedup.connectedComponents(
        edges, "id_a", "id_b", reliableEvery = reliableEvery)
        .agg(countDistinct(col("component"))).head().getLong(0)
      val sec = (System.nanoTime() - t0) / 1e9
      components += label -> nComp
      println(f"[ccbench] $label%-16s edges=$nEdges nodes~$nNodes " +
        f"rounds=${graft.llm.Dedup.lastCcRounds.get()} components=$nComp sec=$sec%.1f")
    }
    require(components.values.toSet.size == 1,
      s"reliable and local paths disagree: $components")
    spark.stop()
  }

  /** Skew soak: 90% of rows in one (market, code, year). */
  private def skewSoak(n: Long): Unit = {
    val spark = GraftSession.builder(appName = "graft-storebench-skew").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = java.nio.file.Files.createTempDirectory("graft-skewbench").toString + "/t"

    // 1-second bars; codes HOT (ids 0-8 of every 10) vs COLD1..9 — every
    // (code, ts) is unique so dedup keeps all rows.
    def candles(offset: Long, rows: Long) = spark.range(rows)
      .select(
        lit("UPBIT").as("market"),
        when(col("id") % 10 < 9, lit("HOT"))
          .otherwise(concat(lit("COLD"), expr("id DIV 10 % 9").cast("string"))).as("code"),
        lit(1).as("candle_length"),
        timestamp_seconds(lit(1609459200L) + (col("id") + offset)).as("ts"),
        (rand(42) * 100).as("open"), (rand(43) * 100 + 100).as("high"),
        (rand(44) * 50).as("low"), (rand(45) * 100).as("close"),
        (rand(46) * 10).as("volume"), lit(0L).as("bit_fields"))

    val store = CandleStore(spark, dir)
    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[skewbench] $name%-28s ${sec}%8.2f s  (${n / sec / 1e6}%.2f M rows/s)")
      r
    }
    time("skewed initial upsert")(store.upsert(candles(0, n)))
    time("skewed overlapping upsert")(store.upsert(candles(n / 2, n)))
    val perCode = store.scan().groupBy("code").count()
      .orderBy(col("count").desc).collect()
    println(s"[skewbench] rows=${store.scan().count()} hot share=" +
      f"${perCode.head.getLong(1).toDouble / perCode.map(_.getLong(1)).sum}%.2f")

    // Join the skewed table against a per-code dim (too big to list by
    // hand, too small to matter — forced non-broadcast to expose the
    // shuffle skew): plain vs salted vs AQE skew split.
    val dim = spark.range(10).select(
      when(col("id") < 9, concat(lit("COLD"), col("id").cast("string")))
        .otherwise(lit("HOT")).as("code"),
      (col("id") * 7).as("weight"))
    val fact = store.scan().select("code", "close")
    def agg(df: org.apache.spark.sql.DataFrame): Long =
      df.groupBy("code").agg(sum(col("close") * col("weight"))).count()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    time("plain shuffle join (skewed)")(
      agg(fact.join(dim.hint("shuffle_hash"), Seq("code"))))
    time("salted join x8")(
      agg(graft.ops.Joins.saltedJoin(fact, dim, Seq("code"), saltFactor = 8)))
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8MB")
    time("AQE skew-split join")(
      agg(fact.join(dim.hint("shuffle_hash"), Seq("code"))))
    spark.stop()
  }
}
