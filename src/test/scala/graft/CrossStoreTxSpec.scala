package graft

import java.sql.Timestamp

import graft.model.Candle
import graft.store.{CandleStore, CrossStoreTx, VersionedCandleStore}
import graft.store.CrossStoreTx.{CandleUpsert, VersionedCommit}

/** One logical transaction spanning a CandleStore and a
  * VersionedCandleStore, all-or-nothing at every crash prefix — the
  * reference's multi-command WAL tx (`database/database.go:27-51`)
  * over the file commit protocol. The invariant under test: after a
  * crash anywhere + recovery, BOTH stores show the whole tx or
  * NEITHER does — never one side.
  */
class CrossStoreTxSpec extends SparkSpec {
  import spark.implicits._

  private def c(code: String, t: String, o: Double): Candle =
    Candle("UPBIT", code, 60, ts(t), o, o + 1, o - 1, o + 0.5, 10.0, 0L)

  private def candleBatch = Seq(
    c("BTC", "2022-01-01 10:00:00", 1),
    c("BTC", "2022-01-01 10:01:00", 2)).toDF()
  private def vBatch = Seq(
    c("ETH", "2022-03-01 00:00:00", 5),
    c("SOL", "2022-03-01 00:00:00", 7)).toDF()

  private def fixture() = {
    val base = tmpDir("xstore")
    (CandleStore(spark, s"$base/candles"),
      VersionedCandleStore(spark, s"$base/v"),
      s"$base/txs")
  }

  private def visible(cs: CandleStore, vs: VersionedCandleStore): (Long, Long) = {
    // a prepared-only store holds _staging/_txlog but no data dirs
    val root = new java.io.File(cs.path)
    val hasData = root.exists &&
      root.listFiles().exists(f => f.isDirectory && !f.getName.startsWith("_"))
    (if (hasData) cs.scan().count() else 0L, vs.scan().count())
  }

  test("commit lands atomically on both stores; replay by name is exactly-once") {
    val (cs, vs, coord) = fixture()
    val toks = CrossStoreTx.execute(spark, coord, "b-0",
      Seq(CandleUpsert(cs, candleBatch), VersionedCommit(vs, vBatch,
        committedAt = Some(Timestamp.valueOf("2024-07-01 00:00:00")))))
    assert(toks.length == 2 && toks(1) == "1")
    assert(visible(cs, vs) == ((2L, 2L)))
    // exactly-once: same name re-executes nothing, returns recorded txs
    val again = CrossStoreTx.execute(spark, coord, "b-0",
      Seq(CandleUpsert(cs, candleBatch), VersionedCommit(vs, vBatch)))
    assert(again == toks)
    assert(visible(cs, vs) == ((2L, 2L)))
    assert(vs.txLog().where($"kind" === "commit").count() == 1)
    // a SECOND tx under a new name does commit
    CrossStoreTx.execute(spark, coord, "b-1",
      Seq(VersionedCommit(vs, Seq(c("ADA", "2022-03-02 00:00:00", 9)).toDF())))
    assert(visible(cs, vs) == ((2L, 3L)))
  }

  test("crash BEFORE the marker: nothing visible on either store; a retry " +
      "under the same name commits fresh") {
    val (cs, vs, coord) = fixture()
    intercept[RuntimeException](CrossStoreTx.executeInternal(spark, coord,
      "b-0", Seq(CandleUpsert(cs, candleBatch), VersionedCommit(vs, vBatch)),
      crashAfter = 1))
    CrossStoreTx.recover(spark, coord) // no marker: nothing to roll forward
    assert(visible(cs, vs) == ((0L, 0L)), "prepared-only state leaked")
    // prepared vstore data is torn-commit garbage: age-gated vacuum posture
    assert(vs.latestTxId == 0L)
    val toks = CrossStoreTx.execute(spark, coord, "b-0",
      Seq(CandleUpsert(cs, candleBatch), VersionedCommit(vs, vBatch)))
    assert(visible(cs, vs) == ((2L, 2L)))
    assert(toks(1) == "2", "retry minted a fresh vstore tx (old reserve torn)")
  }

  test("crash at EVERY post-marker prefix: recovery rolls the whole tx " +
      "forward — exact on both, never half") {
    for (crashAt <- Seq(2, 3, 4)) {
      val (cs, vs, coord) = fixture()
      intercept[RuntimeException](CrossStoreTx.executeInternal(spark, coord,
        "b-0", Seq(CandleUpsert(cs, candleBatch), VersionedCommit(vs, vBatch)),
        crashAfter = crashAt))
      // BEFORE recovery the tx may be half-finalized on disk — but a
      // restart must run recover() first (documented contract), and
      // after it both stores are exact
      val n = CrossStoreTx.recover(spark, coord)
      assert(n == 1, s"crashAt=$crashAt: marker not rolled forward")
      assert(visible(cs, vs) == ((2L, 2L)), s"crashAt=$crashAt")
      assert(vs.scan().select("code").as[String].collect().toSet
        == Set("ETH", "SOL"), s"crashAt=$crashAt")
      assert(cs.scan().select("open").as[Double].collect().sorted.toSeq
        == Seq(1.0, 2.0), s"crashAt=$crashAt")
      // recovery is idempotent; replay by name returns without re-running
      assert(CrossStoreTx.recover(spark, coord) == 0)
      val again = CrossStoreTx.execute(spark, coord, "b-0",
        Seq(CandleUpsert(cs, candleBatch), VersionedCommit(vs, vBatch)))
      assert(again.length == 2)
      assert(vs.txLog().where($"kind" === "commit").count() == 1,
        s"crashAt=$crashAt: replay double-journaled")
    }
  }

  test("recovery from a cold process: marker alone reconstructs the " +
      "stores and finalizes (no in-memory handles)") {
    val (cs, vs, coord) = fixture()
    intercept[RuntimeException](CrossStoreTx.executeInternal(spark, coord,
      "b-0", Seq(CandleUpsert(cs, candleBatch), VersionedCommit(vs, vBatch)),
      crashAfter = 2))
    // fresh store objects, as a restarted driver would build them
    assert(CrossStoreTx.recover(spark, coord) == 1)
    val cs2 = CandleStore(spark, cs.path)
    val vs2 = VersionedCandleStore(spark, vs.path)
    assert(visible(cs2, vs2) == ((2L, 2L)))
  }

  test("streaming: one atomic two-store tx per micro-batch; a replayed " +
      "batch is exactly-once on BOTH stores") {
    val (cs, vs, coord) = fixture()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String, Double)]
    import org.apache.spark.sql.functions._
    val rows = mem.toDF().toDF("code", "t", "o").select(
      lit("UPBIT").as("market"), col("code"),
      lit(60).as("candle_length"), col("t").cast("timestamp").as("ts"),
      col("o").as("open"), (col("o") + 1).as("high"), (col("o") - 1).as("low"),
      col("o").as("close"), lit(10.0).as("volume"), lit(0L).as("bit_fields"))
    val q = graft.streaming.Ingest.startCrossStoreIngest(rows, coord, "ing",
      b => Seq(CandleUpsert(cs, b), VersionedCommit(vs, b)),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    mem.addData(("BTC", "2022-01-01 10:00:00", 1.0))
    q.processAllAvailable()
    mem.addData(("ETH", "2022-01-01 10:00:00", 2.0))
    q.processAllAvailable()
    q.stop()
    assert(visible(cs, vs) == ((2L, 2L)))
    assert(vs.txLog().where($"kind" === "commit").count() == 2)
    // a foreachBatch retry of batch 1 replays by NAME: no new tx, no
    // duplicate upsert, on either store
    CrossStoreTx.execute(spark, coord, "ing-1",
      Seq(CandleUpsert(cs, rows.sparkSession.emptyDataFrame),
        VersionedCommit(vs, rows.sparkSession.emptyDataFrame)))
    assert(visible(cs, vs) == ((2L, 2L)))
    assert(vs.txLog().where($"kind" === "commit").count() == 2)
  }

  test("self-review holes closed: stale pre-commit tmp never wedges the " +
      "name; same-store interleaving by a DIFFERENT tx name is refused; " +
      "prepared data lost before roll-forward fails LOUDLY") {
    // (1) abandoned pre-commit tmp: crash between marker-tmp create and
    // the rename — simulated by planting a tmp — must never block a
    // retry (each attempt stages a UNIQUE tmp), and the debris is swept
    // once stale-aged, NOT while a live attempt might still rename it
    val (cs1, vs1, coord1) = fixture()
    val f = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(coord1), spark.sparkContext.hadoopConfiguration)
    f.mkdirs(new org.apache.hadoop.fs.Path(coord1))
    val tmp = new org.apache.hadoop.fs.Path(coord1, "b-0.tmp-dead")
    val os = f.create(tmp, false); os.write("garbage".getBytes); os.close()
    val toks = CrossStoreTx.execute(spark, coord1, "b-0",
      Seq(CandleUpsert(cs1, candleBatch), VersionedCommit(vs1, vBatch)))
    assert(toks.length == 2 && visible(cs1, vs1) == ((2L, 2L)))
    assert(f.exists(tmp), "a FRESH tmp (possibly a live attempt) was swept")
    f.setTimes(tmp, System.currentTimeMillis() - 48L * 3600 * 1000, -1)
    CrossStoreTx.recover(spark, coord1)
    assert(!f.exists(tmp), "stale-aged tmp debris not swept by recover")

    // (2) same-store lock: tx 'x' crashed holding the candle store's
    // lock; a DIFFERENT name must refuse loudly (its prepare snapshot
    // would go stale), while a retry of 'x' itself reclaims
    val (cs2, vs2, coord2) = fixture()
    intercept[RuntimeException](CrossStoreTx.executeInternal(spark, coord2,
      "x", Seq(CandleUpsert(cs2, candleBatch)), crashAfter = 1))
    val e = intercept[IllegalStateException](CrossStoreTx.execute(spark,
      coord2, "y", Seq(CandleUpsert(cs2, candleBatch))))
    assert(e.getMessage.contains("holds"), e.getMessage)
    CrossStoreTx.execute(spark, coord2, "x", Seq(CandleUpsert(cs2, candleBatch)))
    assert(cs2.scan().count() == 2)
    // lock released on finalize: 'y' now proceeds
    CrossStoreTx.execute(spark, coord2, "y", Seq(VersionedCommit(vs2, vBatch)))

    // (3) vacuum-before-recover: marker committed, then the prepared
    // candle staging+tmp deleted (what a mis-ordered vacuum does) —
    // recovery must FAIL loudly, never retire the marker half-committed
    val (cs3, vs3, coord3) = fixture()
    intercept[RuntimeException](CrossStoreTx.executeInternal(spark, coord3,
      "b-0", Seq(CandleUpsert(cs3, candleBatch), VersionedCommit(vs3, vBatch)),
      crashAfter = 2))
    val f3 = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(cs3.path), spark.sparkContext.hadoopConfiguration)
    f3.delete(new org.apache.hadoop.fs.Path(cs3.path, "_staging"), true)
    f3.listStatus(new org.apache.hadoop.fs.Path(cs3.path, "_txlog"))
      .map(_.getPath).filter(_.getName.endsWith(".tmp"))
      .foreach(p => f3.delete(p, false))
    val e3 = intercept[RuntimeException](CrossStoreTx.recover(spark, coord3))
    assert(e3.getMessage.contains("deleted before"), e3.getMessage)
    // the marker is STILL pending (not retired over a half commit)
    assert(f.exists(new org.apache.hadoop.fs.Path(coord3, "b-0.commit")))
  }

  test("zombie same-name coordinator is fenced at every point: recover " +
      "ABORTS a commit marker whose .done already exists — no duplicate " +
      "rows, no second journal row, and no theft of a third tx's lock") {
    val (cs, vs, coord) = fixture()
    val f = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(coord), spark.sparkContext.hadoopConfiguration)
    // the WINNER commits and retires normally
    val toks = CrossStoreTx.execute(spark, coord, "b-0",
      Seq(CandleUpsert(cs, candleBatch), VersionedCommit(vs, vBatch)))
    assert(visible(cs, vs) == ((2L, 2L)))
    // a ZOMBIE same-name coordinator that passed its done-check before
    // the winner finished: it prepared its OWN ops and now publishes its
    // marker (the rename succeeds — the winner's .commit was retired).
    // Simulated by preparing by hand and planting the marker file.
    val zIntent = cs.prepareUpsert(Seq(
      c("BTC", "2022-01-01 10:00:00", 99)).toDF()) // conflicting content!
    val (zTx, zWritten) = vs.prepareDataCommit(Seq(
      c("ETH", "2022-03-01 00:00:00", 99)).toDF(), None)
    val b64 = java.util.Base64.getEncoder.encodeToString(
      graft.store.CommitIntent.encode(zIntent).getBytes("UTF-8"))
    val marker = new org.apache.hadoop.fs.Path(coord, "b-0.commit")
    val os = f.create(marker, false)
    os.write((s"candle\t${cs.path}\t${zIntent.txid}\t$b64\n" +
      s"vstore\t${vs.path}\t$zTx\t$zWritten\t-1\n").getBytes("UTF-8"))
    os.close()
    // a third tx 'z' is meanwhile holding the candle store's lock
    intercept[RuntimeException](CrossStoreTx.executeInternal(spark, coord,
      "z", Seq(CandleUpsert(cs, candleBatch)), crashAfter = 1))
    // recover: the zombie marker is ABORTED (done is terminal), not
    // finalized — and the third tx's lock survives
    CrossStoreTx.recover(spark, coord)
    assert(!f.exists(marker), "zombie marker not cleared")
    assert(visible(cs, vs) == ((2L, 2L)), "zombie ops leaked into view")
    assert(cs.scan().where($"open" === 99.0).count() == 0)
    assert(vs.txLog().where($"kind" === "commit").count() == 1,
      "zombie minted a second journal row")
    val lock = new org.apache.hadoop.fs.Path(cs.path, "_txlog/_xtx.lock")
    assert(f.exists(lock), "zombie abort deleted a DIFFERENT tx's lock")
    val lockIn = f.open(lock)
    val lockHolder = try new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(lockIn), "UTF-8")
    finally lockIn.close()
    assert(lockHolder == "z", "zombie abort rewrote a DIFFERENT tx's lock")
    // the third tx retries fine and the zombie's replay returns the
    // winner's tokens
    CrossStoreTx.execute(spark, coord, "z", Seq(CandleUpsert(cs, candleBatch)))
    val again = CrossStoreTx.execute(spark, coord, "b-0",
      Seq(CandleUpsert(cs, candleBatch), VersionedCommit(vs, vBatch)))
    assert(again == toks)
  }

  test("retired markers GC: vacuumRetired bounds the coordinator dir, " +
      "in-window replay stays exactly-once, and a replay from BEYOND the " +
      "horizon is refused loudly instead of double-committing") {
    val (_, vs, coord) = fixture()
    val f = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(coord), spark.sparkContext.hadoopConfiguration)
    val toks = (0 to 2).map { i =>
      CrossStoreTx.execute(spark, coord, s"ing-$i",
        Seq(VersionedCommit(vs, Seq(
          c("ETH", s"2022-03-0${i + 1} 00:00:00", i)).toDF())))
    }
    val doneDir = new org.apache.hadoop.fs.Path(coord, "_done")
    assert(f.listStatus(doneDir).count(_.getPath.getName.endsWith(".done")) == 3)
    // root listing holds NO retired markers (recover stays O(pending))
    assert(!f.listStatus(new org.apache.hadoop.fs.Path(coord))
      .exists(_.getPath.getName.endsWith(".done")))
    // a DIFFERENT stream's marker and a free-form manual tx share the
    // coordinator: the writer-style horizon-only GC must never touch
    // them, however old they are (an age sweep could drop an idle
    // stream's LAST marker and turn its in-contract replay into a
    // refusal)
    for (n <- Seq("other-1.done", "manual-x.done")) {
      val p = new org.apache.hadoop.fs.Path(doneDir, n)
      val os = f.create(p, false); os.write("x".getBytes); os.close()
      f.setTimes(p, System.currentTimeMillis() - 90L * 24 * 3600 * 1000, -1)
    }
    // GC everything below batch 2 (the streaming writer's per-batch
    // call: horizon-only, retainMs = ∞)
    assert(CrossStoreTx.vacuumRetired(spark, coord, retainMs = Long.MaxValue,
      batchHorizon = Some(("ing", 2))) == 2)
    assert(f.exists(new org.apache.hadoop.fs.Path(doneDir, "other-1.done")) &&
      f.exists(new org.apache.hadoop.fs.Path(doneDir, "manual-x.done")),
      "horizon-only GC dropped a foreign prefix's marker")
    // batch 2's marker survives: its replay is exactly-once
    val again = CrossStoreTx.execute(spark, coord, "ing-2",
      Seq(VersionedCommit(vs, spark.emptyDataFrame)))
    assert(again == toks(2))
    assert(vs.txLog().where($"kind" === "commit").count() == 3)
    // batch 0 was GC'd: its replay is REFUSED (recorded tokens gone;
    // re-executing would double-commit)
    val e = intercept[IllegalStateException](CrossStoreTx.execute(spark,
      coord, "ing-0", Seq(VersionedCommit(vs, vBatch))))
    assert(e.getMessage.contains("GC'd"), e.getMessage)
    assert(vs.txLog().where($"kind" === "commit").count() == 3,
      "refused replay still committed something")
    // time-based retention (the operator's manual call) drops only the
    // free-form marker: each numeric prefix's NEWEST marker is retained
    // by the age path (dropping it would fold the stream's last batch
    // into the horizon and wedge its in-contract restart replay) — only
    // the batchHorizon path, which knows the replay floor, may drop it
    assert(CrossStoreTx.vacuumRetired(spark, coord, retainMs = 0) == 1)
    assert(!f.exists(new org.apache.hadoop.fs.Path(doneDir, "manual-x.done")))
    assert(f.exists(new org.apache.hadoop.fs.Path(doneDir, "ing-2.done")) &&
      f.exists(new org.apache.hadoop.fs.Path(doneDir, "other-1.done")),
      "age sweep dropped a prefix's newest marker")
    // ing-2's restart replay is STILL exactly-once after the age sweep
    assert(CrossStoreTx.execute(spark, coord, "ing-2",
      Seq(VersionedCommit(vs, spark.emptyDataFrame))) == toks(2))
    // the horizon path (replay floor known) does drop the newest marker,
    // after which its replay is refused
    assert(CrossStoreTx.vacuumRetired(spark, coord, retainMs = Long.MaxValue,
      batchHorizon = Some(("ing", 3))) == 1)
    intercept[IllegalStateException](CrossStoreTx.execute(spark,
      coord, "ing-2", Seq(VersionedCommit(vs, vBatch))))
  }

  test("zombie that straddles the .done GC is fenced by the horizon: " +
      "recover ABORTS a pending marker at/below the prefix horizon " +
      "instead of finalizing the stale prepared ops") {
    val (cs, vs, coord) = fixture()
    val f = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(coord), spark.sparkContext.hadoopConfiguration)
    // winner commits batch 0 and 1; the streaming writer's per-batch GC
    // retires-and-vacuums batch 0's .done (horizon now covers 0)
    CrossStoreTx.execute(spark, coord, "ing-0",
      Seq(CandleUpsert(cs, candleBatch), VersionedCommit(vs, vBatch)))
    CrossStoreTx.execute(spark, coord, "ing-1",
      Seq(VersionedCommit(vs, Seq(c("ADA", "2022-03-02 00:00:00", 3)).toDF())))
    assert(CrossStoreTx.vacuumRetired(spark, coord, retainMs = Long.MaxValue,
      batchHorizon = Some(("ing", 1))) == 1)
    val doneDir = new org.apache.hadoop.fs.Path(coord, "_done")
    assert(!f.exists(new org.apache.hadoop.fs.Path(doneDir, "ing-0.done")))
    // a ZOMBIE ing-0 coordinator that stalled after its entry-time
    // checks (before the winner even finished) now publishes: the
    // rename SUCCEEDS (no .commit, no .done left) — only the horizon
    // still records the fence. Simulated by preparing + planting.
    val zIntent = cs.prepareUpsert(Seq(
      c("BTC", "2022-01-01 10:00:00", 99)).toDF()) // conflicting content!
    val (zTx, zWritten) = vs.prepareDataCommit(Seq(
      c("ETH", "2022-03-01 00:00:00", 99)).toDF(), None)
    val b64 = java.util.Base64.getEncoder.encodeToString(
      graft.store.CommitIntent.encode(zIntent).getBytes("UTF-8"))
    val marker = new org.apache.hadoop.fs.Path(coord, "ing-0.commit")
    val os = f.create(marker, false)
    os.write((s"candle\t${cs.path}\t${zIntent.txid}\t$b64\n" +
      s"vstore\t${vs.path}\t$zTx\t$zWritten\t-1\n").getBytes("UTF-8"))
    os.close()
    // recover treats at/below-horizon as terminal: ABORT, not finalize —
    // a finalize here would double-commit batch 0's name with the
    // zombie's stale content, overwriting batch 1's world
    CrossStoreTx.recover(spark, coord)
    assert(!f.exists(marker), "zombie marker not cleared")
    assert(cs.scan().where($"open" === 99.0).count() == 0,
      "zombie candle ops leaked into view")
    assert(vs.scan().where($"open" === 99.0).count() == 0,
      "zombie vstore ops leaked into view")
    assert(vs.txLog().where($"kind" === "commit").count() == 2,
      "zombie minted a journal row")
    // and the name stays refused at execute
    intercept[IllegalStateException](CrossStoreTx.execute(spark, coord,
      "ing-0", Seq(VersionedCommit(vs, vBatch))))
  }

  test("enforced recover-before-vacuum: BOTH stores refuse their age " +
      "sweep while a pending cross-store commit marker references them") {
    val (cs, vs, coord) = fixture()
    intercept[RuntimeException](CrossStoreTx.executeInternal(spark, coord,
      "b-0", Seq(CandleUpsert(cs, candleBatch), VersionedCommit(vs, vBatch)),
      crashAfter = 2)) // marker published, nothing finalized
    val e1 = intercept[IllegalStateException](cs.vacuum(0))
    assert(e1.getMessage.contains("vacuum refused"), e1.getMessage)
    val e2 = intercept[IllegalStateException](vs.vacuum(0))
    assert(e2.getMessage.contains("vacuum refused"), e2.getMessage)
    // roll forward, then both sweeps proceed
    assert(CrossStoreTx.recover(spark, coord) == 1)
    assert(visible(cs, vs) == ((2L, 2L)))
    cs.vacuum(0)
    vs.vacuum(0)
    assert(visible(cs, vs) == ((2L, 2L)))
  }

  test("delayed roll-forward over LOST vstore data fails loudly instead " +
      "of journaling an empty commit") {
    val (cs, vs, coord) = fixture()
    intercept[RuntimeException](CrossStoreTx.executeInternal(spark, coord,
      "b-0", Seq(VersionedCommit(vs, vBatch), CandleUpsert(cs, candleBatch)),
      crashAfter = 2))
    // simulate the mis-ordered vacuum: delete the vstore tx's moved data
    val f = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(vs.path), spark.sparkContext.hadoopConfiguration)
    val it = f.listFiles(new org.apache.hadoop.fs.Path(vs.path), true)
    var dropped = 0
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.startsWith(f"tx${1L}%020d-")) {
        f.delete(st.getPath, false); dropped += 1
      }
    }
    assert(dropped > 0, "no staged vstore data files found to delete")
    val e = intercept[RuntimeException](CrossStoreTx.recover(spark, coord))
    assert(e.getMessage.contains("refusing to journal"), e.getMessage)
    assert(vs.txLog().where($"kind" === "commit").count() == 0,
      "an empty commit was journaled over lost data")
    // the marker is still pending — recovery still owed, nothing retired
    val fc = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(coord), spark.sparkContext.hadoopConfiguration)
    assert(fc.exists(new org.apache.hadoop.fs.Path(coord, "b-0.commit")))
  }

  test("object-store URIs are refused up front by stores and coordinator " +
      "(no atomic rename / create-exclusive there); the documented unsafe " +
      "override lifts the refusal") {
    val (_, vs, _) = fixture()
    val e = intercept[IllegalArgumentException](
      CandleStore(spark, "s3a://bucket/candles"))
    assert(e.getMessage.contains("object store"), e.getMessage)
    intercept[IllegalArgumentException](
      VersionedCandleStore(spark, "s3://bucket/v"))
    intercept[IllegalArgumentException](CrossStoreTx.execute(spark,
      "gs://bucket/txs", "x", Seq(VersionedCommit(vs, vBatch))))
    // hdfs / file schemes pass the check (construction only — no IO)
    CandleStore(spark, "hdfs://nn/candles")
    spark.conf.set("graft.store.unsafeObjectStoreCommits", "true")
    try CandleStore(spark, "s3a://bucket/candles") // scheme check lifted
    finally spark.conf.unset("graft.store.unsafeObjectStoreCommits")
  }

  test("guards: duplicate store, empty ops, bad name, concurrent same-name " +
      "marker race") {
    val (cs, vs, coord) = fixture()
    intercept[IllegalArgumentException](CrossStoreTx.execute(spark, coord,
      "x", Seq(CandleUpsert(cs, candleBatch), CandleUpsert(cs, candleBatch))))
    intercept[IllegalArgumentException](
      CrossStoreTx.execute(spark, coord, "x", Seq.empty))
    intercept[IllegalArgumentException](CrossStoreTx.execute(spark, coord,
      "bad name!", Seq(CandleUpsert(cs, candleBatch))))
    // a live same-name marker (simulating a concurrent coordinator that
    // already published): execute treats it as committed — roll forward,
    // no duplicate
    CrossStoreTx.execute(spark, coord, "y", Seq(VersionedCommit(vs, vBatch)))
    val again = CrossStoreTx.execute(spark, coord, "y",
      Seq(VersionedCommit(vs, vBatch)))
    assert(again.length == 1 && vs.scan().count() == 2)
  }

  test("lock release pre-reads the holder: a DIFFERENT tx's lock is never " +
      "touched (not even transiently displaced); our own is deleted; an " +
      "absent lock is a no-op") {
    val (cs, _, _) = fixture()
    val f = cs.crossTxFs
    val lock = cs.crossTxLockPath
    // absent lock: no-op, no error
    CrossStoreTx.releaseStoreLock(cs, "me")
    assert(!f.exists(lock))
    // a DIFFERENT tx holds the lock: release must return without
    // touching it — a displace-then-restore would open a blink where
    // the live holder's own release no-ops or a third tx slips in
    f.mkdirs(lock.getParent)
    val os = f.create(lock, false); os.write("live-tx".getBytes("UTF-8")); os.close()
    val mtime = f.getFileStatus(lock).getModificationTime
    CrossStoreTx.releaseStoreLock(cs, "me")
    assert(f.exists(lock), "different-name holder's lock was dropped")
    val in = f.open(lock)
    val content = try new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
    finally in.close()
    assert(content == "live-tx", "different-name holder's lock was rewritten")
    assert(f.getFileStatus(lock).getModificationTime == mtime,
      "different-name holder's lock was displaced and re-planted")
    // no stray release tombstones left behind
    assert(!f.listStatus(lock.getParent).exists(
      _.getPath.getName.contains(".release-")))
    // our OWN lock: deleted
    f.delete(lock, false)
    val os2 = f.create(lock, false); os2.write("me".getBytes("UTF-8")); os2.close()
    CrossStoreTx.releaseStoreLock(cs, "me")
    assert(!f.exists(lock), "own lock not released")
  }

  test("vacuumRetired dropPrefixes: a decommissioned stream's prefix is " +
      "fully cleared by the plain age sweep, its horizon still refuses a " +
      "zombie replay, and unlisted prefixes keep newest-marker retention") {
    val (_, vs, coord) = fixture()
    val f = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(coord), spark.sparkContext.hadoopConfiguration)
    val toksDead = CrossStoreTx.execute(spark, coord, "dead-0",
      Seq(VersionedCommit(vs, Seq(c("ETH", "2022-03-01 00:00:00", 1)).toDF())))
    CrossStoreTx.execute(spark, coord, "live-0",
      Seq(VersionedCommit(vs, Seq(c("SOL", "2022-03-01 00:00:00", 2)).toDF())))
    val doneDir = new org.apache.hadoop.fs.Path(coord, "_done")
    // without the hatch, retainMs=0 keeps each prefix's newest marker
    assert(CrossStoreTx.vacuumRetired(spark, coord, retainMs = 0) == 0)
    // decommission 'dead': the age sweep may now clear it fully; 'live'
    // keeps its newest marker
    assert(CrossStoreTx.vacuumRetired(spark, coord, retainMs = 0,
      dropPrefixes = Set("dead")) == 1)
    assert(!f.exists(new org.apache.hadoop.fs.Path(doneDir, "dead-0.done")))
    assert(f.exists(new org.apache.hadoop.fs.Path(doneDir, "live-0.done")),
      "dropPrefixes leaked onto an unlisted prefix")
    // the dropped marker's id was folded into the horizon first: a
    // zombie replay of the retired stream is refused, never re-executed
    val e = intercept[IllegalStateException](CrossStoreTx.execute(spark,
      coord, "dead-0", Seq(VersionedCommit(vs, vBatch))))
    assert(e.getMessage.contains("GC'd"), e.getMessage)
    assert(vs.txLog().where($"kind" === "commit").count() == 2,
      "refused replay of a decommissioned prefix still committed")
    assert(toksDead.nonEmpty)
  }
}
