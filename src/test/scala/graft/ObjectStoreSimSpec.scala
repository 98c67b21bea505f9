package graft

import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import graft.model.Candle
import graft.store.{AtomicFs, CandleStore, CrossStoreTx, VersionedCandleStore}
import graft.store.CrossStoreTx.{CandleUpsert, VersionedCommit}

/** Object-store filesystem SIMULATION: the semantics a conditional-
  * write-capable object store actually provides —
  *
  *  - NO atomic rename: any protocol rename throws (Spark's own job
  *    committer is exempted via its `_temporary` staging, the one
  *    place a real deployment swaps in the S3A magic committer);
  *  - `create(p, overwrite = false)` is a CONDITIONAL WHOLE-OBJECT
  *    PUT: bytes buffer privately and materialize ATOMICALLY at
  *    close (a hard-link publish — `link(2)` fails atomically when
  *    the destination exists, exactly S3's `If-None-Match: *`); a
  *    crash before close leaves NOTHING at the destination, never a
  *    partial object;
  *  - consistent listings (the local filesystem's, matching S3's
  *    strong consistency).
  */
class CondPutSimFs extends RawLocalFileSystem {
  override def getScheme: String = "condsim"
  override def getUri: java.net.URI = java.net.URI.create("condsim:///")

  override def rename(src: Path, dst: Path): Boolean =
    if (src.toUri.getPath.contains("_temporary") ||
        dst.toUri.getPath.contains("_temporary") ||
        src.getName.startsWith("."))
      // Spark-owned subsystems only: the job committer's `_temporary`
      // staging and the streaming CheckpointFileManager's hidden
      // `.name.uuid.tmp` files. A real object store SERVES those
      // renames (as copy+delete — Spark's checkpoint protocol
      // tolerates non-atomic rename by design); what this shim must
      // refuse is any rename from GRAFT's commit protocols, whose
      // files are never dot-hidden and never under `_temporary`.
      super.rename(src, dst)
    else throw new UnsupportedOperationException(
      s"object-store sim: atomic rename unavailable ($src -> $dst)")

  private def condCreate(f: Path): FSDataOutputStream = {
    val file = pathToFile(f)
    val parent = file.getParentFile
    if (parent != null && !parent.isDirectory && !parent.mkdirs() &&
        !parent.isDirectory)
      throw new java.io.IOException(s"mkdirs failed: $parent")
    if (file.exists()) throw new FileAlreadyExistsException(f.toString)
    val tmp = java.io.File.createTempFile(".condput-", ".tmp", parent)
    val raw = new java.io.FileOutputStream(tmp)
    val out = new java.io.OutputStream {
      private var closed = false
      override def write(b: Int): Unit = raw.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        raw.write(b, off, len)
      override def flush(): Unit = raw.flush()
      override def close(): Unit = {
        if (closed) return
        closed = true
        raw.close()
        try java.nio.file.Files.createLink(file.toPath, tmp.toPath)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            tmp.delete()
            throw new FileAlreadyExistsException(f.toString)
        }
        tmp.delete()
        ()
      }
    }
    new FSDataOutputStream(out, null)
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    if (overwrite)
      super.create(f, overwrite, bufferSize, replication, blockSize, progress)
    else condCreate(f)

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    if (overwrite)
      super.create(f, permission, overwrite, bufferSize, replication,
        blockSize, progress)
    else condCreate(f)

  // Hadoop's lazy local-permission loader constructs java.io.File from
  // the status URI and requires the "file" scheme — return statuses
  // with permissions pre-resolved instead (object stores have no POSIX
  // permissions anyway)
  private def solid(st: org.apache.hadoop.fs.FileStatus): org.apache.hadoop.fs.FileStatus =
    new org.apache.hadoop.fs.FileStatus(st.getLen, st.isDirectory,
      st.getReplication, st.getBlockSize, st.getModificationTime,
      st.getAccessTime,
      if (st.isDirectory) FsPermission.getDirDefault else FsPermission.getFileDefault,
      "graft", "graft", st.getPath)

  override def getFileStatus(f: Path): org.apache.hadoop.fs.FileStatus =
    solid(super.getFileStatus(f))

  override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] =
    super.listStatus(f).map(solid)
}

/** The object-store commit seam, proven on [[CondPutSimFs]]: every
  * crash prefix of the candle intent protocol, the vstore reserve/
  * journal protocol, and the cross-store 2PC marker stays
  * exact-or-loud WITHOUT atomic rename — any protocol path that still
  * renames throws through the shim and fails the suite.
  */
class ObjectStoreSimSpec extends SparkSpec {
  import spark.implicits._

  private lazy val scheme: String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.condsim.impl", classOf[CondPutSimFs].getName)
    spark.conf.set(graft.store.CommitPrimitives.schemesConf, "condsim")
    "condsim:"
  }

  private def simDir(prefix: String): String = scheme + tmpDir(prefix)

  private def c(code: String, t: String, o: Double): Candle =
    Candle("UPBIT", code, 60, ts(t), o, o + 1, o - 1, o + 0.5, 10.0, 0L)

  private def snap(s: CandleStore): Set[(String, java.sql.Timestamp, Double)] =
    s.scan().select("code", "ts", "open").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSet

  test("shim semantics: conditional create materializes at close or not " +
      "at all, loses exactly one of two racers, and renames throw") {
    val fs = new Path(simDir("sim-sem")).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val dir = new Path(simDir("sim-sem2"))
    fs.mkdirs(dir)
    val p = new Path(dir, "obj")
    // torn write: bytes written, never closed -> nothing visible
    val torn = fs.create(new Path(dir, "torn"), false)
    torn.write("half".getBytes)
    assert(!fs.exists(new Path(dir, "torn")), "partial object visible")
    // complete write: visible after close
    val ok = fs.create(p, false); ok.write("v1".getBytes); ok.close()
    assert(fs.exists(p))
    // conditional: creating over an existing object loses
    intercept[FileAlreadyExistsException] {
      val s2 = fs.create(p, false); s2.write("v2".getBytes); s2.close()
    }
    // RACE: two in-flight streams to a fresh name — the later CLOSE
    // loses (If-None-Match decides at completion, not at open)
    val fresh = new Path(dir, "race")
    val a = fs.create(fresh, false)
    val b = fs.create(fresh, false)
    a.write("A".getBytes); a.close()
    b.write("B".getBytes)
    intercept[FileAlreadyExistsException](b.close())
    val in = fs.open(fresh)
    val winner = try new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
    finally in.close()
    assert(winner == "A")
    // protocol renames are refused
    intercept[UnsupportedOperationException](fs.rename(p, new Path(dir, "moved")))
  }

  test("candle store on the shim: upserts merge rename-free and EVERY " +
      "install crash prefix rolls forward to the full batch") {
    val base = simDir("sim-candle")
    val batchA = Seq(
      c("BTC", "2021-06-01 00:00:00", 1), c("BTC", "2022-06-01 00:00:00", 2),
      c("ETH", "2022-06-01 00:00:00", 3)).toDF()
    def batchB = Seq(
      c("BTC", "2021-06-01 00:00:00", 10), c("BTC", "2022-07-01 00:00:00", 20),
      c("BTC", "2023-01-01 00:00:00", 30)).toDF()
    val ref = CandleStore(spark, base + "/ref")
    ref.upsert(batchA); ref.upsert(batchB)
    val want = snap(ref)
    assert(want.size == 5)
    val probe = CandleStore(spark, base + "/probe")
    probe.upsert(batchA)
    val total = probe.upsertWithCrash(batchB, maxOps = 0).opCount
    assert(total >= 5, s"expected >=2 deletes + >=3 moves, got $total ops")
    for (k <- 0 to total) {
      val s = CandleStore(spark, base + s"/t$k")
      s.upsert(batchA)
      s.upsertWithCrash(batchB, maxOps = k)
      // a plain read repairs and sees the WHOLE batch
      assert(snap(s) == want, s"crash after $k of $total install ops")
    }
  }

  test("vstore on the shim: conditional-create reserves mint distinct tx " +
      "ids under contention, commits journal rename-free, torn commits " +
      "stay invisible, checkpoint rollup works") {
    val st = VersionedCandleStore(spark, simDir("sim-vstore") + "/v",
      checkpointEvery = 5)
    val t1 = st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 1)).toDF())
    val t2 = st.commit(Seq(c("BTC", "2022-01-01 10:00:00", 2),
      c("ETH", "2022-01-01 10:00:00", 5)).toDF())
    assert((t1, t2) == ((1L, 2L)))
    assert(st.scan().count() == 2)
    assert(st.scanAsOf(1L).select("open").as[Double].collect().toSeq == Seq(1.0))
    // reserve hammer: concurrent committers never share a tx id
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    try {
      val tasks = (0 until 6).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long =
            st.commit(Seq(c(s"T$i", "2022-02-01 00:00:00", i)).toDF())
        })
      }
      val ids = tasks.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(ids.distinct.length == 6, s"duplicate tx ids: $ids")
    } finally pool.shutdown()
    // torn commit: data moved, journal row never written -> invisible
    val before = st.scan().count()
    st.prepareDataCommit(Seq(c("ZRX", "2022-03-01 00:00:00", 9)).toDF(), None)
    assert(st.scan().count() == before, "torn commit visible")
    assert(st.scan().where($"code" === "ZRX").count() == 0)
    // enough commits to cross the checkpoint interval; journal stays exact
    (0 until 5).foreach(i =>
      st.commit(Seq(c("CKP", s"2022-04-0${i + 1} 00:00:00", i)).toDF()))
    assert(st.latestTxId == 14L) // 2 + 6 hammer + torn reserve (9) + 5
    assert(st.scan().where($"code" === "CKP").count() == 5)
  }

  test("cross-store 2PC on the shim: every crash prefix recovers " +
      "exact-on-both, name replay is exactly-once, the marker publish " +
      "is a conditional put, and the unique-entry lock holds") {
    val base = simDir("sim-xtx")
    val coord = s"$base/coord"
    def candleBatch = Seq(c("BTC", "2022-01-01 10:00:00", 1)).toDF()
    def vBatch = Seq(c("ETH", "2022-01-01 10:00:00", 2)).toDF()
    // crash matrix: 1 = prepared only, 2 = marker published, 3/4 = one/
    // both ops finalized (marker unretired)
    for (k <- 1 to 4) {
      val cs = CandleStore(spark, s"$base/c$k")
      val vs = VersionedCandleStore(spark, s"$base/v$k")
      val crashed = intercept[Exception](
        CrossStoreTx.executeInternal(spark, coord, s"tx$k",
          Seq(CandleUpsert(cs, candleBatch), VersionedCommit(vs, vBatch)),
          crashAfter = k))
      assert(crashed.getMessage.contains("simulated crash"), crashed.getMessage)
      CrossStoreTx.recover(spark, coord)
      if (k == 1) {
        // never reached the commit point: visible on NEITHER store (an
        // empty candle store has no partition dirs — scan() would have
        // nothing to infer a schema from)
        val f = new Path(cs.path).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        assert(!f.listStatus(new Path(cs.path)).exists(
          _.getPath.getName.startsWith("market=")),
          s"prefix $k: aborted tx leaked candle data")
        assert(vs.scan().count() == 0, s"prefix $k: aborted tx leaked")
      } else {
        // past the commit point: rolled forward onto BOTH stores
        assert(cs.scan().count() == 1 && vs.scan().count() == 1,
          s"prefix $k: committed tx not rolled forward")
        // replay of the same name is exactly-once (returns recorded tokens)
        val again = CrossStoreTx.execute(spark, coord, s"tx$k",
          Seq(CandleUpsert(cs, candleBatch), VersionedCommit(vs, vBatch)))
        assert(again.length == 2)
        assert(cs.scan().count() == 1 && vs.scan().count() == 1,
          s"prefix $k: name replay double-committed")
      }
    }
    // clean end-to-end tx + the unique-entry lock: a different-name tx
    // on the SAME candle store while a lock entry is held refuses loudly
    val cs = CandleStore(spark, s"$base/clk")
    val vs = VersionedCandleStore(spark, s"$base/vlk")
    val fs = cs.crossTxFs
    val lockDir = cs.crossTxLockPath.getParent
    fs.mkdirs(lockDir)
    val entry = new Path(lockDir,
      s"${cs.crossTxLockPath.getName}.g-00000000000000000001")
    val os = fs.create(entry, false)
    os.write("other-tx".getBytes("UTF-8")); os.close()
    val refusal = intercept[IllegalStateException](
      CrossStoreTx.execute(spark, coord, "blocked",
        Seq(CandleUpsert(cs, candleBatch))))
    assert(refusal.getMessage.contains("other-tx"), refusal.getMessage)
    // releasing a DIFFERENT name never touches the holder's entry
    CrossStoreTx.releaseStoreLock(cs, "blocked")
    assert(fs.exists(entry), "release of a different name dropped the lock")
    fs.delete(entry, false)
    // now the tx commits end-to-end and releases its own entries
    val toks = CrossStoreTx.execute(spark, coord, "clean",
      Seq(CandleUpsert(cs, candleBatch), VersionedCommit(vs, vBatch)))
    assert(toks.length == 2 && cs.scan().count() == 1 && vs.scan().count() == 1)
    assert(!fs.listStatus(lockDir).exists(
      _.getPath.getName.contains(".g-")), "lock gates leaked")
    // zombie fence: a pending marker whose .done exists is aborted by
    // recover, never finalized (the done fence is backend-independent)
    val doneName = "clean"
    val pendingAgain = new Path(coord, s"$doneName.commit")
    val fsC = new Path(coord).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val zombieLine = "vstore\t" + s"$base/vlk" + "\t99\t0\t-1\n"
    val zo = fsC.create(pendingAgain, false)
    zo.write(zombieLine.getBytes("UTF-8")); zo.close()
    CrossStoreTx.recover(spark, coord)
    assert(!fsC.exists(pendingAgain), "zombie marker not cleared")
    assert(vs.txLog().where($"tx_id" === 99L).count() == 0,
      "zombie marker was finalized instead of aborted")
  }

  test("conditional-put lock is mutually exclusive under CONCURRENT " +
      "different-name acquirers: at most one wins each round, losers " +
      "refuse loudly, release frees the gate, stale gates supersede") {
    val cs = CandleStore(spark, simDir("sim-lockrace") + "/c")
    val fs = cs.crossTxFs
    val lock = cs.crossTxLockPath
    val prim = graft.store.ConditionalPutPrimitives
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      for (round <- 0 until 6) {
        val start = new java.util.concurrent.CyclicBarrier(8)
        val tasks = (0 until 8).map { i =>
          pool.submit(new java.util.concurrent.Callable[Option[String]] {
            def call(): Option[String] = {
              start.await()
              val nm = s"r$round-t$i"
              try { prim.acquireLock(fs, lock, nm, 3600000L); Some(nm) }
              catch { case _: IllegalStateException => None }
            }
          })
        }
        val winners = tasks.flatMap(
          _.get(120, java.util.concurrent.TimeUnit.SECONDS))
        assert(winners.size == 1,
          s"round $round: ${winners.size} concurrent different-name " +
            s"acquirers all believe they hold the lock: $winners")
        // the loser entries never linger as phantom holders: the ONLY
        // live gate is the winner's
        val held = fs.listStatus(lock.getParent)
          .filter(_.getPath.getName.contains(".g-"))
        assert(held.length == 1, s"round $round: ${held.length} live gates")
        prim.releaseLock(fs, lock, winners.head)
        assert(!fs.listStatus(lock.getParent)
          .exists(_.getPath.getName.contains(".g-")),
          s"round $round: release left gates behind")
      }
      // stale supersession: an aged-out holder's gate is replaced by ONE
      // conditional put of the next generation
      prim.acquireLock(fs, lock, "old", 3600000L)
      val gate = fs.listStatus(lock.getParent)
        .filter(_.getPath.getName.contains(".g-")).head.getPath
      fs.setTimes(gate, System.currentTimeMillis() - 7200000L, -1)
      prim.acquireLock(fs, lock, "new", 3600000L)
      val gates = fs.listStatus(lock.getParent)
        .filter(_.getPath.getName.contains(".g-"))
      assert(gates.length == 1, s"stale gate not superseded: ${gates.length}")
      val in = fs.open(gates.head.getPath)
      val holder = try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
      assert(holder == "new")
      prim.releaseLock(fs, lock, "new")
    } finally pool.shutdown()
  }

  test("streaming cross-store ingest on the shim: one atomic two-store tx " +
      "per micro-batch, exactly-once name replay, horizon GC bounds the " +
      "coordinator, deep replay refused — all rename-free") {
    val base = simDir("sim-xstream")
    val coord = s"$base/coord"
    val cs = CandleStore(spark, s"$base/c")
    val vs = VersionedCandleStore(spark, s"$base/v")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String, Double)]
    import org.apache.spark.sql.functions._
    val rows = mem.toDF().toDF("code", "t", "o").select(
      lit("UPBIT").as("market"), col("code"),
      lit(60).as("candle_length"), col("t").cast("timestamp").as("ts"),
      col("o").as("open"), (col("o") + 1).as("high"), (col("o") - 1).as("low"),
      col("o").as("close"), lit(10.0).as("volume"), lit(0L).as("bit_fields"))
    val q = graft.streaming.Ingest.startCrossStoreIngest(rows, coord, "ing",
      b => Seq(CandleUpsert(cs, b), VersionedCommit(vs, b)),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    (0 until 4).foreach { i =>
      mem.addData((s"C$i", s"2022-01-0${i + 1} 10:00:00", i.toDouble))
      q.processAllAvailable()
    }
    q.stop()
    assert(cs.scan().count() == 4 && vs.scan().count() == 4)
    assert(vs.txLog().where($"kind" === "commit").count() == 4)
    // the per-batch horizon GC bounded the coordinator: at most the
    // newest marker retired-live, everything earlier folded into the
    // horizon file
    val fsC = new Path(coord).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val doneEntries = fsC.listStatus(new Path(coord, "_done"))
      .map(_.getPath.getName).filter(_.endsWith(".done"))
    assert(doneEntries.length <= 2, doneEntries.mkString(","))
    // in-window replay of the newest batch: exactly-once by name
    CrossStoreTx.execute(spark, coord, "ing-3",
      Seq(CandleUpsert(cs, rows.sparkSession.emptyDataFrame),
        VersionedCommit(vs, rows.sparkSession.emptyDataFrame)))
    assert(cs.scan().count() == 4 && vs.scan().count() == 4)
    assert(vs.txLog().where($"kind" === "commit").count() == 4)
    // beyond-horizon replay refused loudly, never re-executed
    val deep = intercept[IllegalStateException](
      CrossStoreTx.execute(spark, coord, "ing-0",
        Seq(CandleUpsert(cs, candleBatch), VersionedCommit(vs, vBatch))))
    assert(deep.getMessage.contains("GC'd"), deep.getMessage)
    assert(vs.txLog().where($"kind" === "commit").count() == 4,
      "refused deep replay still committed")
  }

  private def candleBatch = Seq(c("BTC", "2022-02-01 10:00:00", 1)).toDF()
  private def vBatch = Seq(c("ETH", "2022-02-01 10:00:00", 2)).toDF()

  test("refusal matrix: undeclared object-store schemes stay refused; a " +
      "declared conditional-put scheme passes the capability gate") {
    val e = intercept[IllegalArgumentException](
      AtomicFs.requireAtomicCommits(spark, "s3a://bucket/t", "test"))
    assert(e.getMessage.contains("conditionalPutSchemes"), e.getMessage)
    // declaring the scheme lifts the refusal (capability asserted by
    // the operator; the seam then runs the rename-free protocol)
    val prev = spark.conf.getOption(graft.store.CommitPrimitives.schemesConf)
    try {
      spark.conf.set(graft.store.CommitPrimitives.schemesConf, "condsim,s3a")
      AtomicFs.requireAtomicCommits(spark, "s3a://bucket/t", "test")
      AtomicFs.requireAtomicCommits(spark, simDir("af"), "test")
    } finally prev.foreach(
      spark.conf.set(graft.store.CommitPrimitives.schemesConf, _))
    // gs remains refused
    intercept[IllegalArgumentException](
      AtomicFs.requireAtomicCommits(spark, "gs://bucket/t", "test"))
  }

  test("server-side copy vendor seam: data installs on the shim pay " +
      "accounted STREAMED copies by default and ZERO once a vendor " +
      "impl is declared for the scheme; end states identical") {
    import graft.store.ServerSideCopy
    // default: no vendor declared — installs stream, and the counter
    // says so (the honesty hook the cost note cites)
    val s0 = ServerSideCopy.streamedCopies.get()
    val st1 = CandleStore(spark, simDir("ssc-default"))
    st1.upsert(Seq(c("BTC", "2022-01-01 10:00:00", 1),
      c("ETH", "2021-06-01 00:00:00", 3)).toDF())
    val streamedDefault = ServerSideCopy.streamedCopies.get() - s0
    assert(streamedDefault >= 1,
      "default conditional-put installs must account streamed copies")
    // declare the vendor: same upsert, zero streamed copies, vendor
    // invoked instead, byte-identical end state
    val key = ServerSideCopy.confPrefix + "condsim"
    spark.sparkContext.hadoopConfiguration
      .set(key, classOf[TestServerSideCopy].getName)
    try {
      val s1 = ServerSideCopy.streamedCopies.get()
      val v0 = TestServerSideCopy.calls.get()
      val st2 = CandleStore(spark, simDir("ssc-vendor"))
      st2.upsert(Seq(c("BTC", "2022-01-01 10:00:00", 1),
        c("ETH", "2021-06-01 00:00:00", 3)).toDF())
      assert(ServerSideCopy.streamedCopies.get() == s1,
        "vendor declared: data installs must not stream bytes")
      assert(TestServerSideCopy.calls.get() > v0,
        "vendor declared: the vendor copy must have been invoked")
      assert(snap(st2) == snap(st1),
        "vendor-copied store diverges from the streamed one")
      // moved-by-a-peer race through the vendor: dest already exists,
      // the nio-based vendor throws java.nio's FileAlreadyExists RAW,
      // and moveFile must read it as success (dest holds the data,
      // src dropped)
      val fs = new Path(simDir("ssc-race")).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val raceDir = new Path(simDir("ssc-race"))
      val (rsrc, rdest) = (new Path(raceDir, "src"), new Path(raceDir, "dest"))
      for ((p, bytes) <- Seq(rsrc -> "new", rdest -> "winner")) {
        val os = fs.create(p, false)
        try os.write(bytes.getBytes("UTF-8")) finally os.close()
      }
      assert(graft.store.ConditionalPutPrimitives.moveFile(fs, rsrc, rdest),
        "dest-exists race through the vendor must read as moved")
      assert(!fs.exists(rsrc) && fs.exists(rdest),
        "race: src must be dropped, dest kept")
      // a DECLINING vendor falls back to the accounted streamed copy
      spark.sparkContext.hadoopConfiguration
        .set(key, classOf[DecliningServerSideCopy].getName)
      val s2 = ServerSideCopy.streamedCopies.get()
      val st3 = CandleStore(spark, simDir("ssc-decline"))
      st3.upsert(Seq(c("BTC", "2022-01-01 10:00:00", 1)).toDF())
      assert(ServerSideCopy.streamedCopies.get() > s2,
        "declined vendor copy must fall back to the streamed path")
      assert(snap(st3).nonEmpty)
    } finally spark.sparkContext.hadoopConfiguration.unset(key)
  }
}

/** Test vendor copy: "server-side" via a local hard-link publish — the
  * same conditional-at-close semantics the shim's own create gives.
  * Deliberately lets java.nio's FileAlreadyExistsException propagate
  * RAW (not converted to Hadoop's type): the natural nio-based vendor
  * impl throws exactly this on the moved-by-a-peer race, and the seam
  * must treat it as success.
  */
class TestServerSideCopy extends graft.store.ServerSideCopy {
  override def copy(fs: org.apache.hadoop.fs.FileSystem, src: Path,
                    dest: Path): Boolean = {
    TestServerSideCopy.calls.incrementAndGet()
    val sf = new java.io.File(src.toUri.getPath)
    val df = new java.io.File(dest.toUri.getPath)
    val parent = df.getParentFile
    if (parent != null) parent.mkdirs()
    val tmp = java.io.File.createTempFile(".ssc-", ".tmp", parent)
    java.nio.file.Files.copy(sf.toPath, tmp.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    try java.nio.file.Files.createLink(df.toPath, tmp.toPath)
    finally tmp.delete()
    true
  }
}

object TestServerSideCopy {
  val calls = new java.util.concurrent.atomic.AtomicLong(0)
}

/** A vendor that always declines (e.g. a cross-bucket move its rewrite
  * API can't serve) — the caller must fall back to streaming.
  */
class DecliningServerSideCopy extends graft.store.ServerSideCopy {
  override def copy(fs: org.apache.hadoop.fs.FileSystem, src: Path,
                    dest: Path): Boolean = false
}
