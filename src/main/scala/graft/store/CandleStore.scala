package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Candle

/** Partitioned-Parquet candle store: the Spark-native analog of the
  * reference's paged storage engine.
  *
  * Layout: one Hive-partitioned Parquet table at `path`, partitioned by
  * `market/candle_length/code/year` — the same nesting the reference uses
  * on disk (`database/storage/disk/resolver.go:15-17`, one `.ysf` file per
  * series-year). Partition pruning gives the reference's "point page
  * lookup" (`database/storage/storage.go:78-96`) for free; Parquet
  * row-group min/max stats replace its daily prefix-sum skip index
  * (`page/index.go:11-17`).
  *
  * The WAL / lock manager / buffer pool / COW machinery of the reference
  * (`database/concurrency`, `database/storage/wal`, `database/storage/memory`) is
  * deliberately NOT ported: immutable DataFrames + atomic per-partition
  * file commit + idempotent upsert supply those guarantees in Spark's
  * execution model (SURVEY.md §2.1 T1-T4, M1-M4).
  *
  * Multi-partition CRASH atomicity (the reference wraps a multi-year
  * batch in ONE WAL transaction — `database/database.go:27-51`,
  * `database/transaction.go:28-59` — and recovery replays it whole):
  * [[upsert]]/[[compact]] install through a roll-forward commit intent.
  * The merged output is staged under `_staging/<txid>/`, a manifest of
  * exact file deletes+moves is PUBLISHED atomically (tmp + rename) to
  * `_txlog/<txid>.intent`, and only then executed; [[recover]] — run
  * automatically by [[scan]]/[[upsert]]/[[compact]] — re-executes any
  * published intent idempotently, so a crash at ANY point converges to
  * the full batch (the WAL-replay analog: publish is the commit point).
  * READER isolation during the seconds-wide install window is out of
  * scope here, exactly as in the reference (its readers take page locks;
  * ours use [[VersionedCandleStore]] for snapshot reads).
  *
  * Scale posture (100 TB): every operation below is a narrow scan of only
  * the partitions a batch touches, a single shuffle for the merge window,
  * and a dynamic-partition-overwrite of only those partitions. Nothing is
  * proportional to table size; everything is proportional to batch size ×
  * touched partitions.
  */
final class CandleStore(spark: SparkSession, val path: String) {
  import CandleStore._

  // the commit-intent protocol leans on the CommitPrimitives seam
  // (atomic rename + create-exclusive by default; conditional puts on
  // declared object-store schemes); refuse filesystems that provide
  // neither (see AtomicFs)
  AtomicFs.requireAtomicCommits(spark, path, "CandleStore")
  private[graft] val commitPrims: CommitPrimitives =
    CommitPrimitives.resolve(spark, path)

  private def exists: Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // metadata dirs (_txlog, _staging, _SUCCESS…) don't make a table:
    // a store whose first commit crashed pre-install must read as empty
    fs.exists(p) && fs.listStatus(p).exists { s =>
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** Store files are written as TIMESTAMP_MICROS (scoped to OUR writes —
    * the session default stays untouched for other outputs): INT96, the
    * Spark default, is deprecated and carries no usable column
    * statistics, which would defeat row-group pruning in [[rangeScan]]
    * and the footer-only [[minMaxTs]]/[[pageHeaders]] reads.
    *
    * The conf is set on the session EXECUTING the write — the batch
    * DataFrame's own session, which under streaming `foreachBatch` is a
    * per-batch CLONE whose SQLConf was copied at stream start (setting
    * it on the store's construction-time session would leave streaming
    * upserts on INT96 and silently degrade the footer-metadata reads).
    */
  private def withMicrosTimestamps[T](df: DataFrame)(f: => T): T =
    CandleStore.withMicrosTimestamps(df)(f)

  /** Full table scan (schema-on-read; callers filter for pruning).
    * Opens with [[recover]] — the reference's "open the database replays
    * the WAL" contract — so a reader never sees a crash-torn batch.
    */
  def scan(): DataFrame = { recover(); scanNoRecover() }

  /** [[scan]] minus the recovery probe — for internal callers that
    * already ran [[recover]] in the same operation.
    *
    * The table schema is PINNED (data columns as written + the four
    * partition columns in directory order, their types set by the pin
    * — so an all-digit code such as `005930` stays a string, leading
    * zero included, where inference would read it as an integer): a
    * bare `read.parquet` launches a footer-inference job per scan
    * (guide §7.3), multiplied across every store-backed query and
    * fixture. [[CandleStore.assertPinnedSchema]] checks the data
    * fields and partition names on the first scan of each store.
    * A store with no data dirs falls back to the bare read so the
    * "unable to infer schema" failure of scanning a never-committed
    * store stays exactly as loud as before.
    */
  private[graft] def scanNoRecover(): DataFrame =
    if (exists) {
      CandleStore.assertPinnedSchema(spark, path)
      spark.read.schema(CandleStore.pinnedScanSchema).parquet(path)
    } else spark.read.parquet(path)

  /** Point lookup of one series-year "page" — pure partition pruning
    * (reference: `Storage.checkAndLoad`, `storage.go:78-96`).
    */
  def readPage(market: String, code: String, candleLength: Int, year: Int): DataFrame =
    scan().where(
      col("market") === market && col("code") === code &&
        col("candle_length") === candleLength && col("year") === year)

  /** Range scan of a series between two timestamps (any span of years). */
  def rangeScan(market: String, code: String, candleLength: Int,
                from: java.sql.Timestamp, to: java.sql.Timestamp): DataFrame =
    scan().where(
      col("market") === market && col("code") === code &&
        col("candle_length") === candleLength &&
        col("year") >= year(lit(from)) && col("year") <= year(lit(to)) &&
        col("ts") >= lit(from) && col("ts") < lit(to))

  /** First/last timestamp of a series-year (reference: header-only read,
    * `PageHeader.GetFirstTimestamp/GetLastTimestamp`, `page/header.go:121-135`).
    * Served from Parquet FOOTER statistics alone — no row data is read,
    * matching the reference's O(files) header read (`disk/disk.go` reads
    * only the 60 B header). Falls back to a pruned data scan when a file
    * lacks usable ts statistics (e.g. legacy INT96 files).
    */
  def minMaxTs(market: String, code: String, candleLength: Int, year: Int): DataFrame = {
    recover() // footer reads bypass scan(): complete any torn install first
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("first_ts", TimestampType), StructField("last_ts", TimestampType)))
    footerStats(market, code, candleLength, year) match {
      case Some((mn, mx, _)) =>
        spark.createDataFrame(
          java.util.Arrays.asList(org.apache.spark.sql.Row(mn, mx)), schema)
      case None =>
        scanNoRecover() // recovery already ran at entry
          .where(col("market") === market && col("code") === code &&
            col("candle_length") === candleLength && col("year") === year)
          .agg(min("ts").as("first_ts"), max("ts").as("last_ts"))
    }
  }

  /** (min ts, max ts, row count) of one series-year partition from
    * parquet footers only; None if the partition is missing or any file
    * lacks ts statistics.
    */
  private[graft] def footerStats(market: String, code: String, candleLength: Int,
                                 year: Int): Option[(java.sql.Timestamp, java.sql.Timestamp, Long)] = {
    // partition values are path-escaped on disk (space, '/', ':' …) —
    // build the dir the same way Spark's writer does
    val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName _
    val dir = new org.apache.hadoop.fs.Path(path,
      s"market=${esc(market)}/candle_length=$candleLength/code=${esc(code)}/year=$year")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return None
    val files = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    if (files.isEmpty) return None
    import scala.jdk.CollectionConverters._
    var mn = Long.MaxValue; var mx = Long.MinValue; var rows = 0L
    var usable = true
    files.foreach { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
      try {
        reader.getFooter.getBlocks.asScala.foreach { b =>
          rows += b.getRowCount
          b.getColumns.asScala.find(_.getPath.toDotString == "ts")
            .map(_.getStatistics) match {
            case Some(ls: org.apache.parquet.column.statistics.LongStatistics)
                if ls.hasNonNullValue =>
              mn = math.min(mn, ls.getMin); mx = math.max(mx, ls.getMax)
            case _ =>
              usable = false // INT96 or stats-free file: caller falls back
          }
        }
      } finally reader.close()
    }
    if (!usable || rows == 0L) return None
    def toTs(micros: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
      t
    }
    Some((toTs(mn), toTs(mx), rows))
  }

  /** All series-year "page headers" from pure footer metadata: the
    * reference's catalog walk (directory listing + 60 B header reads,
    * `storage.go` + `page/header.go`) without touching row data. One
    * row per partition with (n_rows, first_ts, last_ts). Listing and
    * footer reads are metadata-scale (O(partitions + files), driver-side
    * like the reference's single-node walk).
    */
  def pageHeaders(): DataFrame = {
    recover() // metadata census bypasses scan(): repair before walking
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("market", StringType), StructField("candle_length", IntegerType),
      StructField("code", StringType), StructField("year", IntegerType),
      StructField("n_rows", LongType),
      StructField("first_ts", TimestampType), StructField("last_ts", TimestampType)))
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    if (fs.exists(root)) {
      def part(p: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.Path] =
        fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
      for {
        m <- part(root) if m.getName.startsWith("market=")
        l <- part(m) if l.getName.startsWith("candle_length=")
        c <- part(l) if c.getName.startsWith("code=")
        y <- part(c) if y.getName.startsWith("year=")
      } {
        val unesc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName _
        val market = unesc(m.getName.stripPrefix("market="))
        val len = l.getName.stripPrefix("candle_length=").toInt
        val code = unesc(c.getName.stripPrefix("code="))
        val year = y.getName.stripPrefix("year=").toInt
        footerStats(market, code, len, year).foreach { case (mn, mx, n) =>
          rows.add(org.apache.spark.sql.Row(market, len, code, year, n, mn, mx))
        }
      }
    }
    spark.createDataFrame(rows, schema)
  }

  /** Catalog listing: which series-years exist (reference: directory walk
    * + header reads). Partition-column-only scan — file listing, no data read.
    */
  def listSeries(): DataFrame =
    scan().select(Candle.partitionCols.map(col): _*).distinct()

  /** Per-series-year catalog with the reference's page-header fields
    * (`PageHeader.Count/StartOffset/EndOffset` plus price extremes,
    * `page/header.go:13-23`): one aggregation row per "page". Served
    * largely from parquet footer statistics (min/max/count per
    * row-group) after column pruning.
    */
  def describeSeries(): DataFrame =
    scan()
      .groupBy(Candle.partitionCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_rows"),
        min("ts").as("first_ts"), max("ts").as("last_ts"),
        min("low").as("min_low"), max("high").as("max_high"),
        sum("volume").as("total_volume"))

  // ----- atomic multi-partition commit (one "WAL tx" per batch) -----

  /** Filesystem + txlog handles for the cross-store coordinator
    * ([[CrossStoreTx]]): the per-store tx lock and install verification
    * live next to the intent log.
    */
  private[graft] def crossTxFs: org.apache.hadoop.fs.FileSystem = hadoopFs
  private[graft] def crossTxLockPath: org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(txlogP, "_xtx.lock")

  /** Record that `coordDir`'s [[CrossStoreTx]] coordinator drives
    * commits into this store, so [[vacuum]] can refuse its sweep while
    * that coordinator still has pending `.commit` markers referencing
    * this store — a vacuum between a cross-store commit point and its
    * roll-forward would delete COMMITTED (marker-published) staging as
    * crash debris. Idempotent create-if-absent of a tiny record file
    * under `_txlog/`; the set is O(#coordinators), ever.
    */
  private[graft] def recordCrossCoord(coordDir: String): Unit =
    CrossStoreTx.recordCoordIn(hadoopFs, txlogP, coordDir)

  /** Move destinations of `intent` NOT present under the store root —
    * empty iff the install (deletes+moves) completed. Used by
    * [[CrossStoreTx]] to distinguish "already installed and cleaned"
    * from "prepared data lost before roll-forward".
    */
  private[graft] def missingInstallTargets(intent: CommitIntent): Seq[String] = {
    val fs = hadoopFs
    intent.moves.collect {
      case (_, destRel)
          if !fs.exists(new org.apache.hadoop.fs.Path(rootP, destRel)) =>
        destRel
    }
  }

  private def hadoopFs = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def rootP = new org.apache.hadoop.fs.Path(path)
  private def txlogP = new org.apache.hadoop.fs.Path(path, "_txlog")
  private def stagingRootP = new org.apache.hadoop.fs.Path(path, "_staging")

  /** Store-root-relative path (URI-path comparison — scheme-qualified
    * listStatus results vs hand-built paths, see spark-gotchas).
    */
  private def relativize(p: org.apache.hadoop.fs.Path): String = {
    val root = hadoopFs.makeQualified(rootP).toUri.getPath
    val f = hadoopFs.makeQualified(p).toUri.getPath
    require(f.startsWith(root + "/"), s"$f is outside store root $root")
    f.stripPrefix(root + "/")
  }

  /** Stage `out` (a fully merged, partition-complete frame for every
    * partition it touches) under `_staging/<txid>/`, then atomically
    * publish the exact file-level install plan — delete every live data
    * file of a touched partition, move every staged file in — as
    * `_txlog/<txid>.intent`. The PUBLISH (one rename) is the commit
    * point: before it the batch is invisible and its staging is garbage;
    * after it [[recover]] rolls the install forward to completion no
    * matter where a crash lands. Staged part-file names embed the write
    * job's UUID, so a move destination can never collide with a live
    * file.
    */
  private def stageAndPublish(out: DataFrame): CommitIntent = {
    val intent = stageIntent(out)
    publishIntent(intent.txid)
    intent
  }

  /** [[stageAndPublish]] WITHOUT the publish rename — the intent is
    * fully staged and written as `_txlog/<txid>.tmp`, which [[recover]]
    * ignores and [[vacuum]] reclaims: the batch is INVISIBLE and
    * abortable until [[publishIntent]] renames it. This is the prepare
    * half of the cross-store transaction protocol ([[CrossStoreTx]]).
    */
  private[graft] def stageIntent(out: DataFrame): CommitIntent = {
    val fs = hadoopFs
    val txid = f"tx-${System.currentTimeMillis}%013d-" +
      java.util.UUID.randomUUID.toString.take(8)
    val staging = new org.apache.hadoop.fs.Path(stagingRootP, txid)
    withMicrosTimestamps(out) {
      out.write
        .partitionBy(Candle.partitionCols: _*)
        .mode(SaveMode.ErrorIfExists)
        .parquet(staging.toString)
    }
    def isData(name: String): Boolean =
      !name.startsWith("_") && !name.startsWith(".")
    val stagedPrefix = s"_staging/$txid/"
    val moves = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val it = fs.listFiles(staging, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && isData(f.getPath.getName)) {
        val srcRel = relativize(f.getPath)
        moves += ((srcRel, srcRel.stripPrefix(stagedPrefix)))
      }
    }
    // live files of every touched partition dir — listed AFTER the
    // staged write completed, so the set equals exactly what the merge
    // read (single writer; concurrent writers are out of contract here,
    // as for the reference's single-process store). Listings run on the
    // bounded pool: at high partition fan-out the pre-publish census
    // would otherwise be the same sequential-metadata wall the parallel
    // install phases avoid.
    val touched = moves.map { case (_, destRel) =>
      destRel.take(destRel.lastIndexOf('/'))
    }.distinct.toSeq
    val deletes = inParallel(touched) { partRel =>
      val dir = new org.apache.hadoop.fs.Path(rootP, partRel)
      if (fs.exists(dir))
        fs.listStatus(dir).filter(s => s.isFile && isData(s.getPath.getName))
          .map(s => relativize(s.getPath)).toSeq
      else Seq.empty[String]
    }.flatten
    val intent = CommitIntent(txid, deletes, moves.toSeq)
    val tmp = new org.apache.hadoop.fs.Path(txlogP, txid + ".tmp")
    fs.mkdirs(txlogP)
    val os = fs.create(tmp, false)
    try os.write(CommitIntent.encode(intent).getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
    intent
  }

  /** Publish a staged intent — the single-rename commit point. After
    * it, [[recover]] rolls the install forward no matter where a crash
    * lands; before it, the staged batch is invisible garbage.
    * Idempotent: an already-published (or already-installed-and-
    * cleaned) intent is a no-op, so a cross-store roll-forward can
    * re-drive it safely.
    */
  private[graft] def publishIntent(txid: String): Unit = {
    val fs = hadoopFs
    val tmp = new org.apache.hadoop.fs.Path(txlogP, txid + ".tmp")
    val pub = new org.apache.hadoop.fs.Path(txlogP, txid + ".intent")
    if (fs.exists(tmp)) {
      if (!commitPrims.moveFile(fs, tmp, pub) && !fs.exists(pub))
        sys.error(s"could not publish commit intent for $txid")
    }
    // neither tmp nor intent: already installed and cleaned — done
  }

  /** Abort a staged-but-unpublished intent: drop its staging and the
    * `.tmp` file. Only legal BEFORE [[publishIntent]] — a published
    * intent is committed and must roll forward.
    */
  private[graft] def abortStagedIntent(txid: String): Unit = {
    val fs = hadoopFs
    require(!fs.exists(new org.apache.hadoop.fs.Path(txlogP, txid + ".intent")),
      s"intent $txid is published: committed, cannot abort")
    fs.delete(new org.apache.hadoop.fs.Path(txlogP, txid + ".tmp"), false)
    fs.delete(new org.apache.hadoop.fs.Path(stagingRootP, txid), true)
    ()
  }

  /** Roll a PREPARED upsert forward to full visibility: publish (if the
    * crash landed before the rename) then install — driven by txid
    * alone, so a cross-store recovery can finalize from its marker
    * without the original intent object. Idempotent at every crash
    * point (`recover()` installs every published intent, this one
    * included).
    */
  private[graft] def finalizeStagedIntent(txid: String): Unit = {
    publishIntent(txid)
    if (hadoopFs.exists(new org.apache.hadoop.fs.Path(txlogP, txid + ".intent"))) {
      recover(); ()
    }
    // else: a previous roll-forward already installed and cleaned it
  }

  /** Execute a published intent: deletes, then moves, then cleanup.
    * Idempotent at every step — a delete target already gone is done, a
    * move whose source is gone but destination exists is done (rename is
    * atomic, so exactly one of src/dest exists at all times); a move with
    * NEITHER side present means staged data was lost and fails loudly.
    *
    * Each phase runs its ops in PARALLEL (bounded pool; ops within a
    * phase are independent, the delete→move barrier is what recovery
    * relies on): a 100 TB batch touching thousands of series-year
    * partitions pays two pipelined metadata rounds, not one sequential
    * driver-side rename loop. `maxOps` (tests only) stops after that
    * many delete/move steps WITHOUT cleanup, simulating a crash at an
    * arbitrary install point — that path stays sequential so every
    * crash prefix is deterministic.
    */
  private[graft] def installPublished(intent: CommitIntent,
                                      maxOps: Int = Int.MaxValue): Unit = {
    val fs = hadoopFs
    def del(rel: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(rootP, rel)
      if (fs.exists(p)) fs.delete(p, false)
    }
    def mv(srcRel: String, destRel: String): Unit = {
      val src = new org.apache.hadoop.fs.Path(rootP, srcRel)
      val dest = new org.apache.hadoop.fs.Path(rootP, destRel)
      if (fs.exists(src)) {
        fs.mkdirs(dest.getParent)
        // a false move is only legal if a concurrent recover won
        if (!commitPrims.moveFile(fs, src, dest) && !fs.exists(dest))
          sys.error(s"atomic install ${intent.txid}: move $srcRel -> $destRel failed")
      } else require(fs.exists(dest),
        s"atomic install ${intent.txid}: $srcRel and $destRel both " +
          "missing — staged data lost, cannot roll forward")
    }
    if (maxOps != Int.MaxValue) { // simulated crash: sequential prefix, no
      // cleanup — maxOps == opCount is the crash BETWEEN the last move
      // and the cleanup deletes (intent + staging left behind)
      val ops: Seq[Either[String, (String, String)]] =
        intent.deletes.map(Left(_)) ++ intent.moves.map(Right(_))
      ops.take(maxOps).foreach {
        case Left(rel) => del(rel)
        case Right((s, d)) => mv(s, d)
      }
      return
    }
    inParallel(intent.deletes)(del)
    inParallel(intent.moves) { case (s, d) => mv(s, d) }
    // verified cleanup: an intent that silently survives (delete returns
    // false but the path remains) would replay against a table whose
    // next commit has already replaced these files — fail loudly NOW
    // instead of bricking a later recover()
    def cleanup(p: org.apache.hadoop.fs.Path, recursive: Boolean): Unit =
      if (!fs.delete(p, recursive) && fs.exists(p))
        sys.error(s"atomic install ${intent.txid}: could not remove $p")
    cleanup(new org.apache.hadoop.fs.Path(stagingRootP, intent.txid), recursive = true)
    cleanup(new org.apache.hadoop.fs.Path(txlogP, intent.txid + ".intent"), recursive = false)
  }

  /** Run independent metadata ops on a bounded pool, preserving input
    * order in the results; first failure propagates (unwrapped). Hadoop
    * FileSystem instances are thread-safe by contract.
    */
  private def inParallel[T, R](items: Seq[T])(f: T => R): Seq[R] = {
    if (items.lengthCompare(4) <= 0) return items.map(f)
    graft.Par.mapBounded(items, 32)(f)
  }

  /** Operator-facing metadata snapshot — the `DESCRIBE DETAIL`
    * equivalent, surfaced as `CALL <cat>.system.describe_detail(tbl)`:
    * leaf-partition and data-file census plus total bytes, from one
    * recursive listing of the partition tree (metadata-bounded, no
    * data read; staging/txlog metadata dirs excluded). Runs
    * [[recover]] first so a crashed install's files count where they
    * will actually be read.
    */
  def detail(): CandleStore.StoreDetail = {
    recover()
    val fs = hadoopFs
    if (!fs.exists(rootP)) return CandleStore.StoreDetail(0L, 0L, 0L)
    var nFiles = 0L
    var bytes = 0L
    val parts = scala.collection.mutable.HashSet[String]()
    fs.listStatus(rootP)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("market="))
      .foreach { top =>
        val it = fs.listFiles(top.getPath, true)
        while (it.hasNext) {
          val st = it.next()
          if (st.getPath.getName.endsWith(".parquet")) {
            nFiles += 1; bytes += st.getLen
            parts += st.getPath.getParent.toString
            ()
          }
        }
      }
    CandleStore.StoreDetail(parts.size.toLong, nFiles, bytes)
  }

  /** Roll forward every published-but-incomplete commit intent (the WAL
    * replay of `database/database.go:56-77`). Cheap when clean: one
    * existence probe + one (usually empty) listing. Unpublished `.tmp`
    * intents and their staging are NOT touched — they are uncommitted
    * and invisible, and [[vacuum]] age-guards their removal (a mtime-
    * fresh staging dir may be an in-flight writer, see spark-gotchas on
    * torn-vs-in-flight GC).
    */
  def recover(): Int = {
    val fs = hadoopFs
    if (!fs.exists(txlogP)) return 0
    val intents = fs.listStatus(txlogP).map(_.getPath)
      .filter(_.getName.endsWith(".intent")).sortBy(_.getName)
    var done = 0
    intents.foreach { p =>
      val text =
        try {
          val in = fs.open(p)
          try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
            java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        } catch {
          case _: java.io.FileNotFoundException => null // concurrent recover finished it
        }
      if (text != null) { installPublished(CommitIntent.decode(text)); done += 1 }
    }
    done
  }

  /** Remove crash debris that never reached the commit point: staging
    * dirs with no published intent and orphaned `.tmp` intents, both
    * only when older than `minAgeMs`. Staleness is judged by the NEWEST
    * mtime anywhere under the candidate (a deep staged write touches
    * nested files continuously, while the root dir's mtime reflects only
    * its first children — the torn-vs-in-flight distinction from
    * spark-gotchas), and the publish check is repeated immediately
    * before each delete to shrink the race against a writer publishing
    * mid-vacuum. A writer whose staged write stalls longer than
    * `minAgeMs` between file creations is still out of contract — run
    * vacuum only when no writer is active, like the reference's offline
    * maintenance. Returns the number of entries removed.
    */
  def vacuum(minAgeMs: Long = 3600000L): Int = {
    val fs = hadoopFs
    CrossStoreTx.requireNoPendingCrossTx(spark, fs, txlogP, path)
    val cutoff = System.currentTimeMillis - minAgeMs
    def newestMtime(root: org.apache.hadoop.fs.FileStatus): Long = {
      var newest = root.getModificationTime
      if (root.isDirectory) {
        val it = fs.listFiles(root.getPath, true)
        while (it.hasNext) newest = math.max(newest, it.next().getModificationTime)
      }
      newest
    }
    var removed = 0
    if (fs.exists(stagingRootP)) fs.listStatus(stagingRootP).foreach { s =>
      def published = fs.exists(
        new org.apache.hadoop.fs.Path(txlogP, s.getPath.getName + ".intent"))
      if (!published && newestMtime(s) < cutoff && !published) {
        fs.delete(s.getPath, true); removed += 1
      }
    }
    if (fs.exists(txlogP)) fs.listStatus(txlogP).foreach { s =>
      if (s.getPath.getName.endsWith(".tmp") && s.getModificationTime < cutoff) {
        fs.delete(s.getPath, false); removed += 1
      }
    }
    removed
  }

  /** Upsert-merge a candle batch: the reference's `Page.Add`
    * (`page/page.go:61-142`) + year split (`common/candle.go:70-80`) +
    * insert command (`database/command/insert.go:107-123`) as ONE
    * declarative Spark job.
    *
    * Semantics preserved (SURVEY.md §2.1 "behavioral details"):
    *  - per-timestamp dedup, NEW batch wins (`page/page.go:114-123`);
    *  - within a batch, the later row (higher input ordinal) wins —
    *    deterministic tie-break, see `ordinalCol`;
    *  - arbitrarily late data accepted (any past date, `page/page.go:66-71`);
    *  - multi-year batches are split by calendar year via the `year`
    *    partition column (no driver-side loop — Spark's shuffle does the
    *    reference's `SplitByYear`);
    *  - result rows unique per (market, code, candle_length, ts);
    *  - idempotent: re-applying the same batch converges to the same
    *    state (gives exactly-once under streaming `foreachBatch` retry).
    *
    * Timestamps are truncated to whole seconds, mirroring the reference's
    * storage precision (`common/candle.go:44` stores `Unix()`).
    *
    * @param ordinalCol optional column giving each input row's position in
    *   the batch; rows later in the batch win ties on (key, ts). When
    *   absent, ties break on the natural column order of the row itself
    *   (deterministic for any input).
    * @param atomic install through the crash-atomic commit-intent
    *   protocol (default; see class doc). `false` keeps Spark's dynamic
    *   partition overwrite — same result, but a crash mid-commit can
    *   leave some touched years new and others old permanently.
    */
  def upsert(batch: DataFrame, ordinalCol: Option[String] = None,
             atomic: Boolean = true): DataFrame = {
    upsertInternal(batch, ordinalCol, atomic, Int.MaxValue)
    scan()
  }

  /** Test seam: run an atomic upsert but stop the install after `maxOps`
    * delete/move steps, simulating a crash there; returns the published
    * intent so the spec can enumerate crash points. */
  private[graft] def upsertWithCrash(batch: DataFrame,
                                     maxOps: Int): CommitIntent =
    upsertInternal(batch, None, atomic = true, maxOps).get

  /** Stage an upsert WITHOUT committing it: the full merge pipeline and
    * staged write of [[upsert]], stopped one rename short of the commit
    * point. The returned intent is invisible until
    * [[finalizeStagedIntent]] (or abortable via [[abortStagedIntent]])
    * — the prepare half of [[CrossStoreTx]]'s two-store atomic commit.
    */
  private[graft] def prepareUpsert(batch: DataFrame,
                                   ordinalCol: Option[String] = None): CommitIntent = {
    recover() // a crash-torn predecessor must be completed before we read
    stageIntent(mergeForUpsert(batch, ordinalCol))
  }

  private def upsertInternal(batch: DataFrame, ordinalCol: Option[String],
                             atomic: Boolean, maxOps: Int): Option[CommitIntent] = {
    recover() // a crash-torn predecessor must be completed before we read
    val out = mergeForUpsert(batch, ordinalCol)
    if (atomic) {
      val intent = stageAndPublish(out)
      installPublished(intent, maxOps)
      Some(intent)
    } else {
      withMicrosTimestamps(out) {
        out.write
          .partitionBy(Candle.partitionCols: _*)
          .option("partitionOverwriteMode", "dynamic")
          .mode(SaveMode.Overwrite)
          .parquet(path)
      }
      None
    }
  }

  /** Read ONLY the given touched partitions' directories, listing
    * O(touched) files instead of the whole table — `None` when the
    * touched set exceeds the collect cap or carries a null partition
    * value (caller falls back to the full-scan semi-join). The schema
    * is pinned (data columns as written, partition columns as the
    * table declares them), so path-value type inference can never
    * diverge from the batch side of the union. Runs [[recover]] first,
    * like [[scan]] — a crash-torn predecessor must be completed before
    * its partitions are read.
    */
  private def targetedPartitionRead(touched: DataFrame): Option[DataFrame] = {
    val maxTargeted = 1024
    val tuples = touched.limit(maxTargeted + 1).collect()
    if (tuples.length > maxTargeted ||
        tuples.exists(r => (0 until r.length).exists(r.isNullAt)))
      return None
    recover()
    val fs = hadoopFs
    val candidates = tuples.map { r =>
      val rel = Candle.partitionCols.indices.map { i =>
        s"${Candle.partitionCols(i)}=" +
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .escapePathName(String.valueOf(r.get(i)))
      }.mkString("/")
      new org.apache.hadoop.fs.Path(rootP, rel)
    }.toSeq
    // existence probes on the bounded pool — up to the cap's worth of
    // metadata RPCs, the same wall the stageIntent census avoids
    val dirs = inParallel(candidates)(d => d -> fs.exists(d))
      .collect { case (d, true) => d } // insert-only partitions: no dir yet
    val schema = org.apache.spark.sql.types.StructType(
      Candle.schema.fields.toSeq :+ org.apache.spark.sql.types.StructField(
        "year", org.apache.spark.sql.types.IntegerType))
    if (dirs.isEmpty)
      return Some(spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema))
    Some(spark.read
      .option("basePath", path)
      .schema(schema)
      .parquet(dirs.map(_.toString).toIndexedSeq: _*))
  }

  /** The upsert merge pipeline: last-wins dedup of `batch` against the
    * touched partitions of the live store, rebalanced and sorted for
    * the partitioned install — shared by [[upsert]] and
    * [[prepareUpsert]].
    */
  private def mergeForUpsert(batch: DataFrame,
                             ordinalCol: Option[String]): DataFrame = {
    // Tie-break columns, typed identically on both union branches:
    // `_src` new-beats-old, `_ord` later-in-batch-beats-earlier (when an
    // ordinal is supplied), `_cstruct` content tie-break (when not).
    val contentStruct = struct(col("open"), col("high"), col("low"),
      col("close"), col("volume"), col("bit_fields"))
    val batchOrd = ordinalCol.map(c => col(c).cast("long")).getOrElse(lit(0L))
    val normalized = batch
      .withColumn("ts", date_trunc("second", col("ts")).cast("timestamp"))
      .withColumn("year", year(col("ts")))
      .withColumn("_ord", batchOrd)
      .withColumn("_cstruct", contentStruct)
      .withColumn("_src", lit(1))
      .drop(ordinalCol.toSeq: _*)

    val merged =
      if (!exists) normalized
      else {
        // Narrow read: only the partitions this batch touches. Two
        // plans, picked by touched-set cardinality:
        //  - BOUNDED (the streaming/common case): read exactly the
        //    touched partition DIRECTORIES. The full-table read's FILE
        //    LISTING is O(every partition ever written) at planning
        //    time — dynamic pruning skips READING, not LISTING — so a
        //    long-lived streaming upsert would pay a per-batch cost
        //    growing with table age (measured: the 500-batch xstream
        //    soak's walls doubled). The driver collect is capped, so
        //    no driver-scale risk.
        //  - UNBOUNDED fallback: broadcast semi-join on the partition
        //    columns + runtime file skipping — scales to any number of
        //    touched series-years with no driver round-trip.
        // (Reference analog: demand-load exactly the pages the command
        // addresses, `storage.go:78-96`.)
        val touched = normalized
          .select(Candle.partitionCols.map(col): _*).distinct()
        val existingRaw = targetedPartitionRead(touched).getOrElse {
          scan().join(broadcast(touched), Candle.partitionCols, "left_semi")
        }
        val existing = existingRaw
          .withColumn("_ord", lit(Long.MinValue))
          .withColumn("_cstruct", contentStruct)
          .withColumn("_src", lit(0))
        normalized.unionByName(existing)
      }

    // Last-wins merge: ONE hash aggregation on (series key, ts) with
    // map-side partial combine — no sort, and duplicate-heavy batches
    // shrink before the shuffle (vs. a row_number window, which must
    // sort-shuffle every row). New batch beats existing
    // (`page/page.go:118-123`); within the batch, higher ordinal wins
    // (reference keeps the later merge input, `page/page.go:65,114-123`).
    // Priority ties imply an identical content struct, so max_by's pick
    // is deterministic.
    val pri = struct(col("_src"), col("_ord"), col("_cstruct"))
    val deduped = merged
      .groupBy((Candle.keyCols ++ Seq("ts", "year")).map(col): _*)
      .agg(max_by(col("_cstruct"), pri).as("_w"))
      .select("market", Candle.keyCols.tail ++ Seq("ts", "year", "_w.*"): _*)

    // Atomic install: dynamic partition overwrite rewrites ONLY the
    // touched series-year partitions (reference: COW page install on
    // commit, `memory/writer.go:41-48`; atomic file replace,
    // `disk/disk.go:65-86`). sortWithinPartitions preserves the
    // sorted-by-ts page invariant (`page/page.go:95-142`) and maximizes
    // Parquet row-group pruning on later range scans.
    // REBALANCE (AQE) shuffle on the partition cols rather than a plain
    // hash repartition: a hash would funnel a hot series-year (one
    // popular instrument) through a single reducer — the skew wall at
    // 100 TB. AQE's rebalance splits an oversized reducer partition at
    // the shuffle-block level into several parallel writer tasks (and
    // coalesces small ones into one file), which handles even a single
    // hot key. Unlike repartitionByRange (used here in round 2) it
    // needs NO boundary-sampling pass — the merge aggregation above is
    // evaluated exactly once, with no persist/materialization.
    deduped
      .hint("rebalance", Candle.partitionCols: _*)
      .sortWithinPartitions((Candle.partitionCols :+ "ts").map(col): _*)
  }

  /** Compaction — the reference's WAL group-flush analog (op M3,
    * `wal/wal.go:81-135`: periodically fold accumulated log segments
    * into clean pages). Streaming upserts leave one file per micro-batch
    * per touched partition; this rewrites ONLY partitions exceeding
    * `maxFilesPerPartition`, restoring the one-sorted-run-per-page
    * invariant and Parquet row-group pruning efficiency. Returns the
    * number of partitions compacted.
    *
    * Visibility contract: this store is OVERWRITE-IN-PLACE (dynamic
    * partition overwrite deletes the replaced files) — a DataFrame
    * handle resolved before an upsert/compact of the partitions it
    * covers must be re-created afterwards, exactly like the reference's
    * in-place page replace (`disk/disk.go:65-86`). Readers needing
    * snapshot isolation across maintenance use
    * [[VersionedCandleStore]], whose generation-swap compaction keeps
    * the previous generation readable.
    *
    * Scale: the file census is a metadata-cheap aggregation over
    * `input_file_name`, the rewrite reads/writes only the offending
    * partitions (broadcast semi-join + dynamic overwrite), and nothing
    * is proportional to table size.
    */
  def compact(maxFilesPerPartition: Int = 4, atomic: Boolean = true): Int = {
    recover()
    if (!exists) return 0
    val crowded = scan()
      .select(Candle.partitionCols.map(col) :+ input_file_name().as("_f"): _*)
      .groupBy(Candle.partitionCols.map(col): _*)
      .agg(countDistinct(col("_f")).as("_nf"))
      .where(col("_nf") > maxFilesPerPartition)
      .select(Candle.partitionCols.map(col): _*)
      .localCheckpoint() // small; avoid re-census during the rewrite scan
    val n = crowded.count().toInt
    if (n > 0) {
      val out = scan()
        .join(broadcast(crowded), Candle.partitionCols, "left_semi")
        .repartition(Candle.partitionCols.map(col): _*)
        .sortWithinPartitions("ts")
      if (atomic) installPublished(stageAndPublish(out))
      else withMicrosTimestamps(crowded) {
        out.write
          .partitionBy(Candle.partitionCols: _*)
          .option("partitionOverwriteMode", "dynamic")
          .mode(SaveMode.Overwrite)
          .parquet(path)
      }
    }
    n
  }

  /** Append fast-path (reference: `page/page.go:73-77` — if every new row
    * is strictly newer than the page's max timestamp, append without
    * merging). Caller asserts the batch is all-new (e.g. a tailing
    * streaming source); internal (key, ts) duplicates are still deduped.
    * Skips reading existing data entirely.
    */
  def appendNewer(batch: DataFrame, ordinalCol: Option[String] = None): Unit = {
    // appends never read the table, but completing a torn install first
    // keeps the "all-new rows" contract judged against the COMMITTED
    // state rather than a half-installed one
    recover()
    val contentStruct = struct(col("open"), col("high"), col("low"),
      col("close"), col("volume"), col("bit_fields"))
    val ord = ordinalCol.map(c => col(c).cast("long")).getOrElse(lit(0L))
    withMicrosTimestamps(batch) {
      batch
        .withColumn("ts", date_trunc("second", col("ts")).cast("timestamp"))
        .withColumn("year", year(col("ts")))
        .withColumn("_cstruct", contentStruct)
        .withColumn("_ord", ord)
        .groupBy((Candle.keyCols ++ Seq("ts", "year")).map(col): _*)
        .agg(max_by(col("_cstruct"), struct(col("_ord"), col("_cstruct"))).as("_w"))
        .select("market", Candle.keyCols.tail ++ Seq("ts", "year", "_w.*"): _*)
        .hint("rebalance", Candle.partitionCols: _*)
        .sortWithinPartitions((Candle.partitionCols :+ "ts").map(col): _*)
        .write
        .partitionBy(Candle.partitionCols: _*)
        .mode(SaveMode.Append)
        .parquet(path)
    }
  }
}

object CandleStore {
  def apply(spark: SparkSession, path: String): CandleStore =
    new CandleStore(spark, path)

  /** The scan schema of this layout: data columns as written
    * (ts..bit_fields), then the partition columns in
    * [[graft.model.Candle.partitionCols]] directory order. The pin SETS
    * the partition types (`code` and `market` are strings whatever
    * their values look like), so it differs from inference on a store
    * whose codes are all digits. Pinned so [[CandleStore.scanNoRecover]]
    * skips per-scan footer inference.
    */
  private[store] val pinnedScanSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val partTypes = Map[String, DataType]("market" -> StringType,
      "candle_length" -> IntegerType, "code" -> StringType,
      "year" -> IntegerType)
    // nullable = true throughout, matching what inference returns —
    // callers comparing scan().schema must see the identical shape
    StructType(
      graft.model.Candle.schema.fields.toSeq
        .filterNot(f => graft.model.Candle.partitionCols.contains(f.name))
        .map(_.copy(nullable = true)) ++
        graft.model.Candle.partitionCols.map(n =>
          StructField(n, partTypes(n))))
  }

  /** One-time (per store path per JVM) footer-vs-pin assertion: a
    * future layout revision that adds a column would otherwise be
    * silently PROJECTED AWAY by the pinned read instead of failing
    * loudly. Compares the data fields by name and type and the
    * partition column names in directory order; partition TYPES are
    * not compared, because the pin sets them (inference types
    * `code=005930` as an integer, the pinned read keeps it a string).
    * Costs one inference on the FIRST scan of each store;
    * every later scan stays inference-free (the point of the pin).
    * Transient inference failures (a store mid-commit) un-mark the
    * path so the next scan re-checks instead of never checking.
    */
  private val pinCheckedPaths =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Column names in order, with the type of each data column; a
    * partition column's type is left out (None). */
  private def pinShape(s: org.apache.spark.sql.types.StructType)
      : Seq[(String, Option[org.apache.spark.sql.types.DataType])] =
    s.fields.toSeq.map(f =>
      f.name -> Option.unless(graft.model.Candle.partitionCols.contains(f.name))(f.dataType))

  private[store] def assertPinnedSchema(spark: SparkSession, path: String): Unit = {
    if (!pinCheckedPaths.add(path)) return
    val inferred =
      try spark.read.parquet(path).schema
      catch { case _: Throwable => pinCheckedPaths.remove(path); return }
    if (pinShape(inferred) != pinShape(pinnedScanSchema)) {
      pinCheckedPaths.remove(path)
      sys.error(
        s"candle store $path: on-disk schema does not match the pinned " +
          s"scan schema — the layout changed without revising the pin.\n" +
          s"  inferred: $inferred\n  pinned:   $pinnedScanSchema")
    }
  }

  /** [[CandleStore.detail]]'s row — what
    * `CALL <cat>.system.describe_detail` returns.
    */
  final case class StoreDetail(nPartitions: Long, nDataFiles: Long,
                               sizeBytes: Long)

  /** Format marker stamped by [[graft.sources.CandleCatalog]] CREATE
    * TABLE, so an EMPTY store still reads as a table (data-bearing
    * stores are recognized by their partition/metadata layout alone).
    */
  private[graft] val FormatMarker = "_graft_candles_v1"

  /** Catalog table-predicate: a directory is a plain candle store iff
    * it carries the format marker, the commit-intent log, or at least
    * one `market=` Hive partition dir. Disjoint from
    * [[VersionedCandleStore.looksLikeStore]] (that layout has `txlog`
    * — no underscore — or `data-g#########` generations), so the two
    * catalogs never claim each other's directories.
    */
  private[graft] def looksLikeStore(f: org.apache.hadoop.fs.FileSystem,
                                    p: org.apache.hadoop.fs.Path): Boolean =
    f.exists(new org.apache.hadoop.fs.Path(p, FormatMarker)) ||
      f.exists(new org.apache.hadoop.fs.Path(p, "_txlog")) ||
      (f.exists(p) && f.listStatus(p).exists(
        _.getPath.getName.startsWith("market=")))

  /** Stamp `path` as a valid empty store (see [[FormatMarker]]). */
  private[graft] def initEmpty(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, FormatMarker)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(p.getParent)
    val out = f.create(p, true)
    out.close()
  }

  /** See the doc on the class-side alias: store writes are pinned to
    * TIMESTAMP_MICROS on the session executing the write (the batch
    * frame's own session — a per-batch clone under foreachBatch).
    *
    * REENTRANT + THREAD-SAFE per session: two store writes on the same
    * session may now overlap (a cross-store tx prepares its two stores
    * concurrently), and the naive set/restore interleaving could
    * restore the OTHER writer's "previous" value — observed as a
    * session-wide leak of TIMESTAMP_MICROS that silently turned every
    * later plain parquet write tz-annotated. The outermost enter per
    * session records the prior value and sets MICROS; only the
    * matching outermost exit restores it.
    */
  private val microsScopes =
    scala.collection.mutable.Map[SparkSession, (Int, Option[String])]()
  private[store] def withMicrosTimestamps[T](df: DataFrame)(f: => T): T = {
    val session = df.sparkSession
    val conf = session.conf
    val key = "spark.sql.parquet.outputTimestampType"
    microsScopes.synchronized {
      val (depth, prev) = microsScopes.getOrElse(session, (0, None))
      if (depth == 0) {
        val p = conf.getOption(key)
        conf.set(key, "TIMESTAMP_MICROS")
        microsScopes(session) = (1, p)
      } else microsScopes(session) = (depth + 1, prev)
    }
    try f
    finally microsScopes.synchronized {
      val (depth, prev) = microsScopes(session)
      if (depth == 1) {
        microsScopes.remove(session)
        prev match {
          case Some(v) => conf.set(key, v)
          case None => conf.unset(key)
        }
      } else microsScopes(session) = (depth - 1, prev)
    }
  }
}

/** File-level install plan of one atomic batch commit — the analog of one
  * reference WAL transaction record (`database/transaction.go:28-59`):
  * `deletes` are the live data files of every touched partition, `moves`
  * install the staged replacements. All paths are store-root-relative,
  * so the intent stays valid if the table directory moves.
  */
private[graft] final case class CommitIntent(
    txid: String, deletes: Seq[String], moves: Seq[(String, String)]) {
  def opCount: Int = deletes.length + moves.length
}

private[graft] object CommitIntent {
  private val Header = "graft-intent-v1"

  /** Line-oriented, tab-separated: partition values are path-escaped on
    * disk (Spark's writer escapes tab/newline), so fields can't collide
    * with the separators.
    */
  def encode(i: CommitIntent): String = {
    val sb = new StringBuilder
    sb.append(Header).append('\n').append(i.txid).append('\n')
    i.deletes.foreach(d => sb.append("D\t").append(d).append('\n'))
    i.moves.foreach { case (s, d) =>
      sb.append("M\t").append(s).append('\t').append(d).append('\n')
    }
    sb.toString
  }

  def decode(text: String): CommitIntent = {
    val lines = text.split('\n').filter(_.nonEmpty)
    require(lines.length >= 2 && lines(0) == Header,
      s"unrecognized commit-intent format: '${lines.headOption.getOrElse("")}'")
    val ops = lines.drop(2).map(_.split('\t'))
    ops.find { p =>
      p(0) match {
        case "D" => p.length != 2
        case "M" => p.length != 3 // a truncated move line is corruption too
        case _ => true
      }
    }.foreach { bad =>
      sys.error(s"corrupt commit-intent line: '${bad.mkString("\t")}'")
    }
    CommitIntent(
      lines(1),
      ops.filter(_(0) == "D").map(_(1)).toSeq,
      ops.filter(_(0) == "M").map(p => (p(1), p(2))).toSeq)
  }
}
