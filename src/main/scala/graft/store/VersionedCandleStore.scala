package graft.store

import java.sql.Timestamp

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Candle

/** Append-only, versioned candle store: every commit stamps its rows
  * with a monotonically increasing `tx_id`, and reads reconstruct the
  * table AS OF any transaction or wall-clock instant — the Spark-native
  * materialization of the reference's `LastTxId` versioning
  * (`page/header.go:13-23`: every page records the last transaction
  * applied to it) and its persistent tx counter (`wal/counter.go:13-94`),
  * which [[CandleStore]]'s overwrite-in-place upsert deliberately
  * flattens away.
  *
  * Concurrency (reference: persistent counter + lock manager,
  * `wal/counter.go:59-69`, `database/concurrency/db.go:68-156`):
  *  - tx ids are allocated via ATOMIC create of a reserve file under
  *    `_txn/` (`FileSystem.create(overwrite = false)` — atomic on the
  *    HDFS namenode and on local file systems; object stores would use
  *    a conditional put). Two concurrent committers always mint
  *    DISTINCT ids. Streaming replay guards reserve a BATCH-keyed file
  *    the same way, so two concurrent retries of one micro-batch can
  *    never mint two transactions.
  *  - each commit writes its data to a private `_stage/tx-N` directory
  *    (no shared-output-committer contention), then moves the files
  *    into the live generation with metadata renames, VERIFIES its
  *    files are present in the latest generation (re-carrying them if
  *    compactions superseded it), and only then publishes a single
  *    journal file `txlog/tx-N-commit.parquet` (again a rename — no two
  *    commits ever write the same file). A commit whose files cannot be
  *    located in the latest generation FAILS instead of journaling —
  *    an unjournaled move is invisible (torn-commit semantics) and
  *    reclaimed by [[vacuum]], never silent data loss.
  *  - readers gate on the journal's COMMITTED SET (pure scan predicates
  *    over `tx_id`, not a `<= max` filter), so a torn commit — data
  *    moved, journal row missing — is invisible even when a later tx
  *    has already journaled. Redo-on-retry converges (mirrors the
  *    reference's committed-only replay, `wal/flusher.go:110-128`).
  *  - [[compact]] excludes concurrent compacts via an atomic
  *    `_compact.lock` (the reference takes the DB-exclusive flush
  *    lock); commits may run concurrently with it — a commit landing
  *    in a superseded generation is carried forward by metadata
  *    renames (compact's post-publish sweep walks ALL retained older
  *    generations, and the writer's post-move verification re-carries
  *    and re-counts its own files before journaling).
  *
  * Layout: `path/data-gNNNNNNNNN/` generations of the same
  * Hive-partitioned Parquet layout as [[CandleStore]] plus a `tx_id`
  * data column (row-group stats prune as-of filters). A generation is
  * live once its `_GRAFT_COMMITTED` marker exists; readers resolve the
  * highest committed generation, so the compaction swap is one atomic
  * marker create — never a delete→rename visibility gap. A
  * `_graft_format_v1` marker names the layout version: opening a path
  * that holds data in an unrecognized layout fails loudly instead of
  * reading as an empty store.
  *
  * Journal: `path/txlog` holds one file per commit — the
  * persistent-counter analog: `latestTxId` reads the journal, never the
  * data. To keep the journal listing O(checkpoint interval) rather than
  * O(total commits) — the reference rotates its WAL every 256 commits
  * for the same reason (`wal/persist.go:14,74-79`), and a streaming
  * table committing a micro-batch a minute would otherwise accrete ~525k
  * files/year — the journal is periodically ROLLED UP into a single
  * `checkpoint-N.parquet` (Delta's `_last_checkpoint` shape): reads
  * resolve the latest checkpoint plus the per-commit tail files, and
  * each new checkpoint deletes exactly the tail files already absorbed
  * by the PREVIOUS one (one-checkpoint lag, so in-flight readers that
  * resolved the previous checkpoint keep every tail they listed).
  * Checkpoints are written under `_compact.lock` — opportunistically
  * after every `checkpointEvery` commits, and inside [[compact]] /
  * [[vacuum]].
  *
  * Scale posture (100 TB): commits are pure appends of the deduped
  * batch (no read-modify-write of existing partitions at all — cheaper
  * than [[CandleStore.upsert]]); the cost moves to reads, which fold
  * history with one hash aggregation over the partitions they scan.
  * [[compact]] bounds that fold: it squashes history up to the latest
  * tx back to one version per key. The classic LSM trade, chosen per
  * table by how history-hungry its readers are. Read-side driver work
  * is journal-sized everywhere: the committed gate derives excluded ids
  * from gaps between adjacent journal entries, never by iterating
  * `1..maxTxId`.
  */
final class VersionedCandleStore(spark: SparkSession, val path: String,
                                 val checkpointEvery: Int = 100) {

  // reserve files, journal publish, and generation markers all lean on
  // the CommitPrimitives seam (create-exclusive + atomic rename by
  // default, conditional puts on declared object-store schemes);
  // refuse filesystems that provide neither
  AtomicFs.requireAtomicCommits(spark, path, "VersionedCandleStore")
  private val commitPrims: CommitPrimitives =
    CommitPrimitives.resolve(spark, path)

  private val txLogPath = s"$path/txlog"
  private val txnPath = s"$path/_txn"
  private val stagePath = s"$path/_stage"
  private val CommitMarker = "_GRAFT_COMMITTED"
  private val FormatMarker = "_graft_format_v1"
  private val TombstoneMarker = "_graft_tombstones"

  /** Whether this store has EVER committed tombstone rows ([[delete]] /
    * a `_deleted`-carrying batch). Stamped BEFORE the first such commit
    * stages data, so a reader that misses the marker can never see a
    * tombstone row. Monotone: once observed true it is cached (the
    * marker is never removed — a store that used deletes keeps its
    * fold-aware reads even after [[compact]] squashes the tombstones
    * away; a never-deleting store pays nothing, not even a changed
    * plan). One `exists` probe per scan construction otherwise — noise
    * next to the journal listing every scan already does.
    */
  private[graft] def hasTombstones: Boolean = {
    if (tombstonesSeen) true
    else {
      val h = fs.exists(hp(s"$path/$TombstoneMarker"))
      if (h) tombstonesSeen = true
      h
    }
  }
  @volatile private var tombstonesSeen = false

  private def stampTombstones(f: FileSystem): Unit = {
    tryCreate(f, hp(s"$path/$TombstoneMarker"))
    tombstonesSeen = true
  }

  private def hp(s: String): Path = new Path(s)
  private def fs: FileSystem =
    hp(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Stamp `path` as an (empty) store — the catalog's CREATE TABLE
    * seam: mkdirs + format marker, nothing else (journal and first
    * generation appear on first commit, exactly as they do for a
    * store born from a write). Idempotent; [[verifyLayout]] still
    * refuses to stamp over an unrecognized foreign layout.
    */
  private[graft] def initEmpty(): Unit = {
    val f = fs
    verifyLayout(f)
    tryCreate(f, hp(s"$path/$FormatMarker"))
    ()
  }

  /** Atomic create-if-absent: the one primitive the whole tx protocol
    * leans on (the reference's counter file lock, `wal/counter.go:59-69`).
    * Returns false ONLY for already-exists; genuine IO failures
    * (disk-full, permissions) rethrow — swallowing them would spin
    * [[reserveTxId]] forever and misreport maintenance-lock contention.
    *
    * On `file:` filesystems this MUST go through
    * `java.io.File.createNewFile` (POSIX O_CREAT|O_EXCL — atomic):
    * Hadoop's RawLocalFileSystem `create(overwrite = false)` is a
    * non-atomic exists-check-then-open, and two racing committers can
    * both win it — the concurrency soak caught exactly that (duplicate
    * tx ids sharing one staging dir). HDFS `create` is atomic on the
    * namenode; object stores would use a conditional put.
    */
  private def tryCreate(f: FileSystem, p: Path): Boolean =
    VersionedCandleStore.tryCreate(f, p)

  // ------------------------------------------------------------------ //
  // Layout versioning                                                  //
  // ------------------------------------------------------------------ //

  @volatile private var layoutVerified = false

  /** Fail loudly when `path` holds data in a layout this code does not
    * recognize (e.g. a store written by an earlier format with
    * `path/data` + `_txlog`) — silently reading such a store as EMPTY
    * would be data loss from the caller's point of view. A brand-new /
    * empty path is fine; the format marker is stamped on first commit.
    * Pre-marker stores written by THIS layout (generation dirs /
    * `txlog`) stay readable — the marker is added the next time they
    * are written.
    */
  private def verifyLayout(f: FileSystem): Unit = {
    if (layoutVerified) return
    if (!f.exists(hp(path))) { layoutVerified = true; return }
    val names = f.listStatus(hp(path)).map(_.getPath.getName)
    val recognized = names.isEmpty || names.exists {
      case FormatMarker | TombstoneMarker | "txlog" | "_txn" | "_stage" |
           "_compact.lock" => true
      case GenName(_) => true
      case _ => false
    }
    if (!recognized)
      throw new IllegalStateException(
        s"$path contains data in an unrecognized layout " +
          s"(entries: ${names.take(8).mkString(", ")}); expected a graft " +
          s"versioned store (format marker $FormatMarker)")
    layoutVerified = true
  }

  // ------------------------------------------------------------------ //
  // Journal                                                            //
  // ------------------------------------------------------------------ //

  /** Journal row schema. Two commit row kinds exist on disk:
    *  - `kind = "commit"`: one commit; `tx_id`, `n_rows`, `committed_at`,
    *    `batch_id` as written ([[writeJournalRow]]); `min_at` null.
    *  - `kind = "commits"`: a SUMMARIZED RUN of contiguous committed tx
    *    ids `[tx_id − n_rows + 1, tx_id]`, produced by the checkpoint
    *    rollup for commits at or below the compaction squash floor
    *    (their per-commit detail is unreachable anyway: as-of reads
    *    below the floor fail loudly). `committed_at`/`min_at` carry the
    *    run's max/min commit time, `batch_id` its max batch id. This
    *    keeps [[journalRows]] O(summary runs + commits since the
    *    floor), never O(total commits) — the WAL-index analog of the
    *    data squash itself.
    * `min_at` is absent from per-commit tail files (written before this
    * column existed and still written 5-wide) and reads as null.
    */
  private def txLogSchema = VersionedCandleStore.txLogSchema

  private val TailName = "tx-(\\d{20})-(commit|compact)\\.parquet".r
  private val CheckpointName = "checkpoint-(\\d{20})\\.parquet".r

  /** One listing of the journal directory: (latest checkpoint, tail
    * files, ALL checkpoints ascending). Tails are the per-commit files
    * not yet absorbed-and-deleted; after each rollup at most
    * ~`checkpointEvery` plus the still-retained previous interval
    * remain, so the listing is O(interval), never O(total commits).
    */
  private def listJournal(f: FileSystem)
      : (Option[(Long, Path)], Seq[Path], Seq[(Long, Path)]) = {
    if (!f.exists(hp(txLogPath))) return (None, Seq.empty, Seq.empty)
    val entries = f.listStatus(hp(txLogPath)).map(_.getPath)
    val checkpoints = entries.flatMap { p =>
      p.getName match {
        case CheckpointName(n) => Some((n.toLong, p))
        case _ => None
      }
    }.sortBy(_._1).toSeq
    val tails = entries.filter(p => TailName.pattern.matcher(p.getName).matches()).toSeq
    (checkpoints.lastOption, tails, checkpoints)
  }

  /** Journal rows, collected driver-side (the journal is metadata-scale
    * by construction), deduplicated on (tx_id, kind) — a tail stays on
    * disk one checkpoint of lag after being absorbed, and journal files
    * for one (tx, kind) are written exactly once, so duplicates are
    * byte-identical. Lock-free readers can race a concurrent rollup's
    * tail deletion (the deleted tail's rows are already in the
    * checkpoint that rollup published), so a missing-file failure
    * RE-LISTS and re-reads instead of surfacing — the retry always sees
    * a complete journal.
    */
  private def journalRows(): Array[Row] = {
    val f = fs
    verifyLayout(f)
    var attempt = 0
    while (true) {
      val (cp, tails, _) = listJournal(f)
      val paths = cp.map(_._2).toSeq ++ tails
      if (paths.isEmpty) return Array.empty
      try {
        val rows = spark.read.schema(txLogSchema)
          .parquet(paths.map(_.toString): _*).collect()
        val seen = scala.collection.mutable.HashSet[(Long, String)]()
        val deduped = rows.filter(r => seen.add((r.getLong(0), r.getString(3))))
        // a per-commit tail stays on disk one rollup behind the
        // checkpoint that SUMMARIZED it into a run — the run row is
        // authoritative, so covered commit rows drop here (without
        // this, the same id would report as both a run member and a
        // commit row for one retention cycle)
        val runCovers = deduped.filter(_.getString(3) == "commits")
          .map(r => (r.getLong(0) - r.getLong(1) + 1, r.getLong(0)))
        return if (runCovers.isEmpty) deduped
        else deduped.filterNot(r => r.getString(3) == "commit" &&
          runCovers.exists { case (s, e) =>
            r.getLong(0) >= s && r.getLong(0) <= e })
      } catch {
        case e: Throwable if attempt < 3 && missingFile(e) => attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def missingFile(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8).exists { t =>
      t.isInstanceOf[java.io.FileNotFoundException] ||
        (t.getMessage != null &&
          (t.getMessage.contains("does not exist") ||
            t.getMessage.contains("PATH_NOT_FOUND") ||
            t.getMessage.contains("FileNotFoundException")))
    }

  /** The commit journal: one row per commit (`kind = 'commit'`) or
    * compaction (`kind = 'compact'`) — the reference's persistent
    * counter + WAL index analog. `batch_id` carries the streaming
    * micro-batch id when the commit came from a stream (exactly-once
    * replay guard); null for batch commits. Physically: the latest
    * checkpoint rollup plus the per-commit tail files (see
    * [[journalRows]]).
    */
  def txLog(): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(journalRows(): _*), txLogSchema)

  /** Highest committed tx id (0 when empty) — journal-only read
    * (summarized run rows end on a committed id, so they count).
    */
  def latestTxId: Long = {
    val r = txLog().where(col("kind").isin("commit", "commits"))
      .agg(max("tx_id")).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Highest tx id squashed away by [[compact]] (0 if never compacted):
    * as-of reads below this point would see partial history and FAIL
    * LOUDLY instead.
    */
  def squashFloorTxId: Long = {
    val r = txLog().where(col("kind") === "compact").agg(max("tx_id")).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Publish one journal row as its own `txlog` file: written to a
    * private stage dir by an isolated Spark job, then RENAMED in — two
    * concurrent committers never touch the same output directory, so
    * there is no shared FileOutputCommitter `_temporary` to race on.
    * (`private[graft]` so scale specs can drive journal growth without
    * paying a full data commit per row.)
    */
  private[graft] def writeJournalRow(tx: Long, nRows: Long, at: Timestamp,
                                     kind: String, batchId: Option[Long]): Unit = {
    // ONE metadata row — written with a driver-side ParquetWriter
    // instead of a full Spark job (stage + task + FileOutputCommitter
    // rename chain for 5 scalar values). The guide's driver rule cuts
    // both ways: the driver should do no DATA work, and the cluster
    // should do no METADATA work — a journal row is the latter. The
    // file is byte-compatible with the old job's output for every
    // reader ([[journalRows]] reads it under the same pinned schema;
    // INT64 TIMESTAMP(MICROS, UTC) is exactly Spark 4's own parquet
    // timestamp encoding). Same publish protocol as before: private
    // stage file, atomic move into `txlog/`.
    val stage = s"$stagePath/txlog-$kind-$tx"
    val f = fs
    f.mkdirs(hp(stage))
    val part = new Path(s"$stage/part-0.parquet")
    VersionedCandleStore.writeJournalRowFile(
      f.getConf, part, tx, nRows, Option(at), kind, batchId)
    f.mkdirs(hp(txLogPath))
    val dst = new Path(txLogPath, f"tx-$tx%020d-$kind.parquet")
    // a false move means neither side holds the row — an unjournaled
    // "successful" commit would be invisible forever and vacuum()ed
    // away, so a failed publish must fail the commit.
    if (!commitPrims.moveFile(f, part, dst))
      throw new java.io.IOException(s"journal publish failed: $part -> $dst")
    f.delete(hp(stage), true)
    ()
  }

  // ------------------------------------------------------------------ //
  // Journal checkpointing (WAL rotation analog)                        //
  // ------------------------------------------------------------------ //

  /** Roll the journal up into one `checkpoint-N.parquet` (N = highest
    * absorbed tx id), regardless of how few tails have accrued. Returns
    * the checkpoint's tx id (0 when there is nothing to roll up).
    * Normally this runs by itself — opportunistically after every
    * [[checkpointEvery]] commits and inside [[compact]]/[[vacuum]] —
    * the reference's WAL rotation (`wal/persist.go:14,74-79`) as a
    * maintenance op.
    */
  def checkpointJournal(): Long = {
    val f = fs
    verifyLayout(f)
    val lock = hp(s"$path/_compact.lock")
    if (!tryCreate(f, lock))
      throw new IllegalStateException(s"another maintenance op holds $lock")
    try checkpointLocked(f, force = true)
    finally { f.delete(lock, false); () }
  }

  /** Checkpoint body — caller MUST hold `_compact.lock` (excludes
    * concurrent checkpoints AND concurrent `compact` journal rows, so
    * no tail with tx ≤ the new checkpoint can appear mid-rollup; commit
    * tails always carry a tx above every journaled id at reservation
    * time, hence above the rollup's N).
    *
    * Tail deletion runs one checkpoint BEHIND: publishing checkpoint C
    * deletes exactly the tails whose (tx, kind) row is in the PREVIOUS
    * checkpoint — an in-flight reader that resolved the previous
    * checkpoint still finds every tail it listed. (Same 2-version
    * retention as data generations.)
    */
  /** Tails not yet absorbed by checkpoint `cpN` (by filename tx — the
    * threshold heuristic; absorption for DELETION is decided by exact
    * row membership, never by this). Counting all tails instead would
    * re-trigger a full rollup one commit after each checkpoint (the
    * absorbed interval is retained on disk for one more cycle) and
    * collapse the one-interval retention lag to a single commit.
    */
  private def tailsAbove(tails: Seq[Path], cpN: Long): Int =
    tails.count(p => p.getName match {
      case TailName(id, _) => id.toLong > cpN
      case _ => true
    })

  private def checkpointLocked(f: FileSystem, force: Boolean): Long = {
    val (cp, tails, allCps) = listJournal(f)
    val fresh = tailsAbove(tails, cp.map(_._1).getOrElse(0L))
    if (tails.isEmpty || (!force && fresh < checkpointEvery))
      return cp.map(_._1).getOrElse(0L)
    // journal is metadata-scale (one row per commit interval retained):
    // collect both sides driver-side, dedup, rebuild
    val cpRows: Array[Row] = cp match {
      case Some((_, p)) =>
        spark.read.schema(txLogSchema).parquet(p.toString).collect()
      case None => Array.empty
    }
    val tailRows: Array[Row] = spark.read.schema(txLogSchema)
      .parquet(tails.map(_.toString): _*).collect()
    val cpKeys = cpRows.map(r => (r.getLong(0), r.getString(3))).toSet
    val merged = cpRows ++ tailRows.filterNot(r =>
      cpKeys((r.getLong(0), r.getString(3))))
    val maxTx = merged.iterator.map(_.getLong(0)).max
    if (cp.exists(_._1 >= maxTx)) return cp.get._1 // nothing newer to absorb
    val summarized = summarizeRows(merged)
    val stage = s"$stagePath/txlog-checkpoint-$maxTx"
    spark.createDataFrame(java.util.Arrays.asList(summarized: _*), txLogSchema)
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(stage)
    val part = f.listStatus(hp(stage)).map(_.getPath)
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no checkpoint part file in $stage"))
    val dst = new Path(txLogPath, f"checkpoint-$maxTx%020d.parquet")
    if (!commitPrims.moveFile(f, part, dst))
      throw new java.io.IOException(s"checkpoint publish failed: $part -> $dst")
    f.delete(hp(stage), true)
    // delete tails already absorbed by the PREVIOUS checkpoint (exact
    // row membership, not a filename-range guess — an out-of-order or
    // compact tail whose tx sits below the previous N but whose row is
    // NOT in it must survive until it is). A commit tail may have been
    // absorbed INTO a summarized run rather than as its own row, so
    // run coverage counts as membership too.
    val cpRunCovers: Long => Boolean = {
      val runs = cpRows.filter(_.getString(3) == "commits")
        .map(r => (r.getLong(0) - r.getLong(1) + 1, r.getLong(0)))
      id => runs.exists { case (s, e) => id >= s && id <= e }
    }
    tails.foreach { p =>
      p.getName match {
        case TailName(id, kind) if cpKeys((id.toLong, kind)) ||
            (kind == "commit" && cpRunCovers(id.toLong)) =>
          f.delete(p, false); ()
        case _ => ()
      }
    }
    // keep the new and previous checkpoints; drop older ones
    allCps.filter(_._1 < cp.map(_._1).getOrElse(0L))
      .foreach { case (_, p) => f.delete(p, false) }
    // GC reservation files the rollup made permanent: tx reserves at or
    // below the checkpoint can never be re-minted (allocation starts
    // past the journal max), and batch guards whose batch is journaled
    // are answered by the journal row before the guard is consulted.
    // Without this, streaming ingest that never compacts accretes one
    // _txn file per commit forever — the same metadata wall the journal
    // rollup exists to remove.
    if (f.exists(hp(txnPath))) {
      val journaledBatches = merged.iterator
        .filterNot(_.isNullAt(4)).map(_.getLong(4)).toSet
      // batches folded into summarized runs are covered by the run's
      // max batch id (batch ids are monotone per stream)
      val maxRunBatch = merged.iterator
        .filter(r => r.getString(3) == "commits" && !r.isNullAt(4))
        .map(_.getLong(4)).foldLeft(-1L)(math.max)
      f.listStatus(hp(txnPath)).map(_.getPath).foreach { p =>
        p.getName match {
          case ReserveName(id) if id.toLong <= maxTx => f.delete(p, false); ()
          case BatchReserveName(b) if journaledBatches(b.toLong) ||
              b.toLong <= maxRunBatch =>
            f.delete(p, false); ()
          case _ => ()
        }
      }
    }
    maxTx
  }

  /** Fold commit rows at or below the compaction squash floor into
    * `kind = "commits"` RUN rows (see [[txLogSchema]]) — the step that
    * keeps every checkpoint, and therefore every driver-side journal
    * collect, O(summary runs + commits since the floor) instead of
    * O(total commits). Only rows whose per-commit detail is already
    * unreachable are folded: as-of reads below the floor fail loudly,
    * the change feed refuses `sinceTx < floor`, and the committed GATE
    * needs only id membership, which runs preserve exactly (a torn
    * reservation's id sits in the gap between two runs, exactly as it
    * sat between two commit rows). Compact rows are kept as-is (one
    * per compact() call — compaction history is not a growth vector).
    * No floor yet → nothing folds. Idempotent and associative: prior
    * run rows merge with newly-folded commits into maximal contiguous
    * runs, so repeated rollups converge.
    */
  private def summarizeRows(merged: Array[Row]): Array[Row] = {
    val floor = merged.iterator.filter(_.getString(3) == "compact")
      .map(_.getLong(0)).foldLeft(0L)(math.max)
    if (floor == 0L) return merged
    val (foldable, keep) = merged.partition(r =>
      (r.getString(3) == "commit" && r.getLong(0) <= floor) ||
        r.getString(3) == "commits")
    if (foldable.isEmpty) return merged
    def ts(r: Row, i: Int): Timestamp =
      if (r.isNullAt(i)) null else r.getTimestamp(i)
    def maxTs(a: Timestamp, b: Timestamp): Timestamp =
      if (a == null) b else if (b == null) a else if (a.after(b)) a else b
    def minTs(a: Timestamp, b: Timestamp): Timestamp =
      if (a == null) b else if (b == null) a else if (a.before(b)) a else b
    // decode to (start, end, minAt, maxAt, maxBatch) intervals
    val intervals = foldable.map { r =>
      if (r.getString(3) == "commits")
        (r.getLong(0) - r.getLong(1) + 1, r.getLong(0), ts(r, 5), ts(r, 2),
          if (r.isNullAt(4)) -1L else r.getLong(4))
      else
        (r.getLong(0), r.getLong(0), ts(r, 2), ts(r, 2),
          if (r.isNullAt(4)) -1L else r.getLong(4))
    }.sortBy(_._1)
    val runs = scala.collection.mutable.ArrayBuffer[(Long, Long, Timestamp, Timestamp, Long)]()
    intervals.foreach { case (s, e, mn, mx, b) =>
      runs.lastOption match {
        case Some((ps, pe, pmn, pmx, pb)) if s <= pe + 1 =>
          runs(runs.length - 1) =
            (ps, math.max(pe, e), minTs(pmn, mn), maxTs(pmx, mx), math.max(pb, b))
        case _ => runs += ((s, e, mn, mx, b))
      }
    }
    val runRows: Array[Row] = runs.iterator.map { case (s, e, mn, mx, b) =>
      Row(e, e - s + 1, mx, "commits", if (b < 0) null else java.lang.Long.valueOf(b), mn)
    }.toArray
    keep ++ runRows
  }

  /** Opportunistic rollup after a commit: skipped (not blocked) when a
    * maintenance op holds the lock — the next commit past the threshold
    * retries.
    */
  private def maybeCheckpoint(f: FileSystem): Unit = {
    val (cp, tails, _) = listJournal(f)
    if (tailsAbove(tails, cp.map(_._1).getOrElse(0L)) < checkpointEvery) return
    val lock = hp(s"$path/_compact.lock")
    if (!tryCreate(f, lock)) return
    try { checkpointLocked(f, force = false); () }
    finally { f.delete(lock, false); () }
  }

  // ------------------------------------------------------------------ //
  // Tx-id allocation                                                   //
  // ------------------------------------------------------------------ //

  private val ReserveName = "tx-(\\d{20})\\.reserve".r
  private val BatchReserveName = "batch-(\\d{20})\\.reserve".r

  /** Allocate the next tx id atomically: starting past both the journal
    * max and the highest outstanding reservation, race to create
    * `_txn/tx-N.reserve`; the creator owns N, losers probe N+1. Distinct
    * ids for any number of concurrent committers, monotone with commit
    * order up to in-flight reordering (ids are reserved in order; the
    * journal records whichever data lands).
    */
  private[graft] def reserveTxId(): Long = {
    val f = fs
    f.mkdirs(hp(txnPath))
    val reservedMax = f.listStatus(hp(txnPath)).map(_.getPath.getName)
      .collect { case ReserveName(id) => id.toLong }
      .foldLeft(0L)(math.max)
    var tx = math.max(latestTxId, reservedMax) + 1
    while (!tryCreate(f, new Path(txnPath, f"tx-$tx%020d.reserve"))) tx += 1
    tx
  }

  // ------------------------------------------------------------------ //
  // Generations                                                        //
  // ------------------------------------------------------------------ //

  private val GenName = "data-g(\\d{9})".r
  private def genDirName(g: Long): String = f"data-g$g%09d"

  /** Committed generations, ascending. A generation without its marker
    * (compaction in flight / crashed) is invisible.
    */
  private def generations(): Seq[(Long, Path)] = {
    val f = fs
    if (!f.exists(hp(path))) Seq.empty
    else f.listStatus(hp(path)).filter(_.isDirectory).flatMap { st =>
      st.getPath.getName match {
        case GenName(g) if f.exists(new Path(st.getPath, CommitMarker)) =>
          Some((g.toLong, st.getPath))
        case _ => None
      }
    }.sortBy(_._1).toSeq
  }

  private def currentGen(): Option[(Long, Path)] = generations().lastOption

  private def ensureGen(): Path = currentGen() match {
    case Some((_, p)) => p
    case None =>
      val p = hp(s"$path/${genDirName(1L)}")
      val f = fs
      f.mkdirs(p)
      tryCreate(f, new Path(p, CommitMarker)) // idempotent race: both land on gen 1
      // return the LISTED path (scheme-qualified) so generation
      // identity compares canonically across calls
      currentGen().map(_._2).getOrElse(p)
  }

  /** Move every data file under `src` into the mirrored directory under
    * `dst`, prefixing names with the tx id (uniqueness across commits).
    * Pure metadata renames — no data copy on HDFS/local. Returns the
    * dst-RELATIVE paths moved: the commit verifies exactly these under
    * the final generation before journaling — O(files in THIS commit),
    * never a walk of the whole generation (which grows with table age).
    */
  private def moveTree(f: FileSystem, src: Path, dst: Path,
                       prefix: String): Seq[String] = {
    val moved = Seq.newBuilder[String]
    def walk(s: Path, d: Path, rel: String): Unit =
      f.listStatus(s).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          val sub = new Path(d, name)
          f.mkdirs(sub)
          walk(st.getPath, sub, s"$rel$name/")
        } else if (!name.startsWith("_") && !name.startsWith(".")) {
          val to = new Path(d, s"$prefix-$name")
          // a silently dropped data file would journal an incomplete
          // commit as successful — fail the commit instead
          if (!commitPrims.moveFile(f, st.getPath, to))
            throw new java.io.IOException(s"data move failed: ${st.getPath} -> $to")
          moved += s"$rel$prefix-$name"
        }
      }
    walk(src, dst, "")
    moved.result()
  }

  // ------------------------------------------------------------------ //
  // Commit                                                             //
  // ------------------------------------------------------------------ //

  /** Commit one batch as the next transaction; returns its tx id.
    * Within-batch duplicates resolve exactly as [[CandleStore.upsert]]
    * (higher ordinal wins, else content tie-break); cross-batch
    * last-wins happens at read time via tx ordering. Safe under
    * concurrent committers (distinct tx ids, isolated staging, journal
    * gating — see class doc).
    *
    * @param committedAt journal wall-clock for [[scanAsOfTime]];
    *   defaults to now. Pass explicitly for deterministic replays.
    * @param batchId streaming micro-batch id: when a commit with the
    *   same batch id is already journaled, the call is a no-op
    *   returning the prior tx id — the exactly-once replay guard for
    *   `foreachBatch` retries (the reference's WAL replay skips
    *   already-applied tx ids the same way, `wal/flusher.go:110-128`).
    *   The guard is ATOMIC: the committer must win the batch-keyed
    *   reserve file under `_txn/` before minting a tx, so two
    *   concurrent retries of one batch can never both commit; the loser
    *   returns the winner's tx (or fails loudly if the winner is still
    *   in flight / crashed — a crashed guard is age-reclaimed by
    *   [[vacuum]]).
    */
  def commit(batch: DataFrame, ordinalCol: Option[String] = None,
             committedAt: Option[Timestamp] = None,
             batchId: Option[Long] = None): Long = {
    verifyLayout(fs)
    batchId match {
      case None => doCommit(batch, ordinalCol, committedAt, None)
      case Some(b) =>
        journaledBatch(b).getOrElse {
          val f = fs
          f.mkdirs(hp(txnPath))
          val guard = new Path(txnPath, f"batch-$b%020d.reserve")
          if (tryCreate(f, guard))
            try doCommit(batch, ordinalCol, committedAt, batchId)
            catch {
              // release the guard on a live failure so the caller's
              // retry can proceed (a crashed JVM's guard is reclaimed
              // by vacuum's age sweep instead)
              case t: Throwable => f.delete(guard, false); throw t
            }
          else
            // lost the guard race: either the winner already journaled
            // (return its tx) or it is mid-commit/crashed — fail loudly
            // rather than duplicate the batch; vacuum() age-reclaims a
            // crashed winner's guard so a later retry can proceed.
            journaledBatch(b).getOrElse(throw new IllegalStateException(
              s"batch $b: another commit holds the replay guard but has not " +
                "journaled; retry after it completes (or vacuum() if it crashed)"))
        }
    }
  }

  /** Tombstone-delete the given `(market, code, candle_length, ts)`
    * keys as ONE journaled transaction; returns its tx id. The store
    * stays append-only: the tx appends TOMBSTONE rows (zeroed content,
    * `_deleted = true`) and the read-side fold drops any key whose
    * winning version is a tombstone — so [[scan]] no longer shows the
    * key, [[scanAsOf]] BEFORE the delete still does, a later commit of
    * the same key resurrects it, and [[changesSince]] feeds the
    * tombstone with its `_deleted` flag so incremental consumers drop
    * instead of absorbing zeroes. [[compact]] physically reclaims
    * squashed-away tombstones. Deleting an absent key is a no-op row
    * (idempotent); extra columns beyond the key are ignored. The SQL
    * path is `MERGE … WHEN MATCHED THEN DELETE`
    * ([[graft.plans.ResolveGraftMerge]]).
    *
    * Reference note: mora itself has no delete (`database/command/` is
    * insert-only — the candle store's SQL surface keeps refusing) —
    * this is the versioned store's journaled extension, the Delta/
    * Iceberg tombstone convention expressed through the same tx
    * machinery as [[commit]] (exactly-once `batchId` replay included).
    */
  def delete(keys: DataFrame, committedAt: Option[Timestamp] = None,
             batchId: Option[Long] = None): Long =
    commit(tombstoneRows(keys), None, committedAt, batchId)

  /** The canonical tombstone shape for the given `(market, code,
    * candle_length, ts)` keys: key columns normalized, content zeroed,
    * `_deleted = true`. ONE definition — [[delete]] and the key-moving
    * SQL UPDATE lowering both commit this shape. `dedup = false` skips
    * the distinct for callers whose key frame is unique by
    * construction (e.g. the latest fold's rows).
    */
  private[graft] def tombstoneRows(keys: DataFrame,
                                   dedup: Boolean = true): DataFrame = {
    val normalized = keys
      .select(col("market"), col("code"),
        col("candle_length").cast("int").as("candle_length"),
        date_trunc("second", col("ts")).cast("timestamp").as("ts"))
    (if (dedup) normalized.distinct() else normalized)
      .withColumn("year", year(col("ts"))) // commit re-derives; present so
      .withColumn("open", lit(0.0)).withColumn("high", lit(0.0)) // unions
      .withColumn("low", lit(0.0)).withColumn("close", lit(0.0)) // align
      .withColumn("volume", lit(0.0)).withColumn("bit_fields", lit(0L))
      .withColumn("_deleted", lit(true))
  }

  /** The prior tx of an already-journaled streaming batch — the replay
    * guard's "already committed, skip" answer.
    *
    * ONE MONOTONE BATCH-ID STREAM PER STORE (enforced here): batch ids
    * come from a Structured Streaming checkpoint, which replays at most
    * the latest unacked batch — so a legitimately re-arriving id is
    * either still in the journal as a per-commit row (exact match) or
    * is the TIP of a summarized run (the boundary batch folded while
    * its retry was in flight). An id strictly BELOW the summarized
    * batch-id tip can only be a SECOND writer stream (its own
    * checkpoint, ids restarting low); silently answering "skip" would
    * drop its never-committed batches, so it fails loudly instead —
    * point the second stream at its own store (or its own journal).
    */
  private def journaledBatch(b: Long): Option[Long] = {
    // one journal read, filtered driver-side (the rows are already local)
    val rows = journalRows()
    val exact = rows.iterator
      .filter(r => r.getString(3) == "commit" && !r.isNullAt(4) && r.getLong(4) == b)
      .map(_.getLong(0)).nextOption()
    exact.orElse {
      val tip = rows.iterator
        .filter(r => r.getString(3) == "commits" && !r.isNullAt(4))
        .map(r => (r.getLong(4), r.getLong(0)))
        .foldLeft(Option.empty[(Long, Long)]) {
          case (acc, t) => if (acc.forall(_._1 < t._1)) Some(t) else acc
        }
      tip match {
        case Some((maxB, tx)) if b == maxB => Some(tx)
        case Some((maxB, _)) if b < maxB =>
          throw new IllegalStateException(
            s"batch $b is below this store's summarized batch-id tip " +
              s"($maxB) and has no per-commit journal row: a Structured " +
              "Streaming checkpoint never replays that deep, so this is a " +
              "SECOND writer stream sharing the store — one monotone " +
              "batch-id stream per store; give each stream its own store")
        case _ => None
      }
    }
  }

  private def doCommit(batch: DataFrame, ordinalCol: Option[String],
                       committedAt: Option[Timestamp],
                       batchId: Option[Long]): Long = {
    val (tx, written) = prepareDataCommit(batch, ordinalCol)
    finalizeDataCommit(tx, written, committedAt, batchId)
  }

  /** The data half of a commit: reserve a tx id, stage + move + verify
    * the batch under the live generation — everything EXCEPT the
    * journal row. The prepared tx is INVISIBLE (readers admit only
    * journaled ids) and, if never finalized, is exactly a torn commit:
    * reclaimed by [[vacuum]]'s age sweep, never readable. The prepare
    * half of [[CrossStoreTx]]'s two-store atomic commit.
    */
  private[graft] def prepareDataCommit(batch: DataFrame,
                                       ordinalCol: Option[String]): (Long, Long) = {
    val tx = reserveTxId()
    // a batch carrying `_deleted` commits tombstones: stamp the store
    // marker BEFORE any of its data can exist on disk, so no reader
    // ever sees a tombstone row through the flagless fast-path schema
    val hasDel = batch.columns.contains("_deleted")
    if (hasDel) stampTombstones(fs)
    val contentStruct = struct((Seq(col("open"), col("high"), col("low"),
      col("close"), col("volume"), col("bit_fields")) ++
      (if (hasDel) Seq(coalesce(col("_deleted"), lit(false)).as("_deleted"))
       else Nil)): _*)
    val batchOrd = ordinalCol.map(c => col(c).cast("long")).getOrElse(lit(0L))
    // the same partition columns as CandleStore, so the same key refusal
    val deduped = CandleStore.withPathSafeKeys(batch)
      .withColumn("ts", date_trunc("second", col("ts")).cast("timestamp"))
      .withColumn("year", year(col("ts")))
      .withColumn("_ord", batchOrd)
      .withColumn("_c", contentStruct)
      .drop(ordinalCol.toSeq: _*)
      .groupBy((Candle.keyCols ++ Seq("ts", "year")).map(col): _*)
      .agg(max_by(col("_c"), struct(col("_ord"), col("_c"))).as("_w"))
      .select("market", Candle.keyCols.tail ++ Seq("ts", "year", "_w.*"): _*)
      .withColumn("tx_id", lit(tx))
    val stage = s"$stagePath/tx-$tx"
    CandleStore.withMicrosTimestamps(deduped) {
      deduped
        .hint("rebalance", Candle.partitionCols: _*)
        .sortWithinPartitions((Candle.partitionCols :+ "ts").map(col): _*)
        .write
        .partitionBy(Candle.partitionCols: _*)
        .mode(SaveMode.Overwrite)
        .parquet(stage)
    }
    // row count from the staged footers (metadata read), not a second
    // execution of the dedup aggregation. Schema pinned to ONE always-
    // present column: count() reads no column data either way (row
    // counts come from row-group metadata), and the explicit schema
    // skips the per-commit footer-inference job a bare read.parquet
    // would launch (guide §7.3).
    val written = spark.read
      .schema(StructType(Seq(StructField("market", StringType))))
      .parquet(stage).count()
    val f = fs
    tryCreate(f, hp(s"$path/$FormatMarker")) // stamp layout version (idempotent)
    val gen = ensureGen()
    val moved = moveTree(f, hp(stage), gen, f"tx$tx%020d")
    f.delete(hp(stage), true)
    // Compaction-race re-check LOOP: if compactions published newer
    // generations while this commit was moving into an older one, carry
    // our own files along the generation chain until it is stable, then
    // VERIFY every moved file is present under the final generation
    // before journaling. The verification closes the residual race
    // (files landing in a superseded generation after its final sweep
    // and GC'd with it): such a commit re-carries from any retained
    // generation, and if the files are truly gone it FAILS — nothing is
    // journaled, so the half-moved data is invisible (torn-commit
    // semantics) and reclaimed by vacuum(), never silently lost.
    def missingIn(gen: Path): Seq[String] =
      moved.filterNot(rel => f.exists(new Path(gen, rel)))
    var genCur = gen
    var settled = false
    while (!settled) {
      val genNow = ensureGen()
      if (genNow.toUri.getPath != genCur.toUri.getPath) {
        carryFiles(f, genCur, genNow, _ == tx)
        genCur = genNow
      } else if (missingIn(genNow).isEmpty) {
        settled = true
      } else {
        // self-heal: relay from every retained older generation (a
        // compaction sweep may have parked our files one hop back)
        generations().map(_._2)
          .filter(_.toUri.getPath != genNow.toUri.getPath)
          .foreach(p => carryFiles(f, p, genNow, _ == tx))
        val missing = missingIn(genNow)
        if (missing.isEmpty) settled = true
        else if (ensureGen().toUri.getPath == genNow.toUri.getPath)
          throw new java.io.IOException(
            s"commit tx $tx: ${missing.size} of ${moved.size} data files " +
              "never reached the live generation (lost to a concurrent " +
              "compaction GC); commit aborted before journaling — retry it")
        // else: another generation appeared mid-heal; loop and re-carry
      }
    }
    (tx, written)
  }

  /** Record that `coordDir`'s [[CrossStoreTx]] coordinator drives
    * commits into this store, so [[vacuum]] can refuse its sweep while
    * that coordinator still has pending `.commit` markers referencing
    * this store — a vacuum between a cross-store commit point and its
    * roll-forward would reclaim COMMITTED (marker-published) prepared
    * files as torn garbage. Idempotent create-if-absent of a tiny
    * record file under `_txn/`; the set is O(#coordinators), ever.
    */
  private[graft] def recordCrossCoord(coordDir: String): Unit =
    CrossStoreTx.recordCoordIn(fs, hp(txnPath), coordDir)

  /** The visibility half of a commit: the journal entry, written AFTER
    * the data move + verification — a torn commit (data moved, journal
    * not) is invisible to readers, which admit only tx ids present in
    * the journal's committed set. Idempotent: a tx the journal already
    * admits is not re-journaled, so a cross-store roll-forward can
    * re-drive it after a crash at any point.
    *
    * @param verifyData require the tx's id-named data files to still be
    *   present in some retained generation before journaling. A DELAYED
    *   roll-forward (a cross-store [[graft.store.CrossStoreTx.recover]]
    *   long after the crash) can race a mis-ordered `vacuum()` that
    *   already reclaimed the prepared files as torn-commit garbage —
    *   journaling then would admit an EMPTY commit, silent data loss
    *   where the candle half (`missingInstallTargets`) fails loudly.
    *   The check is one metadata glob at the known partition depth, paid
    *   only on the recovery path — the same-process finalize skips it
    *   (prepare's settle loop verified the exact file set moments ago).
    */
  private[graft] def finalizeDataCommit(tx: Long, written: Long,
                                        committedAt: Option[Timestamp],
                                        batchId: Option[Long],
                                        verifyData: Boolean = false): Long = {
    val f = fs
    if (!journalState().admitAll.contains(tx)) {
      if (verifyData && written > 0) {
        val pat = f"tx$tx%020d-*"
        val present = generations().exists { case (_, g) =>
          val hits = f.globStatus(new Path(g,
            s"${Candle.partitionCols.map(_ => "*").mkString("/")}/$pat"))
          hits != null && hits.nonEmpty
        }
        if (!present)
          sys.error(s"roll-forward of tx $tx ($written rows) at $path: its " +
            "prepared data files are gone from every retained generation — " +
            "deleted before roll-forward (a vacuum() run against the " +
            "documented recover-first ordering?); refusing to journal an " +
            "empty commit. The tx stays torn and invisible; re-run it.")
      }
      writeJournalRow(tx, written,
        committedAt.getOrElse(new Timestamp(System.currentTimeMillis())),
        "commit", batchId)
      maybeCheckpoint(f)
    }
    tx
  }

  // ------------------------------------------------------------------ //
  // Reads                                                              //
  // ------------------------------------------------------------------ //

  /** Data-file schema (partition columns included): passed explicitly to
    * every generation read — no schema inference job, and an
    * empty-but-published generation stays readable.
    */
  private val dataSchema = StructType(
    Candle.schema.fields.toSeq :+ StructField("year", IntegerType) :+
      StructField("tx_id", LongType))

  /** [[dataSchema]] plus the nullable `_deleted` tombstone flag — the
    * read schema of a store that has ever deleted ([[hasTombstones]]).
    * Files written by plain commits lack the column and read as NULL
    * (= live); only [[delete]]/tombstone-carrying commits write it.
    */
  private val dataSchemaTomb = StructType(
    dataSchema.fields :+ StructField("_deleted", BooleanType, nullable = true))

  private def readSchema(tomb: Boolean): StructType =
    if (tomb) dataSchemaTomb else dataSchema

  /** Output column order of every scan: key, ts, year, then content. */
  private val scanCols = Seq("market", "code", "candle_length", "ts", "year",
    "open", "high", "low", "close", "volume", "bit_fields")

  private def emptyTable(): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](), tableSchema)

  /** The schema every scan returns — static, no IO (the DataSource
    * relation needs it before any read).
    */
  def tableSchema: StructType =
    StructType(scanCols.map(n => dataSchema.fields.find(_.name == n).get))

  /** One driver-side journal read serving a whole scan — squash floor,
    * summarized runs (commits folded by the checkpoint rollup, all at
    * or below the floor) and per-commit recents. Driver memory is
    * O(runs + commits since the floor), never O(total commits) —
    * exactly like the reference's memory-resident WAL index
    * (`wal/reader.go:29-75`), which likewise holds only the unflushed
    * window.
    */
  private def journalState(): JournalState = {
    val rows = txLog()
      .select("tx_id", "kind", "committed_at", "n_rows", "min_at", "batch_id")
      .collect()
    val floor = rows.iterator.filter(_.getString(1) == "compact")
      .map(_.getLong(0)).foldLeft(0L)(math.max)
    val runs = rows.iterator.filter(_.getString(1) == "commits")
      .map { r =>
        val end = r.getLong(0)
        TxRun(end - r.getLong(3) + 1, end, r.getTimestamp(4), r.getTimestamp(2),
          if (r.isNullAt(5)) None else Some(r.getLong(5)))
      }.toArray.sortBy(_.start)
    val recents = rows.iterator.filter(_.getString(1) == "commit")
      .map(r => (r.getLong(0), r.getTimestamp(2))).toArray.sortBy(_._1)
    JournalState(floor, runs, recents)
  }

  /** One summarized run of contiguous committed tx ids, with the
    * run's commit-time extrema (for as-of-time eligibility) and max
    * batch id (for the streaming replay guard).
    */
  private[store] case class TxRun(start: Long, end: Long,
                                  minAt: Timestamp, maxAt: Timestamp,
                                  maxBatch: Option[Long])

  /** Admitted-set handle compiled from runs + explicit ids: the scan
    * gate, membership tests, and extrema without ever materializing
    * one Long per committed tx.
    */
  private[store] case class TxAdmit(runs: Array[(Long, Long)], ids: Array[Long]) {
    def isEmpty: Boolean = runs.isEmpty && ids.isEmpty
    def maxId: Long =
      math.max(runs.lastOption.map(_._2).getOrElse(0L),
        ids.lastOption.getOrElse(0L))
    def contains(id: Long): Boolean = {
      // runs sorted by start, disjoint; ids sorted
      var lo = 0; var hi = runs.length - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (runs(mid)._2 < id) lo = mid + 1
        else if (runs(mid)._1 > id) hi = mid - 1
        else return true
      }
      java.util.Arrays.binarySearch(ids, id) >= 0
    }
    /** Merged, sorted, disjoint intervals over runs ∪ ids. */
    def mergedIntervals: Seq[(Long, Long)] = {
      val all = (runs.toSeq ++ ids.toSeq.map(i => (i, i))).sortBy(_._1)
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      all.foreach { case (s, e) =>
        out.lastOption match {
          case Some((ps, pe)) if s <= pe + 1 =>
            out(out.length - 1) = (ps, math.max(pe, e))
          case _ => out += ((s, e))
        }
      }
      out.toSeq
    }
  }

  private[store] case class JournalState(floor: Long, runs: Array[TxRun],
                                         recents: Array[(Long, Timestamp)]) {
    def maxCommitted: Long =
      math.max(runs.lastOption.map(_.end).getOrElse(0L),
        recents.lastOption.map(_._1).getOrElse(0L))
    def admit(ids: Array[Long]): TxAdmit =
      TxAdmit(runs.map(r => (r.start, r.end)), ids)
    /** Every committed id (runs + recents) as a gateable set. */
    def admitAll: TxAdmit = admit(recents.map(_._1))
    /** Committed ids ≤ txId (run clipping keeps this O(journal)). */
    def admitUpTo(txId: Long): TxAdmit =
      TxAdmit(
        runs.iterator.filter(_.start <= txId)
          .map(r => (r.start, math.min(r.end, txId))).toArray,
        recents.map(_._1).filter(_ <= txId))
  }

  /** The committed-set gate compiled to PURE SCAN PREDICATES, with
    * driver work bounded by the JOURNAL (summary runs + retained
    * commit rows), never by the highest tx id or the total commit
    * count: the admitted set compiles to an OR-of-ranges over its
    * merged intervals — a dense journal is ONE interval
    * (`tx_id <= cap`), a torn commit splits one more off, a counter
    * jump adds one. Range predicates push into the Parquet reader for
    * row-group pruning via column min/max exactly like the previous
    * `<= cap AND NOT IN (gaps)` shape. The or-tree reduces balanced
    * (depth log n) so a pathological gap count cannot stack-overflow
    * Catalyst.
    */
  private def committedGate(adm: TxAdmit): Column = {
    val intervals = adm.mergedIntervals
    if (intervals.isEmpty) return col("tx_id") <= 0L
    def one(iv: (Long, Long)): Column = iv match {
      case (s, e) if s == e => col("tx_id") === s
      case (s, e) if s <= 1L => col("tx_id") <= e
      case (s, e) => col("tx_id") >= s && col("tx_id") <= e
    }
    def orTree(cs: Seq[Column]): Column =
      if (cs.length == 1) cs.head
      else orTree(cs.grouped(2).map(_.reduce(_ || _)).toSeq)
    orTree(intervals.map(one))
  }

  /** Array-of-ids convenience (the streaming source's window gate). */
  private def committedGate(admitted: Array[Long]): Column =
    committedGate(TxAdmit(Array.empty, admitted))

  /** Content (non-key) columns, in scan order — what the fold's winner
    * struct carries and what a pruned read may shrink.
    */
  private[graft] val contentCols =
    Seq("open", "high", "low", "close", "volume", "bit_fields")

  /** Scan of the current generation admitting exactly the `adm` set —
    * see [[committedGate]]. No join stage.
    */
  private def gatedScan(adm: TxAdmit,
                        content: Seq[String] = contentCols): DataFrame =
    currentGen() match {
      case None => emptyTable()
      case Some((_, genDir)) =>
        val tomb = hasTombstones
        foldLatest(spark.read.schema(readSchema(tomb)).parquet(genDir.toString)
          .where(committedGate(adm)), content, tomb)
    }

  /** Last-wins history fold shared by reads and compaction. `content`
    * prunes the winner struct to the columns a consumer actually reads
    * (scan-order subset of [[contentCols]]): the fold then references
    * nothing else, so Catalyst's column pruning shrinks the Parquet
    * ReadSchema BELOW the aggregation — "read 2 of 6 value columns"
    * touches 2 columns of I/O, which is the difference that matters on
    * a 100 TB history. An empty `content` (key-only projection)
    * degenerates to DISTINCT over the gated keys — no winner needed
    * when nobody reads the winner.
    */
  private def foldLatest(df: DataFrame,
                         content: Seq[String] = contentCols,
                         tomb: Boolean = false): DataFrame = {
    val keys = (Candle.keyCols ++ Seq("ts", "year")).map(col)
    if (tomb) {
      // tombstone-aware fold: the winner carries the `_deleted` flag
      // (plain-commit rows read it as NULL = live), and a key whose
      // WINNING version is a tombstone vanishes from the result — a key
      // deleted then re-committed by a later tx is alive again. The
      // key-only projection can no longer shortcut to DISTINCT (a
      // deleted key's raw tuples are still on disk), so it folds too.
      val contentStruct = struct(content.map(col) :+
        coalesce(col("_deleted"), lit(false)).as("_deleted"): _*)
      df.withColumn("_c", contentStruct)
        .groupBy(keys: _*)
        .agg(max_by(col("_c"), col("tx_id")).as("_w"))
        .where(!col("_w._deleted"))
        .select("market",
          Candle.keyCols.tail ++ Seq("ts", "year") ++ content.map("_w." + _): _*)
    } else if (content.isEmpty)
      df.select(keys: _*).distinct()
    else {
      val contentStruct = struct(content.map(col): _*)
      df.withColumn("_c", contentStruct)
        .groupBy(keys: _*)
        .agg(max_by(col("_c"), col("tx_id")).as("_w"))
        .select("market",
          Candle.keyCols.tail ++ Seq("ts", "year") ++ content.map("_w." + _): _*)
    }
  }

  /** The table as of transaction `txId` (inclusive): per (series key,
    * ts), the row from the highest COMMITTED tx ≤ txId wins. One hash
    * aggregation (map-side combine), no sort window; commits dedup
    * within batch, so (key, ts, tx_id) is unique and the fold is
    * deterministic. Committed-set gating makes data from torn or
    * in-flight commits invisible regardless of id ordering (see
    * [[gatedScan]]); one journal read per scan.
    *
    * Fails loudly when `txId` predates the [[compact]] squash floor —
    * that history has been discarded, and an empty result would be a
    * silent lie.
    */
  def scanAsOf(txId: Long): DataFrame = scanAsOf(txId, contentCols)

  /** [[scanAsOf]] with the fold's content pruned to `content` — the
    * DataSource relation's column-pruning entry point.
    */
  private[graft] def scanAsOf(txId: Long, content: Seq[String]): DataFrame = {
    gatedScan(admittedAsOf(txId), content)
  }

  /** Admitted tx-id set for a VERSION AS OF read (shared by the folded
    * scan and the fold-bypassing key scan; keeps the squash-floor
    * contract in one place).
    */
  private def admittedAsOf(txId: Long): TxAdmit = {
    val state = journalState()
    require(txId >= state.floor,
      s"as-of tx $txId predates the compaction squash point (tx ${state.floor}): " +
        "that history has been discarded by compact()")
    state.admitUpTo(txId)
  }

  /** Raw committed KEY tuples (gated, PRE-fold) — the fold-bypassing
    * frame behind the DataSource's aggregate pushdown. The last-wins
    * fold replaces CONTENT, never keys: the folded table's key set is
    * exactly the distinct key tuples of the gated raw rows. Therefore
    * `min`/`max` over a grouping column and `count(DISTINCT keys)`
    * computed HERE equal the same aggregates over [[scanAsOf]]'s
    * result — without building a winner struct or shuffling content,
    * and with the min/max a pure scan-side partial aggregation.
    */
  private[graft] def keyRowsAsOf(txId: Long): DataFrame = {
    val keys = (Candle.keyCols ++ Seq("ts", "year")).map(col)
    currentGen() match {
      case None => emptyTable().select(keys: _*)
      case Some((_, genDir)) =>
        val tomb = hasTombstones
        val raw = spark.read.schema(readSchema(tomb)).parquet(genDir.toString)
          .where(committedGate(admittedAsOf(txId)))
        // tombstones break the fold-never-removes-keys derivation: a
        // deleted key's raw tuples are still on disk but absent from
        // the folded table — so a tombstoned store folds its key set
        // (empty content = keys + the flag only; never-deleting stores
        // keep the raw pre-fold scan and its pushdown-grade plan)
        if (tomb) foldLatest(raw, Seq.empty, tomb = true)
        else raw.select(keys: _*)
    }
  }

  /** The table as of a wall-clock instant: exactly the commits whose
    * journal `committed_at` ≤ `t` (the reference's WAL-ordered history
    * addressed the way users actually ask — "as of yesterday 18:00").
    * Under concurrent committers journal ids and wall-clocks can
    * disagree (tx 2 may journal after tx 3), so the gate admits the
    * time-eligible SET — a later-journaled lower id is excluded even
    * when a higher id is admitted, reproducing what a reader at time
    * `t` could actually have seen. Before the first eligible commit the
    * result is empty; below the squash floor it fails loudly like
    * [[scanAsOf]].
    */
  def scanAsOfTime(t: Timestamp): DataFrame = scanAsOfTime(t, contentCols)

  /** [[scanAsOfTime]] with the fold's content pruned to `content`. */
  private[graft] def scanAsOfTime(t: Timestamp, content: Seq[String]): DataFrame = {
    val state = journalState()
    val floor = state.floor
    // summarized runs carry their commit-time extrema: a run is wholly
    // eligible (maxAt ≤ t), wholly excluded (minAt > t), or PARTIAL —
    // and a partial run means some tx at or below the floor is
    // time-excluded, the exact case the per-commit path refuses below
    val (runsEligible, runsRest) = state.runs.partition(r =>
      r.maxAt != null && !r.maxAt.after(t))
    val (runsExcluded, runsPartial) = runsRest.partition(r =>
      r.minAt != null && r.minAt.after(t))
    val eligibleRecents = state.recents.filter { case (_, at) =>
      at != null && !at.after(t)
    }.map(_._1)
    if (runsEligible.isEmpty && runsPartial.isEmpty && eligibleRecents.isEmpty)
      emptyTable()
    else {
      // compact() squashes [1, floor] into one row per key: any
      // time-EXCLUDED tx at or below the floor means the state at `t`
      // needed pre-squash history that no longer exists — partial
      // results would be a silent lie, so fail loudly (same contract as
      // scanAsOf below the floor).
      val eligibleSet = eligibleRecents.toSet
      val discarded = state.recents.map(_._1)
        .filter(id => id <= floor && !eligibleSet(id))
      require(discarded.isEmpty && runsPartial.isEmpty && runsExcluded.isEmpty,
        s"as-of time $t excludes tx(s) at or below the compaction squash " +
          s"point (tx $floor): that interleaving's history has been " +
          "discarded by compact()" +
          (if (discarded.nonEmpty) s" (${discarded.mkString(",")})" else ""))
      val adm = TxAdmit(runsEligible.map(r => (r.start, r.end)), eligibleRecents)
      require(adm.maxId >= floor,
        s"as-of time $t resolves below the compaction squash point (tx $floor): " +
          "that history has been discarded by compact()")
      gatedScan(adm, content)
    }
  }

  /** Latest committed state. */
  def scan(): DataFrame = scanAsOf(Long.MaxValue)

  /** Latest committed state, fold content pruned to `content`. */
  private[graft] def scan(content: Seq[String]): DataFrame =
    scanAsOf(Long.MaxValue, content)

  /** Change feed (CDC primitive): every row committed by transactions
    * in `(sinceTx, untilTx]`, UNFOLDED — one row per (key, ts, tx), with
    * the `tx_id` column retained so consumers can apply last-wins
    * incrementally. This is how an incremental pipeline tails the store
    * (Delta's CDF shape without tombstones: commits are pure upserts,
    * so the feed is append/update-only by construction).
    *
    * Fails loudly when `sinceTx` predates the [[compact]] squash floor:
    * squashing keeps one winner per key, so per-tx change history below
    * the floor no longer exists. (`sinceTx = floor` is fine — the floor
    * tx itself is preserved exactly.)
    */
  def changesSince(sinceTx: Long, untilTx: Long = Long.MaxValue): DataFrame = {
    val (floor, ids) = journalCommitted()
    changesWindow(sinceTx, untilTx, floor, ids)
  }

  /** (squash floor, committed tx ids ABOVE the floor ascending) — one
    * journal read. Ids at or below the floor may be summarized into
    * runs and are deliberately absent: every caller windows on
    * `sinceTx >= floor` (the changes-since contract), so the window is
    * always a subset of the retained per-commit rows. `private[graft]`
    * so the streaming source can pin ONE snapshot per micro-batch
    * across its bookkeeping and the delivered frame.
    */
  private[graft] def journalCommitted(): (Long, Array[Long]) = {
    val state = journalState()
    (state.floor, state.recents.map(_._1))
  }

  private[graft] def newJournalView(): JournalView = new JournalView

  /** Incremental, driver-memory-bounded journal view for LONG-LIVED
    * tail readers (the streaming source). A full [[journalCommitted]]
    * per poll collects O(total commits) rows driver-side — unbounded
    * per-poll latency for the high-commit-rate tables the checkpoint
    * rollup targets (~525k commits/year). This view instead:
    *
    *  - holds the committed set as (maxSeen, gap intervals): with
    *    sequential tx allocation, gaps are only aborted reservations
    *    and counter jumps, so memory is O(#gap runs), never
    *    O(#commits);
    *  - absorbs per-commit tail files from their NAMES alone
    *    (`tx-N-kind.parquet` — the listing is the read), so a
    *    steady-state poll is one directory listing;
    *  - reads checkpoint parquet only when a NEW rollup appears, and
    *    then only its NOVEL rows: novelty compiles to scan predicates
    *    (commit ids above the watermark or inside a known gap run;
    *    compact ids above the floor), so a rollup costs O(new + gap
    *    runs) driver rows — never O(journal age), even though the
    *    checkpoint file itself is cumulative. A rollup that races the
    *    reader (absorbing tails it already counted) is a no-op.
    *
    * The first poll SEEDS the view and reports nothing new (a
    * violation that predates the reader's incarnation is
    * indistinguishable from history); later polls return the id RANGES
    * newly observed since the previous poll — closed segments, never
    * expanded per id, so a view that fell far behind absorbs a
    * million-commit summarized run as O(1) driver work, not a
    * million boxed appends — which is exactly the out-of-order-
    * committer signal the stream's loud-fail check needs. Not
    * thread-safe: one view per streaming source, driven from the
    * engine's single query thread.
    */
  private[graft] final class JournalView {
    private var seeded = false
    private var maxSeen = 0L
    private var floor = 0L
    private var lastCpAbsorbed = 0L
    // gap runs [lo, hi] (inclusive), keyed by lo; disjoint by
    // construction (runs are only ever created above maxSeen)
    private val gapRuns = new java.util.TreeMap[java.lang.Long, java.lang.Long]()

    /** Highest squash floor observed (compact journal rows). */
    def floorTx: Long = floor

    /** Highest committed tx id observed. */
    def maxCommitted: Long = maxSeen

    private def gapContains(id: Long): Boolean = {
      val e = gapRuns.floorEntry(id)
      e != null && id <= e.getValue
    }

    private def removeGap(id: Long): Unit = {
      val e = gapRuns.floorEntry(id)
      val lo = e.getKey.longValue
      val hi = e.getValue.longValue
      gapRuns.remove(e.getKey)
      if (lo < id) { gapRuns.put(lo, id - 1); () }
      if (id < hi) { gapRuns.put(id + 1, hi); () }
    }

    private def observe(tx: Long,
                        newSegs: scala.collection.mutable.ArrayBuffer[(Long, Long)]): Unit = {
      if (tx > maxSeen) {
        if (tx > maxSeen + 1) { gapRuns.put(maxSeen + 1, tx - 1); () }
        maxSeen = tx
        newSegs += ((tx, tx))
        ()
      } else if (gapContains(tx)) {
        removeGap(tx)
        newSegs += ((tx, tx))
        ()
      } // already observed: tail retained one rollup behind its checkpoint
    }

    /** Absorb a summarized `commits` RUN `[start, end]` — every id in
      * it is committed. Novel coverage is the part above the watermark
      * plus any overlap with known gap runs, reported as closed
      * SEGMENTS (never expanded per id): a view that fell far behind —
      * a big compaction+rollup between polls — absorbs a
      * million-commit run as O(overlapped gap runs) driver work.
      */
    private def observeRun(start: Long, end: Long,
                           newSegs: scala.collection.mutable.ArrayBuffer[(Long, Long)]): Unit = {
      // gap overlaps FIRST (segments at or below the current watermark)
      val overlapping = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      val it = gapRuns.headMap(java.lang.Long.valueOf(end), true)
        .descendingMap().entrySet().iterator()
      var done = false
      while (it.hasNext && !done) {
        val e = it.next()
        if (e.getValue.longValue < start) done = true
        else overlapping += ((e.getKey.longValue, e.getValue.longValue))
      }
      overlapping.foreach { case (lo, hi) =>
        gapRuns.remove(lo)
        val s = math.max(lo, start); val t = math.min(hi, end)
        if (lo < s) { gapRuns.put(lo, s - 1); () }
        if (t < hi) { gapRuns.put(t + 1, hi); () }
        newSegs += ((s, t))
      }
      // then the piece above the watermark
      if (end > maxSeen) {
        val s = math.max(start, maxSeen + 1)
        if (s > maxSeen + 1) { gapRuns.put(maxSeen + 1, s - 1); () }
        newSegs += ((s, end))
        maxSeen = end
      }
    }

    /** Every committed id at or below `txId` as a gateable interval
      * set — the complement of the gap runs in `[1, min(txId,
      * maxSeen)]`. O(#gap runs) driver work and memory, never O(ids):
      * the view has observed ALL journal history (the seeding poll
      * absorbs checkpoints and tails alike), so non-gap = committed is
      * exact. This is the pre-image fold's at-or-below-window gate
      * ([[changesWindowPreTail]]) served without a fresh journal
      * collect.
      */
    private[store] def admitUpTo(txId: Long): TxAdmit = {
      val hi = math.min(txId, maxSeen)
      if (hi <= 0L) return TxAdmit(Array.empty, Array.empty)
      val runs = Array.newBuilder[(Long, Long)]
      var start = 1L
      val it = gapRuns.entrySet().iterator()
      var done = false
      while (it.hasNext && !done) {
        val e = it.next()
        val glo = e.getKey.longValue; val ghi = e.getValue.longValue
        if (glo > hi) done = true
        else {
          if (glo > start) runs += ((start, glo - 1))
          start = math.max(start, ghi + 1)
          if (start > hi) done = true
        }
      }
      if (start <= hi) runs += ((start, hi))
      TxAdmit(runs.result(), Array.empty)
    }

    /** Committed ids in `(from, until]`, ascending — O(window + gap
      * runs), the exact `admitted` array [[changesWindow]]'s gate needs.
      */
    def admittedIn(from: Long, until: Long): Array[Long] = {
      val out = Array.newBuilder[Long]
      val hi = math.min(until, maxSeen)
      var id = math.max(from, 0L) + 1
      while (id <= hi) {
        val e = gapRuns.floorEntry(id)
        if (e != null && id <= e.getValue) id = e.getValue.longValue + 1
        else { out += id; id += 1 }
      }
      out.result()
    }

    /** Absorb journal growth; returns the commit-id RANGES newly
      * observed since the last poll (closed `[lo, hi]` segments,
      * ascending by `lo`; empty on the seeding poll). Retries the
      * checkpoint read when a concurrent rollup swaps files under the
      * listing (same lock-free posture as [[journalRows]]) — a failed
      * read mutates nothing, so retry is safe.
      */
    def poll(): Array[(Long, Long)] = {
      val f = fs
      verifyLayout(f)
      var attempt = 0
      while (true) {
        val (cp, tails, _) = listJournal(f)
        val newIds = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        try {
          cp.foreach { case (n, p) =>
            if (n > lastCpAbsorbed) {
              // Exact novelty predicate, pushed into the parquet read:
              // a commit row can be new to the view only above the
              // watermark or inside a known gap run; a compact row only
              // above the floor. Everything else was observed before —
              // the cumulative file's old rows are pruned in the scan,
              // so the driver receives O(new + gap runs) rows. Gap
              // clauses reduce as a BALANCED or-tree (depth log n, a
              // left-nested chain would stack-overflow Catalyst on
              // pathological gap counts), and past 1000 runs the gap
              // branch degrades to "any id ≤ watermark" — a full read,
              // slower but still exact (observe() dedups).
              def orTree(cs: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column =
                if (cs.isEmpty) lit(false)
                else if (cs.length == 1) cs.head
                else orTree(cs.grouped(2).map(_.reduce(_ || _)).toSeq)
              // check the degradation threshold BEFORE building any
              // Column trees — the pathological case is the one where
              // constructing 100k clauses just to discard them hurts
              val gapPred =
                if (gapRuns.size() > 1000) col("tx_id") <= maxSeen
                else {
                  val b = Seq.newBuilder[org.apache.spark.sql.Column]
                  val it = gapRuns.entrySet().iterator()
                  while (it.hasNext) {
                    val e = it.next()
                    b += (col("tx_id") >= e.getKey.longValue &&
                      col("tx_id") <= e.getValue.longValue)
                  }
                  orTree(b.result())
                }
              // a summarized run [tx_id − n_rows + 1, tx_id] is novel
              // iff it extends past the watermark or overlaps a gap run
              val runGapPred =
                if (gapRuns.size() > 1000) col("tx_id") - col("n_rows") + 1 <= maxSeen
                else {
                  val b = Seq.newBuilder[org.apache.spark.sql.Column]
                  val git = gapRuns.entrySet().iterator()
                  while (git.hasNext) {
                    val e = git.next()
                    b += (col("tx_id") >= e.getKey.longValue &&
                      col("tx_id") - col("n_rows") + 1 <= e.getValue.longValue)
                  }
                  orTree(b.result())
                }
              val novel =
                (col("kind") === "commit" && (col("tx_id") > maxSeen || gapPred)) ||
                  (col("kind") === "commits" && (col("tx_id") > maxSeen || runGapPred)) ||
                  (col("kind") === "compact" && col("tx_id") > floor)
              // collect BEFORE mutating: the only throwing step leaves
              // the view untouched for the retry
              val rows = spark.read.schema(txLogSchema).parquet(p.toString)
                .where(novel).select("tx_id", "kind", "n_rows").collect()
              rows.foreach { r =>
                r.getString(1) match {
                  case "compact" =>
                    if (r.getLong(0) > floor) floor = r.getLong(0)
                  case "commits" =>
                    observeRun(r.getLong(0) - r.getLong(2) + 1, r.getLong(0),
                      newIds)
                  case _ => observe(r.getLong(0), newIds)
                }
              }
              lastCpAbsorbed = n
            }
          }
          tails.foreach { p =>
            p.getName match {
              case TailName(id, kind) =>
                val tx = id.toLong
                if (kind == "compact") { if (tx > floor) floor = tx }
                else observe(tx, newIds)
              case _ => ()
            }
          }
          val fresh = newIds.sortBy(_._1).toArray
          return if (seeded) fresh
            else { seeded = true; Array.empty[(Long, Long)] }
        } catch {
          case e: Throwable if attempt < 3 && missingFile(e) => attempt += 1
        }
      }
      throw new IllegalStateException("unreachable")
    }
  }

  /** [[changesSince]] against a caller-pinned journal snapshot. */
  private[graft] def changesWindow(sinceTx: Long, untilTx: Long,
                                   floor: Long, committedIds: Array[Long]): DataFrame = {
    require(sinceTx >= floor,
      s"changes since tx $sinceTx predate the compaction squash point " +
        s"(tx $floor): per-tx history below it has been discarded by compact()")
    val admitted = committedIds.filter(id => id > sinceTx && id <= untilTx)
    val tomb = hasTombstones
    currentGen() match {
      case Some((_, genDir)) if admitted.nonEmpty =>
        // the range conjunct keeps the gate exact even though
        // committedGate's gap list starts at tx 1; for an old `sinceTx`
        // the gap math flips to the journal-sized IN(admitted) branch,
        // so driver work stays O(window), never O(sinceTx)
        val base = spark.read.schema(readSchema(tomb)).parquet(genDir.toString)
          .where(committedGate(admitted) && col("tx_id") > sinceTx)
        // a tombstoned store's feed carries the flag: an incremental
        // consumer applying last-wins must DROP a key on a tombstone
        // row, not absorb its zeroed content as an update. Never-
        // deleting stores keep the original flagless shape.
        if (tomb)
          base.select((scanCols :+ "tx_id").map(col) :+
            coalesce(col("_deleted"), lit(false)).as("_deleted"): _*)
        else base.select((scanCols :+ "tx_id").map(col): _*)
      case _ =>
        spark.createDataFrame(new java.util.ArrayList[Row](), changeSchema(tomb))
    }
  }

  /** [[changesSince]] plus PRE-IMAGE rows (Delta-CDF's
    * `update_preimage` shape, windowed): for every key the window
    * touches, one extra row carrying the key's WINNING content as of
    * `sinceTx` — the version the consumer already holds — marked
    * `_change_kind = 'preimage'`; the window's own rows carry
    * `_change_kind = 'change'`. One pre-image per key at WINDOW START,
    * not per commit: intermediate versions inside the window are
    * already present as change rows, so the window-start image is the
    * only state a consumer cannot reconstruct from the feed itself.
    * A key with no committed history at `sinceTx` (inserted inside the
    * window, or whose winner then was a tombstone) has no pre-image
    * row.
    *
    * This is what lets an incremental consumer maintain CONTENT-derived
    * state under updates and deletes (see [[IncrementalView]]): a
    * tombstone's zeroed content cannot name the group it leaves, its
    * pre-image can. The extra `_change_kind` column exists ONLY on this
    * surface — the default [[changesSince]] schema is untouched, so
    * never-consuming readers pay nothing (the `_deleted` widening
    * discipline).
    *
    * Cost: one additional scan of rows at or below `sinceTx`,
    * semi-joined on the window's (broadcast) touched keys BEFORE the
    * fold — O(touched keys' history), never a full-store fold.
    *
    * CONSTRUCTION runs one bounded driver job: the window's touched
    * keys are collected into a driver-local relation (capped at
    * `graft.feed.localTouchedKeysMax`, default 100,000 — trickle
    * windows by construction), from which the partition-prune sample
    * derives for free. Each EXECUTION then scans the gated window
    * exactly once (the change rows), with the pre-image semi-join
    * probing the LocalRelation broadcast — and nothing needs cleanup.
    * A window touching more keys than the cap degrades to the lazy
    * shape (each execution re-scans the gated window under the
    * semi-join build side); a caller refreshing repeatedly should use
    * the checkpointing variant and own its cleanup, as the incremental
    * view does ([[graft.store.IncrementalView]]).
    */
  def changesSincePre(sinceTx: Long, untilTx: Long = Long.MaxValue): DataFrame =
    changesWindowPre(sinceTx, untilTx, journalState(),
      checkpointTouched = false)._1

  /** Pinned-snapshot body of [[changesSincePre]] — the incremental
    * view's entry point (one journal read serves the window, the gap
    * check, and the pre-image gate).
    *
    * `checkpointTouched = true` localCheckpoints the window's
    * touched-key frame so repeated executions of the feed never re-run
    * the gated window scan under the pre-image semi-join's build side;
    * the checkpointed frame is RETURNED (second tuple slot) and the
    * CALLER owns its lifecycle — unpersist it
    * (`ColumnBridge.unpersistCheckpoint`) when done with the feed, or
    * every refresh of a long-lived stream leaks block-manager storage
    * until the ContextCleaner happens to GC it. With `false` the feed
    * stays fully lazy and nothing needs cleanup (the public
    * [[changesSincePre]] shape).
    */
  private[store] def changesWindowPre(sinceTx: Long, untilTx: Long,
                                      state: JournalState,
                                      checkpointTouched: Boolean)
      : (DataFrame, Option[DataFrame]) =
    changesWindowPreImpl(sinceTx, untilTx, state.floor,
      state.recents.map(_._1), state.admitUpTo(sinceTx), checkpointTouched)

  /** [[changesSincePre]] for a LONG-LIVED tail reader: the same
    * pre-image feed, but driven from the streaming source's incremental
    * [[JournalView]] instead of a fresh O(journal) driver collect per
    * micro-batch — the view's gap-run complement supplies both the
    * window's admitted ids and the at-or-below-`sinceTx` committed set
    * the pre-image fold gates on. The touched-key frame IS checkpointed
    * (returned in the second slot, the stream source owns its
    * lifecycle): left lazy, every micro-batch would scan its gated
    * window three times — once for the construction-time prune sample,
    * once for the change rows, once under the semi-join build —
    * instead of once for the checkpoint plus once for the change rows.
    */
  private[graft] def changesWindowPreTail(sinceTx: Long, untilTx: Long,
                                          view: JournalView)
      : (DataFrame, Option[DataFrame]) =
    changesWindowPreImpl(sinceTx, untilTx, view.floorTx,
      view.admittedIn(sinceTx, untilTx), view.admitUpTo(sinceTx),
      checkpointTouched = true)

  private def changesWindowPreImpl(sinceTx: Long, untilTx: Long,
                                   floor: Long, windowIds: Array[Long],
                                   admitBelow: TxAdmit,
                                   checkpointTouched: Boolean)
      : (DataFrame, Option[DataFrame]) = {
    val tomb = hasTombstones
    val changes = changesWindow(sinceTx, untilTx, floor, windowIds)
    val changed = changes.withColumn("_change_kind", lit("change"))
    currentGen() match {
      case Some((_, genDir)) =>
        val keyNames = Candle.keyCols :+ "ts"
        // materialize the touched-key set ONCE: checkpointing callers
        // (the incremental view, the streaming tail) own the returned
        // frame's lifecycle; the PUBLIC one-shot shape instead collects
        // the keys into a driver-local relation at construction —
        // bounded by `graft.feed.localTouchedKeysMax` — so each
        // execution scans the gated window ONCE (the change rows) with
        // the pre-image semi-join probing a LocalRelation broadcast,
        // and there is nothing to unpersist. Past the cap it degrades
        // to the lazy shape, whose each execution re-runs the gated
        // window scan under the semi-join build side (documented 2×).
        val touchedLazy = changes.select(keyNames.map(col): _*).distinct()
        val touchedKeys =
          if (checkpointTouched) touchedLazy.localCheckpoint()
          else {
            val localMax = spark.conf
              .getOption("graft.feed.localTouchedKeysMax")
              .map(_.toInt).getOrElse(100000)
            val keyRows = touchedLazy.limit(localMax + 1).collect()
            if (keyRows.length > localMax) touchedLazy
            else spark.createDataFrame(
              java.util.Arrays.asList(keyRows: _*), touchedLazy.schema)
          }
        // from here to the return the checkpoint is OURS: a failure in
        // the prune-sample job below would otherwise orphan it (never
        // returned ⇒ the caller's release can never free it)
        try {
        // PARTITION-PRUNE the history scan before the semi-join: the
        // semi-join alone decides exactness but reads every admitted
        // row — an `isin` over the touched keys' partition-column
        // values (the data is Hive-partitioned on market /
        // candle_length / code / year) turns the pre-image fold's scan
        // into O(touched partitions). Bounded driver collect, same cap
        // as the view's group pushdown; past the cap the superset scan
        // is still exact, just unpruned. (IncrementalView.refreshLocked
        // applies the same cap-sample-isin idiom to its recompute scan,
        // keyed by GROUP columns instead of partition columns — change
        // the cap/fallback semantics in BOTH places.)
        val maxPush = spark.conf.getOption("graft.view.pushdownMaxGroups")
          .map(_.toInt).getOrElse(1000)
        val sample = touchedKeys
          .select(col("market"), col("code"), col("candle_length"),
            year(col("ts")).as("year"))
          .distinct().limit(maxPush + 1).collect()
        val rawBase = spark.read.schema(readSchema(tomb))
          .parquet(genDir.toString)
          .where(committedGate(admitBelow))
        val rawPruned =
          if (sample.length > maxPush) rawBase
          else Seq("market", "code", "candle_length", "year")
            .zipWithIndex.foldLeft(rawBase) { case (df, (c, i)) =>
              df.where(col(c).isin(sample.map(_.get(i)).distinct.toSeq: _*))
            }
        val raw = rawPruned
          .join(broadcast(touchedKeys), keyNames, "left_semi")
        val winner = struct((contentCols.map(col) :+ col("tx_id")) ++
          (if (tomb) Seq(coalesce(col("_deleted"), lit(false)).as("_deleted"))
           else Nil): _*)
        val foldedAll = raw.withColumn("_c", winner)
          .groupBy((Candle.keyCols ++ Seq("ts", "year")).map(col): _*)
          .agg(max_by(col("_c"), col("tx_id")).as("_w"))
        val folded = if (tomb) foldedAll.where(!col("_w._deleted")) else foldedAll
        val pre0 = folded.select(
          (Candle.keyCols ++ Seq("ts", "year")).map(col) ++
            contentCols.map(c => col(s"_w.$c").as(c)) :+
            col("_w.tx_id").as("tx_id"): _*)
          .select((scanCols :+ "tx_id").map(col): _*)
        val pre = (if (tomb) pre0.withColumn("_deleted", lit(false)) else pre0)
          .withColumn("_change_kind", lit("preimage"))
        (changed.unionByName(pre),
          if (checkpointTouched) Some(touchedKeys) else None)
        } catch {
          case t: Throwable =>
            if (checkpointTouched)
              org.apache.spark.sql.graft.ColumnBridge
                .unpersistCheckpoint(touchedKeys)
            throw t
        }
      case None => (changed, None)
    }
  }

  /** One pinned journal snapshot for a consumer that needs the window,
    * the gap math, and the pre-image gate to agree (the incremental
    * view's refresh).
    */
  private[store] def journalSnapshot(): JournalState = journalState()

  private def changeSchema(tomb: Boolean): StructType = {
    val base = StructType(
      (scanCols :+ "tx_id").map(n => dataSchema.fields.find(_.name == n).get))
    if (tomb) base.add(StructField("_deleted", BooleanType, nullable = false))
    else base
  }

  /** The change feed's schema for THIS store right now: the scan
    * columns + `tx_id`, plus `_deleted` once the store has ever
    * tombstone-deleted — what `changesSince` / the streaming tail / the
    * SQL change-feed lens return.
    */
  private[graft] def changeFeedSchema: StructType = changeSchema(hasTombstones)

  /** The PRE-IMAGE feed's schema: the change-feed schema plus the
    * `_change_kind` discriminator ('change' | 'preimage') — what the
    * `changesSincePre` reader option and the pre-image streaming tail
    * return. The `_deleted` widening discipline carries over unchanged.
    */
  private[graft] def changeFeedPreSchema: StructType =
    changeFeedSchema.add(StructField("_change_kind", StringType,
      nullable = false))

  // ------------------------------------------------------------------ //
  // Compaction                                                         //
  // ------------------------------------------------------------------ //

  /** Squash history: rewrite the data to one version per key — each
    * surviving row KEEPS its original `tx_id` (so as-of reads at or
    * after the squash floor are exact; reads below it throw — see
    * [[scanAsOf]]). The swap is atomic: the squashed copy is written to
    * the NEXT generation directory and published by creating its
    * `_GRAFT_COMMITTED` marker; readers that already resolved the old
    * generation keep a consistent view (the previous generation is
    * retained; only older ones are deleted). The journal is kept, so tx
    * ids keep increasing monotonically.
    *
    * Mutual exclusion: concurrent compacts are excluded by an atomic
    * `_compact.lock`. Commits may run concurrently: a commit landing in
    * a superseded generation is reconciled by metadata renames — the
    * post-publish carry-forward sweep here walks EVERY retained older
    * generation (not just the immediately superseded one, so a commit
    * parked one hop back by an earlier compaction is still relayed
    * before GC can delete it), and `doCommit` independently verifies
    * its files under the final generation before journaling. (The
    * reference instead holds the DB-exclusive lock for its WAL group
    * flush, `database/concurrency/db.go:68-156`.)
    *
    * Crash safety (spec-enumerated: every prefix of the step sequence
    * below is simulated in VersionedStoreSpec): the journal `compact`
    * row is written BEFORE the new generation's commit marker, so the
    * squash floor always advances no later than the generation swap.
    * A crash between the two leaves the floor at `latest` while reads
    * still resolve the OLD (full-history) generation: as-of reads
    * below `latest` then fail LOUDLY ("predates the squash point")
    * instead of silently returning squashed rows — the opposite order
    * would expose a window where `scanAsOf(T)` drops every key whose
    * winning tx exceeds T, with no error. Each crash prefix leaves a
    * store whose scan()/journal reads are exact, and a re-run
    * `compact()` (after [[breakStaleLock]]) converges; an unpublished
    * next-generation dir left by a crash is clobbered by the next
    * compaction's SaveMode.Overwrite.
    */
  def compact(committedAt: Option[Timestamp] = None): Long =
    compactInternal(committedAt, crashAfter = Int.MaxValue)

  /** Test seam: run [[compact]] but simulate a HARD crash after step
    * `crashAfter` of its install sequence — the step's effects are on
    * disk, nothing later runs, and the `_compact.lock` is LEFT BEHIND
    * (a kill -9 does not run finally blocks). Steps:
    * 1 snapshot taken · 2 squashed generation written (unpublished) ·
    * 3 journal `compact` row written · 4 commit marker published ·
    * 5 carry-forward sweep done · 6 old generations GC'd ·
    * 7 reserve files swept (checkpoint rollup never runs).
    */
  private[graft] def compactWithCrash(crashAfter: Int,
                                      committedAt: Option[Timestamp] = None): Long =
    compactInternal(committedAt, crashAfter)

  private def compactInternal(committedAt: Option[Timestamp],
                              crashAfter: Int): Long = {
    val f = fs
    verifyLayout(f)
    f.mkdirs(hp(path))
    val lock = hp(s"$path/_compact.lock")
    if (!tryCreate(f, lock))
      throw new IllegalStateException(s"another compaction holds $lock")
    var hardCrash = false
    def crash(step: Int): Unit = if (step == crashAfter) {
      hardCrash = true
      throw VersionedCandleStore.SimulatedCrash(step)
    }
    try {
      val snapshot = journalState()
      val admitted = snapshot.admitAll
      val latest = snapshot.maxCommitted
      if (latest == 0L) return 0L
      // no-op early-out: everything up to `latest` is already squashed
      // (also avoids publishing a duplicate tx-<latest>-compact journal
      // file, whose rename would fail on rename-no-overwrite filesystems)
      if (latest == snapshot.floor) return latest
      crash(1)
      val (curGenId, curGenDir) = currentGen().get
      val present = admitted
      // one version per key, WINNING row's tx_id preserved (content and
      // tx travel together in one struct, picked by tx order); same
      // pure-predicate committed gate as scanAsOf. A key whose winner is
      // a TOMBSTONE is dropped entirely — the squash is where deleted
      // history is physically reclaimed (as-of reads below the floor
      // already fail loudly, so nothing can miss the dropped rows).
      val tomb = hasTombstones
      val withTx = struct((Seq(col("open"), col("high"), col("low"),
        col("close"), col("volume"), col("bit_fields"), col("tx_id")) ++
        (if (tomb) Seq(coalesce(col("_deleted"), lit(false)).as("_deleted"))
         else Nil)): _*)
      val squashedAll = spark.read.schema(readSchema(tomb))
        .parquet(curGenDir.toString)
        .where(committedGate(admitted))
        .withColumn("_c", withTx)
        .groupBy((Candle.keyCols ++ Seq("ts", "year")).map(col): _*)
        .agg(max_by(col("_c"), col("tx_id")).as("_w"))
      val squashed = (if (tomb) squashedAll.where(!col("_w._deleted"))
                      else squashedAll)
        .select("market", Candle.keyCols.tail ++ Seq("ts", "year") ++
          (contentCols :+ "tx_id").map("_w." + _): _*)
      val newGen = hp(s"$path/${genDirName(curGenId + 1)}")
      CandleStore.withMicrosTimestamps(squashed) {
        squashed
          .hint("rebalance", Candle.partitionCols: _*)
          .sortWithinPartitions((Candle.partitionCols :+ "ts").map(col): _*)
          .write.partitionBy(Candle.partitionCols: _*)
          .mode(SaveMode.Overwrite).parquet(newGen.toString)
      }
      val nRows = spark.read.schema(dataSchema).parquet(newGen.toString).count()
      crash(2)
      // Journal the squash floor BEFORE publishing the generation: see
      // the crash-safety note in the scaladoc — floor-then-publish makes
      // the crash window fail loud (as-of below `latest` refused while
      // the old generation is still current) instead of silently wrong
      // (squashed generation current with a stale floor admitting
      // discarded history). The cost is benign: a crash here leaves the
      // floor early and the next compact early-outs until new commits
      // arrive, with the unpublished generation dir clobbered by that
      // compact's Overwrite.
      writeJournalRow(latest, nRows,
        committedAt.getOrElse(new Timestamp(System.currentTimeMillis())),
        "compact", None)
      crash(3)
      tryCreate(f, new Path(newGen, CommitMarker)) // atomic publish
      crash(4)
      // Reconcile commits that raced the compaction: any data file in
      // ANY retained older generation whose tx is NOT part of the squash
      // snapshot (journaled later, or still torn) is carried forward by
      // metadata rename — file names embed their tx id, so no data is
      // read. Walking every retained generation (not just the
      // immediately superseded one) covers a writer stalled across
      // multiple compactions whose files were parked one hop back by an
      // earlier sweep; the writer's own pre-journal verification covers
      // files landing after this sweep.
      val newGenQualified = f.makeQualified(newGen).toUri.getPath
      generations()
        .filter { case (_, p) => f.makeQualified(p).toUri.getPath != newGenQualified }
        .foreach { case (_, p) => carryFiles(f, p, newGen, id => !present.contains(id)) }
      crash(5)
      // GC: keep the new and previous generations (in-flight readers of
      // the old one stay consistent); drop anything older, plus reserve
      // files at or below the floor (allocation starts past the journal
      // max, so they can never be re-minted).
      generations().dropRight(2).foreach { case (_, p) => f.delete(p, true) }
      crash(6)
      if (f.exists(hp(txnPath)))
        f.listStatus(hp(txnPath)).map(_.getPath).foreach { p =>
          p.getName match {
            case ReserveName(id) if id.toLong <= latest => f.delete(p, false)
            case _ => ()
          }
        }
      crash(7)
      checkpointLocked(f, force = false) // rollup rides the same lock
      latest
    } finally { if (!hardCrash) { f.delete(lock, false); () } }
  }

  /** Operator-facing metadata snapshot — the `DESCRIBE DETAIL`
    * equivalent, surfaced as `CALL <cat>.system.describe_detail(tbl)`:
    * committed head, squash floor, tombstone marker, generation count,
    * and the CURRENT generation's data-file census (one recursive
    * listing — metadata-bounded, no data read).
    */
  def detail(): VersionedCandleStore.StoreDetail = {
    val f = fs
    val state = journalState()
    val gens = generations()
    var nFiles = 0L
    var bytes = 0L
    gens.lastOption.foreach { case (_, dir) =>
      ForkFreeLocalFs.filesUnder(f, dir).foreach { st =>
        val n = st.getPath.getName
        // commit files are tx-prefixed; a compacted generation's are
        // plain parquet part files — count both, never markers/metadata
        if (!n.startsWith("_") && !n.startsWith(".")) {
          nFiles += 1; bytes += st.getLen
        }
      }
    }
    VersionedCandleStore.StoreDetail(state.maxCommitted, state.floor,
      hasTombstones, gens.length, nFiles, bytes)
  }

  /** Remove a `_compact.lock` left behind by a maintenance op that died
    * hard (kill -9 / lost executor — finally blocks never ran). Safe
    * ONLY when the caller knows no live compact/vacuum/checkpoint is
    * running: the lock carries no liveness information (an atomic
    * create, the same primitive the reference's counter file lock
    * leans on), so breaking it under a live op would let two
    * maintenance ops interleave. Commits are unaffected either way —
    * they never take this lock. Returns true if a lock was removed.
    */
  def breakStaleLock(): Boolean = {
    val f = fs
    val lock = hp(s"$path/_compact.lock")
    f.exists(lock) && f.delete(lock, false)
  }

  private val DataFileName = "tx(\\d{20})-.*".r

  /** COPY every data file under `from` whose embedded tx id satisfies
    * `shouldCarry` into the mirrored path under `to`; returns files
    * carried. The compaction-race reconciliation primitive. Copies, not
    * renames: in-flight readers that already listed the source
    * generation must keep every file they saw (a moved-away file is a
    * FileNotFoundException at execution time), and a duplicate of the
    * same tx's rows across generations is harmless — every read
    * resolves exactly ONE generation. Raced files are rare and small
    * (one commit's worth), so the copy cost is bounded. A concurrent
    * carry of the same file is benign: names are globally unique
    * (tx prefix + task uuid), and whoever lands last wins with
    * identical bytes.
    */
  private def carryFiles(f: FileSystem, from: Path, to: Path,
                         shouldCarry: Long => Boolean): Int = {
    if (from.toUri.getPath == to.toUri.getPath) return 0
    var carried = 0
    val conf = spark.sparkContext.hadoopConfiguration
    def walk(src: Path, dst: Path): Unit =
      f.listStatus(src).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) walk(st.getPath, new Path(dst, name))
        else name match {
          case DataFileName(id) if shouldCarry(id.toLong) =>
            f.mkdirs(dst)
            val target = new Path(dst, name)
            if (!f.exists(target)) {
              org.apache.hadoop.fs.FileUtil.copy(f, st.getPath, f, target,
                false, true, conf)
              carried += 1
            }
          case _ => ()
        }
      }
    if (f.exists(from)) walk(from, to)
    carried
  }

  /** Garbage-collect TORN commits: data files that were moved into a
    * generation but never journaled (writer crashed between the move and
    * the journal append). They are invisible to every read (committed-set
    * gating), so this is pure space reclamation — the reference's
    * discard-uncommitted-on-replay (`wal/flusher.go:93-131`) as a
    * maintenance op. Also drops tx reserve files with no journal entry
    * and streaming batch-guard files whose batch never journaled (a
    * crashed replay-guard winner — reclaiming it un-wedges later
    * retries). Returns the number of files removed.
    *
    * An IN-FLIGHT commit looks exactly like a torn one (files moved,
    * journal pending), so candidates younger than `minAgeMs` are
    * skipped — deleting a live commit's files would journal an empty
    * transaction and free its reserve for re-minting. The default
    * (24 h) is far beyond any real commit duration; pass 0 ONLY when
    * the caller guarantees no concurrent writers.
    */
  def vacuum(minAgeMs: Long = 24L * 3600 * 1000): Int = {
    val f = fs
    if (!f.exists(hp(path))) return 0
    verifyLayout(f)
    CrossStoreTx.requireNoPendingCrossTx(spark, f, hp(txnPath), path)
    val lock = hp(s"$path/_compact.lock")
    if (!tryCreate(f, lock))
      throw new IllegalStateException(s"another maintenance op holds $lock")
    try {
      // run-aware membership: a data file whose tx sits inside a
      // summarized run is committed — treating it as torn would DELETE
      // live data
      val state = journalState()
      val admitted = state.admitAll
      val floorIds = txLog().where(col("kind") === "compact")
        .select("tx_id").collect().map(_.getLong(0)).toSet
      val journaled: Long => Boolean =
        id => admitted.contains(id) || floorIds(id)
      val journaledBatches: Long => Boolean = {
        val recentBatches = txLog()
          .where(col("kind") === "commit" && col("batch_id").isNotNull)
          .select("batch_id").collect().map(_.getLong(0)).toSet
        val maxRunBatch = state.runs.flatMap(_.maxBatch).foldLeft(-1L)(math.max)
        b => recentBatches(b) || b <= maxRunBatch
      }
      val cutoff = System.currentTimeMillis() - minAgeMs
      var removed = 0
      def sweep(dir: Path): Unit =
        f.listStatus(dir).foreach { st =>
          if (st.isDirectory) sweep(st.getPath)
          else st.getPath.getName match {
            case DataFileName(id) if !journaled(id.toLong) &&
                st.getModificationTime <= cutoff =>
              f.delete(st.getPath, false); removed += 1
            case _ => ()
          }
        }
      generations().foreach { case (_, p) => sweep(p) }
      if (f.exists(hp(txnPath)))
        f.listStatus(hp(txnPath)).foreach { st =>
          st.getPath.getName match {
            case ReserveName(id) if !journaled(id.toLong) &&
                st.getModificationTime <= cutoff =>
              f.delete(st.getPath, false); removed += 1
            case BatchReserveName(b) if !journaledBatches(b.toLong) &&
                st.getModificationTime <= cutoff =>
              f.delete(st.getPath, false); removed += 1
            case _ => ()
          }
        }
      checkpointLocked(f, force = false) // rollup rides the same lock
      removed
    } finally { f.delete(lock, false); () }
  }
}

object VersionedCandleStore {
  def apply(spark: SparkSession, path: String): VersionedCandleStore =
    new VersionedCandleStore(spark, path)

  /** Parquet message type of a single-row journal file — the same
    * logical types Spark's own writer produced for these columns
    * (INT64 tx_id/n_rows/batch_id, UTF8 kind, INT64 TIMESTAMP micros
    * UTC committed_at), so [[journalRows]]' pinned-schema read and any
    * external parquet reader see identical data either way.
    */
  private lazy val journalRowType: org.apache.parquet.schema.MessageType = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    Types.buildMessage()
      .required(INT64).named("tx_id")
      .required(INT64).named("n_rows")
      .optional(INT64)
      .as(LogicalTypeAnnotation.timestampType(true,
        LogicalTypeAnnotation.TimeUnit.MICROS))
      .named("committed_at")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("kind")
      .optional(INT64).named("batch_id")
      .named("spark_schema")
  }

  /** Write one journal row as a parquet file, driver-side (no Spark
    * job) — see [[VersionedCandleStore.writeJournalRow]].
    */
  private[store] def writeJournalRowFile(conf: org.apache.hadoop.conf.Configuration,
                                         file: Path, tx: Long, nRows: Long,
                                         at: Option[Timestamp], kind: String,
                                         batchId: Option[Long]): Unit = {
    val fac = new org.apache.parquet.example.data.simple.SimpleGroupFactory(journalRowType)
    val g = fac.newGroup()
    g.add("tx_id", tx)
    g.add("n_rows", nRows)
    at.foreach { t =>
      val micros = t.getTime * 1000L + (t.getNanos % 1000000L) / 1000L
      g.add("committed_at", micros)
    }
    g.add("kind", kind)
    batchId.foreach(b => g.add("batch_id", b))
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(file, conf))
      .withType(journalRowType)
      .withConf(conf)
      .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try w.write(g) finally w.close()
  }

  /** The commit journal's row shape ([[VersionedCandleStore.txLog]]);
    * shared with the SQL `CALL <catalog>.system.history(...)` surface.
    */
  private[graft] val txLogSchema = StructType(Seq(
    StructField("tx_id", LongType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("committed_at", TimestampType, nullable = true),
    StructField("kind", StringType, nullable = false),
    StructField("batch_id", LongType, nullable = true),
    StructField("min_at", TimestampType, nullable = true)))

  /** Atomic create-if-absent — the lock primitive every maintenance op
    * here rides (local fs: `File.createNewFile`, which is atomic where
    * HDFS-on-file's create+close is not).
    */
  private[graft] def tryCreate(f: FileSystem, p: Path): Boolean = {
    val resolved = f.makeQualified(p)
    if (resolved.toUri.getScheme == "file") {
      val file = new java.io.File(resolved.toUri.getPath)
      val parent = file.getParentFile
      if (parent != null) { parent.mkdirs(); () }
      file.createNewFile()
    } else
      try { f.create(p, false).close(); true }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case e: java.io.IOException => if (f.exists(p)) false else throw e
      }
  }

  /** [[tryCreate]] with the file's CONTENT written in the same atomic
    * step — the stamped-lock primitive: a hard kill can leave the lock
    * absent or whole, never created-but-unstamped (a lock an automated
    * owner-breaker could never prove its own). Local fs: content goes
    * to a private temp file hard-LINKED into place (`link(2)` fails
    * atomically when the destination exists); HDFS-likes: temp +
    * rename, which refuses an existing destination there.
    */
  private[graft] def tryCreate(f: FileSystem, p: Path,
                               content: Array[Byte]): Boolean = {
    if (content.isEmpty) return tryCreate(f, p)
    val resolved = f.makeQualified(p)
    if (resolved.toUri.getScheme == "file") {
      val file = new java.io.File(resolved.toUri.getPath)
      val parent = file.getParentFile
      if (parent != null) { parent.mkdirs(); () }
      val tmp = java.io.File.createTempFile(s".${file.getName}", ".stamp", parent)
      try {
        java.nio.file.Files.write(tmp.toPath, content)
        try { java.nio.file.Files.createLink(file.toPath, tmp.toPath); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } finally { tmp.delete(); () }
    } else {
      val tmp = new Path(p.getParent,
        s".${p.getName}.stamp-${java.util.UUID.randomUUID()}")
      val os = f.create(tmp, false)
      try os.write(content) finally os.close()
      if (f.rename(tmp, p)) true
      else { f.delete(tmp, false); false }
    }
  }

  /** Does `path` hold (or mark) a versioned store? — format marker,
    * journal, or a committed generation dir. The catalog's table
    * predicate: a directory failing this is NOT listed/loaded as a
    * table, so foreign data never silently reads as an empty store.
    */
  private[graft] def looksLikeStore(f: FileSystem, p: Path): Boolean =
    f.exists(new Path(p, "_graft_format_v1")) ||
      f.exists(new Path(p, "txlog")) ||
      (f.exists(p) && f.listStatus(p).exists(
        _.getPath.getName.matches("data-g\\d{9}")))

  def apply(spark: SparkSession, path: String,
            checkpointEvery: Int): VersionedCandleStore =
    new VersionedCandleStore(spark, path, checkpointEvery)

  /** Thrown by the [[VersionedCandleStore.compactWithCrash]] test seam
    * at the requested step; carries the step so specs can assert they
    * crashed where they meant to.
    */
  private[graft] final case class SimulatedCrash(step: Int)
    extends RuntimeException(s"simulated hard crash after compact step $step")

  /** [[VersionedCandleStore.detail]]'s row — what
    * `CALL <cat>.system.describe_detail` returns.
    */
  final case class StoreDetail(headTx: Long, squashFloorTx: Long,
                               hasTombstones: Boolean, nGenerations: Int,
                               nDataFiles: Long, sizeBytes: Long)
}
