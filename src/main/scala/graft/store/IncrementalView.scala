package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions.{broadcast, col, expr}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Incrementally-maintained aggregate view over a [[VersionedCandleStore]]
  * — the materialized-view pattern the store's change feed exists to
  * serve (reference: mora delegates ALL aggregation to callers,
  * `database/` has no query surface; this is the Spark-side caller).
  *
  * The view is `SELECT <groups>, <aggs> FROM store GROUP BY <groups>`,
  * kept equal to a full recompute WITHOUT re-reading the whole base
  * table on refresh:
  *
  *  1. the refresh pins one committed snapshot (`head` from a single
  *     journal read) and asks [[VersionedCandleStore.changesSince]] for
  *     the rows committed after the view's watermark;
  *  2. the DISTINCT group keys of those rows are the only groups whose
  *     aggregates can have changed. For KEY-derived group expressions
  *     (market, code, candle_length, ts, year — all present un-zeroed
  *     on tombstone rows) the change rows alone suffice. A
  *     CONTENT-derived group (a price band, a volume tier) additionally
  *     needs the group a changed key is LEAVING — a tombstone's zeroed
  *     content cannot name it — so such views read the PRE-IMAGE feed
  *     ([[VersionedCandleStore.changesSincePre]]): touched groups =
  *     groups of the window's live rows ∪ groups of the pre-image rows
  *     (the superseded winners' old content). Tombstone rows themselves
  *     contribute no group — their old group rides the pre-image, and a
  *     key born and deleted inside the window is covered by its own
  *     insert row;
  *  3. exactly those groups are re-aggregated from the pinned
  *     `scanAsOf(head)` — semi-joined on the BROADCAST touched set,
  *     with an `isin` pushdown on plain key-column groups (bounded by
  *     `graft.view.pushdownMaxGroups`, default 1000) so the base scan
  *     partition-prunes instead of folding the whole store;
  *  4. the new view = (old view ANTI-JOIN touched) ∪ recomputed —
  *     groups whose every row was deleted vanish (the anti-join drops
  *     them, the recompute yields nothing).
  *
  * Work per refresh is therefore O(changed groups' rows), not O(base
  * table): at 100 TB the base fold never re-runs for a quiet day's
  * trickle. The one fallback is a [[VersionedCandleStore.compact]]
  * squash floor that passed the view's watermark — per-tx history
  * below the floor no longer exists, so the refresh recomputes in
  * full (loudly derivable from the returned watermark jump, and the
  * same cost a cold build pays).
  *
  * Storage is a generation directory per refresh
  * (`<path>/gen_<headTx>`, `_SUCCESS`-gated like every other
  * generation in this engine): adoption is the highest successful
  * generation, a torn write is invisible, and a retry writes a FRESH
  * directory — a late-commit repair of the same watermark lands as
  * `gen_<tx>_r<k>` (adoption orders by (tx, repair rev)), so the
  * previously adopted state survives any torn write. GC after a
  * successful refresh retains the single immediately superseded
  * generation (a DataFrame already resolved by `read()` survives one
  * subsequent refresh — the store's own compaction convention) and
  * deletes everything older, torn leftovers included. The view is
  * aggregate-sized (groups, not rows), so a full rewrite per refresh
  * is the cheap side of the trade — the INCREMENTAL part is what is
  * read from the 100 TB base, not what is written to the view.
  *
  * Mutual exclusion: concurrent `refresh()`es are excluded by an
  * atomic `_refresh.lock` (two interleaved refreshers would GC each
  * other's generations mid-write); a lock left by a hard-killed
  * refresher is cleared with [[breakStaleLock]] — same discipline as
  * [[VersionedCandleStore.compact]].
  */
final class IncrementalView(
    spark: SparkSession,
    val path: String,
    store: VersionedCandleStore,
    groupBy: Seq[(String, Column)],
    aggs: Seq[Column]) {

  require(groupBy.nonEmpty, "at least one group expression")
  require(aggs.nonEmpty, "at least one aggregate")

  private val groupNames = groupBy.map(_._1)

  /** Key-derived columns a group expression may reference: the fold
    * key plus the ts-derived partition year — all present (un-zeroed)
    * on tombstone rows, so the touched-group derivation in step 2
    * holds under deletes too.
    */
  private val keyDerivedCols =
    (graft.model.Candle.keyCols ++ Seq("ts", "year")).toSet

  /** (plain key-column groups eligible for the isin pushdown,
    * does any group expression read CONTENT columns?) — one analysis
    * probe serves both.
    */
  private val (plainKeyGroups: Map[String, String], contentGroups: Boolean) = {
    // alias the expressions DIRECTLY (no withColumn indirection) so the
    // top projection's references are the base scan's columns
    val probe = store.scan()
      .select(groupBy.map { case (n, c) => c.as(n) }.toIndexedSeq: _*)
    val proj = probe.queryExecution.analyzed.collectFirst {
      case p: Project => p
    }.getOrElse(fail("group expressions did not analyze to a projection"))
    var content = false
    val plain = proj.projectList.zip(groupNames).flatMap { case (ne, n) =>
      val refs = ne.references.map(_.name.toLowerCase).toSet
      if ((refs -- keyDerivedCols).nonEmpty) content = true
      ne match {
        case a: org.apache.spark.sql.catalyst.expressions.Alias =>
          a.child match {
            case ar: AttributeReference => Some(n -> ar.name.toLowerCase)
            case _ => None
          }
        case ar: AttributeReference => Some(n -> ar.name.toLowerCase)
        case _ => None
      }
    }.toMap
    (plain, content)
  }

  private def fail(msg: String): Nothing =
    throw new AnalysisException(
      errorClass = "_LEGACY_ERROR_TEMP_0035",
      messageParameters = Map("message" -> s"IncrementalView($path): $msg"))

  private def withGroups(base: DataFrame): DataFrame =
    groupBy.foldLeft(base) { case (df, (n, c)) => df.withColumn(n, c) }

  /** NULL-SAFE group-equality join condition — the ONE definition the
    * refresh's semi/anti joins and the view feed's delete detection
    * share: NULL is a legitimate group key (a no-ELSE CASE group), and
    * a plain using-columns join would never match it, silently
    * carrying its stale row / mis-classifying it as deleted.
    */
  private def nullSafeGroupCond(left: DataFrame, rightAlias: String): Column =
    groupNames.map(n => left(n) <=> col(s"$rightAlias.$n")).reduce(_ && _)

  /** Aggregate a frame that ALREADY carries the group columns. */
  private def aggregated(base: DataFrame): DataFrame =
    base.groupBy(groupNames.map(col).toIndexedSeq: _*)
      .agg(aggs.head, aggs.tail.toIndexedSeq: _*)

  private def fs = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val GenName = "gen_(\\d+)(?:_r(\\d+))?".r

  /** Every `gen_*` directory as (watermark tx, repair rev, dir,
    * adopted?) — adopted means `_SUCCESS`-gated.
    */
  private def listGens(): Seq[(Long, Long, Path, Boolean)] = {
    val root = new Path(path)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .flatMap { s =>
        s.getPath.getName match {
          case GenName(tx, rev) =>
            Some((tx.toLong, Option(rev).map(_.toLong).getOrElse(0L),
              s.getPath, fs.exists(new Path(s.getPath, "_SUCCESS"))))
          case _ => None
        }
      }
  }

  /** (watermark, repair rev, generation dir) of the adopted view
    * state: the highest (tx, repair rev) with `_SUCCESS` — torn
    * refresh writes are invisible by construction. The ONE adoption
    * lookup; `read`/`watermark`/`generation`/`changesSinceGeneration`
    * all derive from it.
    */
  private def adoptedGenFull(): Option[(Long, Long, Path)] =
    listGens().filter(_._4).sortBy(g => (g._1, g._2)).lastOption
      .map(g => (g._1, g._2, g._3))

  private def adoptedGen(): Option[(Long, Path)] =
    adoptedGenFull().map(g => (g._1, g._3))

  /** A view's generation schema is constant for the instance lifetime
    * (its definition is immutable), and the refresh/feed/read paths each
    * touch generations several times per operation, so generation reads
    * are pinned, keyed by the view dir. The pins are the instance's own:
    * REPLACE (and DROP + CREATE) reuses the same dir under a new
    * definition, so a JVM-wide pin on the dir could outlive its layout.
    */
  private val genPins = new PinnedRead

  /** The view's current contents. Refuses before the first refresh. */
  def read(): DataFrame = adoptedGen() match {
    case Some((_, dir)) => genPins.read(spark, path, Seq(dir.toString))
    case None => fail("no refreshed generation yet — call refresh() first" +
      " (SQL: CALL <catalog>.system.refresh_view)")
  }

  /** The view's output schema, derivable BEFORE the first refresh: the
    * adopted generation's parquet schema when one exists, otherwise the
    * analyzed definition (groups + aggregates over the base scan) —
    * what the SQL catalog table reports. Analyzing the definition also
    * VALIDATES it: unknown columns, non-aggregate aggregate
    * expressions, and nondeterministic expressions all fail here with
    * Spark's own analysis errors (creation runs this eagerly).
    */
  private[graft] def tableSchema: StructType = adoptedGen() match {
    case Some((_, dir)) => genPins.read(spark, path, Seq(dir.toString)).schema
    case None => definitionSchema
  }

  /** The analyzed definition's schema — forcing it is the definition
    * validity check ([[IncrementalView.create]] calls it eagerly).
    */
  private[graft] def definitionSchema: StructType =
    aggregated(withGroups(store.scan())).schema

  /** The view CHANGE FEED's schema: the view's own columns plus the
    * `_view_change_kind` discriminator ('upsert' | 'delete') — what
    * [[changesSinceGeneration]] and the `graft-view` streaming tail
    * return. The name is reserved at creation, so it can never collide
    * with a view output column.
    */
  private[graft] def feedSchema: StructType =
    tableSchema.add(StructField("_view_change_kind", StringType,
      nullable = false))

  /** The watermark the view reflects (0 before the first refresh). */
  def watermark(): Long = adoptedGen().map(_._1).getOrElse(0L)

  /** The adopted generation's full identity — (watermark tx, repair
    * rev). A tail consumer MUST track both: a late-commit repair lands
    * a NEW generation at the SAME watermark (`gen_<tx>_r<k>`), so the
    * watermark alone cannot name a state.
    */
  def generation(): Option[(Long, Long)] =
    adoptedGenFull().map(g => (g._1, g._2))

  /** The view's OWN change feed: what changed between the retained
    * previous generation `(sinceTx, sinceRev)` — the state a tail
    * consumer already holds — and the adopted one, as
    * `_view_change_kind`-discriminated rows:
    *
    *  - `'upsert'` — the adopted generation's rows absent from the old
    *    one (new groups and changed aggregates; full replacement rows);
    *  - `'delete'` — the OLD rows of group keys absent from the adopted
    *    generation (every row of the group died).
    *
    * Apply protocol: drop the feed's group keys from the held copy,
    * union the upsert rows — the copy then equals `read()`
    * (spec-gated at every refresh of a live stream). Both sides are
    * ADOPTED generations (aggregate-sized parquet), so the diff is two
    * view-sized scans + one except/anti-join — never a base-table read:
    * at 100 TB the feed costs what the view weighs, not what the store
    * does.
    *
    * Retention contract: GC keeps ONE superseded generation (the
    * store's one-hop convention), so a consumer is guaranteed a diff
    * only from the immediately previous refresh. Falling two refreshes
    * behind fails LOUDLY — re-read the full view and restart the tail
    * from `generation()` (the cost of that resync is again only the
    * view's own size). Asking from the CURRENT generation returns an
    * empty feed.
    */
  def changesSinceGeneration(sinceTx: Long, sinceRev: Long = 0L): DataFrame = {
    val cur = adoptedGenFull().getOrElse(
      fail("no refreshed generation yet — call refresh() first"))
    changesBetween(sinceTx, sinceRev, cur._1, cur._2)
  }

  /** [[changesSinceGeneration]] with BOTH endpoints pinned — the
    * streaming tail's batch body ([[graft.sources.GraftViewStreamSource]]):
    * a micro-batch's `until` generation is its recorded offset, which a
    * refresh landing between the offset poll and the batch must not
    * move. Same retention contract as the public shape: either
    * endpoint GC'd fails loudly with the re-seed message; equal
    * endpoints return an empty feed.
    */
  private[graft] def changesBetween(sinceTx: Long, sinceRev: Long,
                                    untilTx: Long, untilRev: Long): DataFrame = {
    val gens = listGens().filter(_._4)
    val kind = "_view_change_kind"
    def dirOf(tx: Long, rev: Long): Path =
      gens.find(g => g._1 == tx && g._2 == rev).map(_._3).getOrElse(
        fail(s"generation (tx=$tx, rev=$rev) is " +
          s"${IncrementalView.NotRetainedMarker} " +
          "(one-hop GC keeps only the immediately superseded state) — " +
          "re-read the full view and restart the tail from generation()"))
    val next = genPins.read(spark, path, Seq(dirOf(untilTx, untilRev).toString))
    if ((untilTx, untilRev) == ((sinceTx, sinceRev)))
      return next.where(org.apache.spark.sql.functions.lit(false))
        .withColumn(kind, org.apache.spark.sql.functions.lit(""))
    val old = genPins.read(spark, path, Seq(dirOf(sinceTx, sinceRev).toString))
    // NULL-SAFE delete detection (nullSafeGroupCond — the refresh's
    // joins share the same definition); except() on the upsert side is
    // set-semantics null-safe already
    val nextKeys = next.select(groupNames.map(col).toIndexedSeq: _*)
      .distinct().alias("nk")
    next.except(old)
      .withColumn(kind, org.apache.spark.sql.functions.lit("upsert"))
      .unionByName(old.join(nextKeys, nullSafeGroupCond(old, "nk"), "left_anti")
        .withColumn(kind, org.apache.spark.sql.functions.lit("delete")))
  }

  /** Read one PINNED adopted generation (not necessarily the current
    * one) — the streaming tail's self-seed batch: on recovery the
    * engine replays batch 0 against its recorded offset, which must
    * resolve to the SAME rows or fail loudly, never silently re-seed
    * from a newer state.
    */
  private[graft] def readGeneration(tx: Long, rev: Long): DataFrame =
    listGens().filter(_._4).find(g => g._1 == tx && g._2 == rev)
      .map(g => genPins.read(spark, path, Seq(g._3.toString)))
      .getOrElse(fail(s"generation (tx=$tx, rev=$rev) is " +
        s"${IncrementalView.NotRetainedMarker} " +
        "(one-hop GC keeps only the immediately superseded state) — " +
        "re-read the full view and restart the tail from generation()"))

  /** Bring the view up to the store's committed head; returns the new
    * watermark. No-ops when nothing committed since the last refresh.
    *
    * OUT-OF-ORDER COMMITTERS: tx ids are reserved before they journal,
    * so a LOWER id can commit after a higher one — a plain
    * "changes above the watermark" window would skip it forever. Each
    * generation therefore records the GAP RUNS (reserved-but-
    * uncommitted ids below its watermark) in a small meta file; the
    * next refresh checks the journal against them, treats any
    * newly-committed gap id as LATE, and widens the change window down
    * to it (re-touching a group twice is idempotent). A gap that was
    * summarized under a compact() floor before it could be verified —
    * or a generation missing its meta (torn write) — degrades to a
    * full recompute, never to silence.
    */
  def refresh(): Long = refresh(owner = "")

  /** [[refresh]] with the lock STAMPED by `owner` — the automated
    * single-maintainer recovery handle: a maintainer that can prove a
    * lock is its own dead prior incarnation's (same owner string, and
    * the owner's liveness domain admits one holder — e.g. one active
    * streaming query per checkpoint) may break exactly that lock via
    * [[breakLockIfOwner]] and retry. A lock stamped by anyone else —
    * or unstamped (a manual `refresh()`) — is never provably stale to
    * an automated breaker and must fail loudly instead.
    */
  private[graft] def refresh(owner: String): Long = {
    val f = fs
    f.mkdirs(new Path(path))
    val lock = new Path(path, "_refresh.lock")
    // acquisition and owner stamp are ONE atomic step (content rides
    // the creating link/rename): a hard kill leaves the lock absent or
    // stamped whole, never created-but-unstamped — an unstamped
    // leftover would wedge every later automated breakLockIfOwner
    // until a human ran breakStaleLock.
    if (!VersionedCandleStore.tryCreate(f, lock, owner.getBytes("UTF-8")))
      throw new IllegalStateException(s"another refresh holds $lock " +
        "(breakStaleLock() if its owner died hard)")
    try refreshLocked()
    finally { f.delete(lock, false); () }
  }

  /** Remove a `_refresh.lock` left by a refresher that died hard (finally
    * blocks never ran). Safe only when no live refresh is running — the
    * same contract as [[VersionedCandleStore.breakStaleLock]]. Returns
    * true if a lock was removed.
    */
  def breakStaleLock(): Boolean = {
    val f = fs
    sweepStampTmps(f)
    val lock = new Path(path, "_refresh.lock")
    f.exists(lock) && f.delete(lock, false)
  }

  /** Reclaim `._refresh.lock*` stamp temp files a hard-killed lock
    * acquisition left between its create and the atomic link/rename
    * ([[VersionedCandleStore.tryCreate]]'s content variant) — nothing
    * else ever deletes them (the lock delete targets only
    * `_refresh.lock`, the census skips dot-files). Age-gated well past
    * any real create→rename span so a LIVE acquisition's temp is never
    * swept from under it.
    */
  private def sweepStampTmps(f: FileSystem): Unit = {
    val root = new Path(path)
    if (!f.exists(root)) return
    val cutoff = System.currentTimeMillis() - 3600L * 1000
    f.listStatus(root)
      .filter(s => s.isFile && s.getPath.getName.startsWith("._refresh.lock") &&
        s.getModificationTime <= cutoff)
      .foreach(s => f.delete(s.getPath, false))
  }

  /** Break the `_refresh.lock` ONLY if it is stamped by `owner` —
    * proof of staleness for an automated breaker whose liveness domain
    * admits one holder per owner string (the streaming writer: Spark
    * runs one active query per checkpoint, so a lock carrying this
    * stream's own stamp can only be a dead prior incarnation's). A
    * foreign or unstamped lock — a concurrent manual `refresh()`, a
    * second stream wired to the same view — is possibly LIVE and is
    * left alone (returns false; the caller fails loudly).
    */
  private[graft] def breakLockIfOwner(owner: String): Boolean = {
    require(owner.nonEmpty, "breakLockIfOwner needs a non-empty owner stamp")
    val f = fs
    val lock = new Path(path, "_refresh.lock")
    if (!f.exists(lock)) return false
    val stamped = try {
      val in = f.open(lock)
      try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
    } catch { case _: java.io.IOException => return false }
    stamped == owner && f.delete(lock, false)
  }

  private def refreshLocked(): Long = {
    // ONE journal read pins the snapshot: head, the squash floor that
    // decides whether the change window still exists, and the
    // committed-id set the gate, the gap check, and (for content-derived
    // groups) the pre-image fold all ride
    val snapshot = store.journalSnapshot()
    val (floor, recents) = (snapshot.floor, snapshot.recents.map(_._1))
    val head = if (recents.nonEmpty) recents.max else floor
    if (head == 0L) return watermark() // nothing committed yet
    val current = adoptedGen()
    val meta = current.flatMap { case (_, dir) => readMeta(dir) }
    // late = ids committed NOW inside the last refresh's gap runs
    // (only decidable while every gap run sits above the squash floor)
    val late: Option[Seq[Long]] = (current, meta) match {
      case (Some((w, _)), Some(gaps)) if floor <= w =>
        if (gaps.exists(_._1 <= floor)) None // gap summarized — undecidable
        else Some(recents.toSeq.filter(id =>
          id <= w && gaps.exists(g => id >= g._1 && id <= g._2)))
      case _ => None
    }
    // no-op ONLY when the gen is current AND the gap check ran clean —
    // an undecidable late set (late == None) must fall through to the
    // full recompute, never silently no-op
    if (current.exists(_._1 >= head) && late.exists(_.isEmpty))
      return current.get._1
    val newHead = math.max(head, current.map(_._1).getOrElse(0L))

    val next: DataFrame = (current, late) match {
      case (Some((last, dir)), Some(lateIds)) if last >= floor =>
        // window (sinceTx, head] against the PINNED snapshot, widened
        // below any late commit (changesWindow is exclusive below).
        // Content-derived groups read the pre-image feed: the groups a
        // changed key LEAVES come from the superseded winners' content;
        // tombstone change rows contribute none (zeroed content)
        val sinceTx = lateIds.minOption.map(_ - 1).getOrElse(last)
        // the pre-image feed's checkpointed touched-key frame is OURS
        // to clean up (changesWindowPre's contract) — unpersisted in
        // the finally below alongside our own `touched`
        val (feed, preTouched) =
          if (contentGroups) {
            val (f, t) = store.changesWindowPre(sinceTx, head, snapshot,
              checkpointTouched = true)
            (if (f.columns.contains("_deleted"))
              f.where(col("_change_kind") === "preimage" || !col("_deleted"))
            else f, t)
          } else
            (store.changesWindow(sinceTx, head, floor, recents),
              Option.empty[DataFrame])
        // preTouched's protecting finally starts BEFORE our own
        // checkpoint call: a failure inside touched.localCheckpoint()
        // (a transient job error) must still free the pre-image feed's
        // checkpointed frame, not leak it per failed-and-retried refresh
        try {
          val touched = withGroups(feed)
            .select(groupNames.map(col).toIndexedSeq: _*).distinct()
            .localCheckpoint() // feeds the collect + two broadcast joins
          try {
            val maxPush = spark.conf.getOption("graft.view.pushdownMaxGroups")
              .map(_.toInt).getOrElse(1000)
            // bounded driver collect: cap + 1 rows, never O(groups).
            // (changesWindowPre applies the same cap-sample-isin idiom to
            // the pre-image fold's scan, keyed by PARTITION columns —
            // change the cap/fallback semantics in BOTH places.)
            val sample = touched.limit(maxPush + 1).collect()
            val base0 = store.scanAsOf(head)
            // isin pushdown on plain key-column groups: the semi-join
            // alone cannot prune the base scan's partitions; an IN-list
            // on market/code/candle_length can (safe under NULL groups:
            // plain key columns are non-null by the fold-key contract)
            val base =
              if (sample.length > maxPush) base0
              else plainKeyGroups.foldLeft(base0) { case (df, (g, keyCol)) =>
                val idx = groupNames.indexOf(g)
                val vals = sample.map(_.get(idx)).distinct.toSeq
                df.where(col(keyCol).isin(vals: _*))
              }
            val t = broadcast(touched).alias("t")
            val grouped = withGroups(base)
            val recomputed = aggregated(
              grouped.join(t, nullSafeGroupCond(grouped, "t"), "left_semi"))
            // the write lands in a FRESH generation dir (a same-watermark
            // repair bumps the repair rev) and GC retains the dir this
            // plan reads — no pinning needed
            val old = genPins.read(spark, path, Seq(dir.toString))
            writeGen(newHead, old
              .join(t, nullSafeGroupCond(old, "t"), "left_anti")
              .unionByName(recomputed), floor, recents)
          } finally org.apache.spark.sql.graft.ColumnBridge
            .unpersistCheckpoint(touched)
        } finally preTouched.foreach(
          org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpoint)
        return newHead
      case _ =>
        // first build; compact floor past the watermark; meta missing
        // or undecidable gaps: full recompute of the pinned snapshot
        aggregated(withGroups(store.scanAsOf(head)))
    }
    writeGen(newHead, next, floor, recents)
    newHead
  }

  /** Write the refresh result to a FRESH generation dir (`gen_<tx>`,
    * or `gen_<tx>_r<k>` when that name is taken — the late-commit
    * repair case), publish its gap-run meta, then GC: every other
    * generation is deleted EXCEPT the immediately superseded adopted
    * one, so (a) a torn write here never destroys adopted state, and
    * (b) a DataFrame resolved by `read()` before this refresh still
    * executes after it (one-hop retention, the store's compaction
    * convention).
    */
  private def writeGen(tx: Long, next: DataFrame, floor: Long,
                       recents: Array[Long]): Unit = {
    val prevAdopted = adoptedGen().map(_._2.getName)
    val taken = listGens().filter(_._1 == tx)
    val rev = if (taken.isEmpty) 0L else taken.map(_._2).max + 1L
    val genDir = new Path(path,
      if (rev == 0L) s"gen_$tx" else s"gen_${tx}_r$rev")
    next.write.mode("overwrite").parquet(genDir.toString)
    writeMeta(genDir, gapRuns(floor, tx, recents))
    // GC only AFTER the new generation is adopted; keep one hop back
    val keep = Set(genDir.getName) ++ prevAdopted
    listGens().foreach { case (_, _, dir, _) =>
      if (!keep.contains(dir.getName)) fs.delete(dir, true)
    }
  }

  /** The source store's directory — the DESCRIBE-shape pointer. */
  private[graft] def storeDir: String = store.path

  /** Metadata census for DESCRIBE-DETAIL-shape tooling: (watermark tx,
    * repair rev, generation count incl. torn ones, data-file count,
    * total bytes) — one recursive listing, no data read.
    */
  private[graft] def describeDetail(): (Long, Long, Int, Long, Long) = {
    val gens = listGens()
    val (w, r) = generation().getOrElse((0L, 0L))
    var files = 0L
    var bytes = 0L
    val f = fs
    gens.foreach { case (_, _, dir, _) =>
      ForkFreeLocalFs.filesUnder(f, dir).foreach { s =>
        // DATA files only, as documented: `_SUCCESS` markers and the
        // gap-run meta would otherwise inflate the reported census
        val n = s.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) {
          files += 1; bytes += s.getLen
        }
      }
    }
    (w, r, gens.length, files, bytes)
  }

  /** Remove generation directories a crash-interrupted refresh left
    * behind: everything except the adopted generation and its
    * immediately superseded adopted predecessor — exactly the sweep a
    * successful refresh's GC runs, made available WITHOUT a refresh
    * (a torn `gen_*` otherwise lingers until the next refresh).
    * ACQUIRES the `_refresh.lock` for the sweep's duration — an
    * exists() probe alone would be a TOCTOU hole: a refresh acquiring
    * the lock right after the probe would have its in-flight (not yet
    * `_SUCCESS`-gated) generation classified as torn and deleted under
    * the writer. Returns the number of directories removed.
    */
  def vacuumGenerations(): Int = {
    val f = fs
    f.mkdirs(new Path(path))
    sweepStampTmps(f)
    val lock = new Path(path, "_refresh.lock")
    if (!VersionedCandleStore.tryCreate(f, lock))
      throw new IllegalStateException(s"a refresh holds $lock — vacuum " +
        "would race its generation GC (breakStaleLock() if its owner " +
        "died hard)")
    try {
      // ONE listing serves both the keep-set and the victim scan — we
      // hold the lock, so the state cannot move under us, and the
      // exclusion window stays as short as the deletes themselves
      val gens = listGens()
      val keep = gens.filter(_._4).sortBy(g => (g._1, g._2))
        .takeRight(2).map(_._3.getName).toSet
      val victims = gens.filterNot(g => keep.contains(g._3.getName))
      victims.foreach(g => f.delete(g._3, true))
      victims.length
    } finally { f.delete(lock, false); () }
  }

  /** Maximal runs of ids in (floor, watermark] NOT committed at
    * snapshot time — reserved-but-unjournaled ids a later refresh must
    * watch for. O(#gap runs), typically empty.
    */
  private def gapRuns(floor: Long, watermark: Long,
                      recents: Array[Long]): Seq[(Long, Long)] = {
    val runs = Seq.newBuilder[(Long, Long)]
    var expect = floor + 1
    recents.iterator.takeWhile(_ <= watermark).foreach { id =>
      if (id > expect) runs += ((expect, id - 1))
      expect = id + 1
    }
    if (expect <= watermark) runs += ((expect, watermark))
    runs.result()
  }

  private def metaPath(genDir: Path) = new Path(genDir, "_graft_view_meta.json")

  private def writeMeta(genDir: Path, gaps: Seq[(Long, Long)]): Unit = {
    val json = gaps.map { case (lo, hi) => s"[$lo,$hi]" }
      .mkString("""{"gaps":[""", ",", "]}")
    val out = fs.create(metaPath(genDir), true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  /** The generation's recorded gap runs; None for a torn/legacy gen
    * (treated as undecidable → full recompute).
    */
  private def readMeta(genDir: Path): Option[Seq[(Long, Long)]] = {
    val p = metaPath(genDir)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val raw = try new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
    finally in.close()
    val pairs = """\[(-?\d+),(-?\d+)\]""".r
      .findAllMatchIn(raw.dropWhile(_ != '[').drop(1))
      .map(m => (m.group(1).toLong, m.group(2).toLong)).toSeq
    Some(pairs)
  }
}

/** PERSISTED view definitions — what makes a view a first-class
  * catalog object instead of a Scala-session construct: `create` stamps
  * `_graft_view.json` (source-store location + group/aggregate
  * expression SQL) into the view directory, `open` reconstructs the
  * live [[IncrementalView]] from it, and the SQL surface
  * (`CALL <cat>.system.{create_view, refresh_view, view_watermark}` +
  * the catalog's readable view table) rides exactly these two.
  *
  * The store pointer is persisted as the ABSOLUTE directory (the
  * Delta-metastore convention): renaming/moving the SOURCE store
  * orphans its views loudly (`open` fails with the missing path),
  * re-create the view to re-point it. Expressions are persisted as SQL
  * text and re-parsed by the session parser at `open` — the engine's
  * own round-trip, no custom serializer.
  */
object IncrementalView {

  private[graft] val DefFile = "_graft_view.json"

  /** The retention-miss marker both GC-refusal messages carry and the
    * `graft-view` stream's restart re-init keys on
    * ([[graft.sources.GraftViewStreamSource]] defers exactly these to
    * execution) — ONE constant, so the load-bearing coupling can never
    * drift apart through a rewording.
    */
  private[graft] val NotRetainedMarker = "not retained"

  /** True iff `p` is a view directory — the catalog's table-vs-view
    * predicate. A complete `_graft_view.json.new` counts too: a
    * [[repoint]] crashed between its delete and its rename must leave
    * the view resolvable (readable through [[readDefNode]]'s fallback,
    * finishable by a repoint re-CALL), not demoted to a foreign dir.
    * Cost note: the second `exists` fires only when the first misses —
    * store dirs short-circuit before this predicate (`isTableDir`'s
    * `looksLikeStore ||`) and view dirs on the first check, so only
    * foreign/missing dirs (refusal paths, mixed listings) pay the
    * extra round-trip.
    */
  private[graft] def isViewDir(f: FileSystem, p: Path): Boolean =
    f.exists(new Path(p, DefFile)) || f.exists(new Path(p, DefFile + ".new"))

  /** Validate + persist a definition, then return the (unrefreshed)
    * view. Fails loudly on: empty/duplicate output names, group
    * expressions that do not analyze against the store, aggregate
    * expressions that are not aggregates (Spark's own analysis error),
    * or an existing definition at `viewDir` (re-create = DROP first —
    * an accidental overwrite would silently re-point a live view).
    */
  private[graft] def create(spark: SparkSession, viewDir: String,
                            store: VersionedCandleStore,
                            groups: Seq[(String, String)],
                            aggs: Seq[String]): IncrementalView = {
    def fail(msg: String): Nothing = defFail(s"create view $viewDir", msg)
    val view = validated(spark, viewDir, store, groups, aggs,
      s"create view $viewDir")
    val p = new Path(viewDir)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (isViewDir(f, p)) // a crashed-repoint `.new` counts as a def too
      fail("a view definition already exists here — DROP it first " +
        "(overwriting would silently re-point a live view)")
    persistDef(f, p, store.path, groups, aggs)
    view
  }

  /** CREATE OR REPLACE: validate the NEW definition FIRST (nothing of
    * the old view is touched when the replacement would refuse), then
    * drop the old view wholesale — definition AND generations, which
    * were computed under the old definition and would be silently wrong
    * under the new one — and persist the replacement (the caller runs
    * the first refresh). `viewDir` must be free or hold a VIEW — a
    * store/foreign dir refuses rather than getting clobbered.
    *
    * Every crash point is RE-ISSUABLE: generations are deleted before
    * the definition files (while any definition survives the dir still
    * resolves as a view, so a re-issued REPLACE re-enters this path),
    * and once the definitions are gone the dir is empty — which the
    * catalog's create guard treats as free. No intermediate state is
    * stuck behind a refusal.
    */
  private[graft] def replace(spark: SparkSession, viewDir: String,
                             store: VersionedCandleStore,
                             groups: Seq[(String, String)],
                             aggs: Seq[String]): IncrementalView = {
    val view = validated(spark, viewDir, store, groups, aggs,
      s"replace view $viewDir")
    val p = new Path(viewDir)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (f.exists(p)) {
      if (!isViewDir(f, p))
        defFail(s"replace view $viewDir", "the existing directory is " +
          "not an incremental view — OR REPLACE only replaces views")
      // definition files LAST — see the re-issuability note above
      val defNames = Set(DefFile, DefFile + ".tmp", DefFile + ".new")
      f.listStatus(p).filterNot(st => defNames(st.getPath.getName))
        .foreach(st => f.delete(st.getPath, true))
      Seq(DefFile + ".tmp", DefFile + ".new", DefFile).foreach { n =>
        val dp = new Path(p, n)
        if (f.exists(dp)) { f.delete(dp, false); () }
      }
    }
    persistDef(f, p, store.path, groups, aggs)
    view
  }

  /** Re-point a view whose SOURCE STORE was moved/renamed to the
    * store's new location, KEEPING the adopted generations and
    * watermark (the alternative — re-create — loses the maintained
    * state). Guards, each loud: the target must be a graft-vstore, the
    * persisted definition must analyze against it, and the view's
    * watermark must still be servable from the target's journal
    * (`squash floor <= watermark <= head`) — a journal that cannot
    * serve the next change window refuses instead of silently feeding
    * the next refresh garbage. The guard is TX-COUNTER consistency,
    * not store identity: a DIFFERENT store whose journal happens to
    * cover the watermark passes it, exactly like re-pointing any
    * path-addressed metastore entry — pointing at the same data is the
    * caller's contract.
    *
    * Definition replacement keeps the INVARIANT "at least one COMPLETE
    * definition exists at `_graft_view.json` or `.new`" through every
    * crash point. The content is first written whole to a third name
    * (`.tmp` — never read by anyone; a stale/torn one is swept and
    * rewritten), then: in the recovery state (no main file, `.new` is
    * the sole copy — a prior repoint crashed) tmp renames DIRECTLY to
    * main and the stale `.new` is swept, so the sole surviving copy is
    * never deleted first; in the normal state any stale `.new` is
    * swept (main still covers), tmp renames to `.new` (complete), main
    * is deleted (`.new` covers via [[readDefNode]]'s fallback), `.new`
    * renames to main. Reads work and a re-CALL completes the move from
    * every intermediate state.
    *
    * Returns the (unchanged) watermark the re-pointed view reflects.
    */
  private[graft] def repoint(spark: SparkSession, viewDir: String,
                             newStoreDir: String): Long = {
    def fail(msg: String): Nothing = defFail(s"repoint view $viewDir", msg)
    val p = new Path(viewDir)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = readDefNode(f, p).getOrElse(
      fail(s"not a graft view (no $DefFile)"))
    val sp = new Path(newStoreDir)
    val sf = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!sf.exists(sp) || !VersionedCandleStore.looksLikeStore(sf, sp))
      fail(s"$newStoreDir is not a graft-vstore")
    val groups = defGroups(root)
    val aggs = defAggs(root)
    val store = VersionedCandleStore(spark, newStoreDir)
    val view = validated(spark, viewDir, store, groups, aggs,
      s"repoint view $viewDir")
    val w = view.watermark()
    if (w > 0) {
      val head = store.latestTxId
      val floor = store.squashFloorTxId
      if (head < w || floor > w)
        fail(s"the view's watermark $w is not servable from " +
          s"$newStoreDir's journal (head $head, squash floor $floor) — " +
          "repoint targets the SAME store at a new location; for a " +
          "different store, re-create the view")
    }
    val defPath = new Path(p, DefFile)
    val recovery = new Path(p, DefFile + ".new")
    val tmp = new Path(p, DefFile + ".tmp")
    if (f.exists(tmp)) { f.delete(tmp, false); () }
    val out = f.create(tmp, false)
    try out.write(defBytes(newStoreDir, groups, aggs))
    finally out.close()
    if (!f.exists(defPath)) {
      // recovery state: `.new` is the SOLE copy — never delete it
      // before main exists again
      if (!f.rename(tmp, defPath)) fail(s"rename $tmp -> $defPath failed")
      if (f.exists(recovery)) { f.delete(recovery, false); () }
    } else {
      if (f.exists(recovery)) { f.delete(recovery, false); () }
      if (!f.rename(tmp, recovery)) fail(s"rename $tmp -> $recovery failed")
      f.delete(defPath, false)
      if (!f.rename(recovery, defPath))
        fail(s"rename $recovery -> $defPath failed")
    }
    w
  }

  private def defFail(what: String, msg: String): Nothing =
    throw new AnalysisException(
      errorClass = "_LEGACY_ERROR_TEMP_0035",
      messageParameters = Map("message" -> s"$what: $msg"))

  /** Name rules + eager analysis against `store` — everything `create`
    * gates EXCEPT persistence; returns the constructed (unpersisted)
    * view. Shared by create / replace / repoint so a definition can
    * never land through one door the others would refuse.
    */
  private def validated(spark: SparkSession, viewDir: String,
                        store: VersionedCandleStore,
                        groups: Seq[(String, String)],
                        aggs: Seq[String], what: String): IncrementalView = {
    def fail(msg: String): Nothing = defFail(what, msg)
    if (groups.isEmpty) fail("at least one group expression (GROUP BY " +
      "nothing would be a single-row summary — use a plain query)")
    if (aggs.isEmpty) fail("at least one aggregate expression")
    val aggNames = aggs.map(a => parseAlias(spark, a).getOrElse(
      fail(s"every aggregate needs an explicit alias — write '… AS name'; got: $a")))
    val names = groups.map(_._1) ++ aggNames
    val dups = names.groupBy(_.toLowerCase).collect {
      case (n, as) if as.length > 1 => n
    }
    if (dups.nonEmpty)
      fail(s"duplicate output column(s): ${dups.toSeq.sorted.mkString(", ")}")
    // reserved: the change feed's discriminator — a view output of this
    // name would be silently clobbered by changesSinceGeneration's
    // withColumn, corrupting both the feed rows and the apply protocol
    names.find(_.equalsIgnoreCase("_view_change_kind")).foreach(n =>
      fail(s"output name '$n' is reserved for the view change feed's " +
        "discriminator column — pick another alias"))
    val view = new IncrementalView(spark, viewDir, store,
      groups.map { case (n, e) => n -> expr(e) }, aggs.map(expr))
    view.definitionSchema // force analysis: the definition validity gate
    view
  }

  private def defBytes(storeDir: String, groups: Seq[(String, String)],
                       aggs: Seq[String]): Array[Byte] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    root.put("store", storeDir)
    val g = root.putArray("groups")
    groups.foreach { case (n, e) =>
      val pair = g.addArray(); pair.add(n); pair.add(e); ()
    }
    val ag = root.putArray("aggs")
    aggs.foreach(ag.add)
    m.writeValueAsString(root).getBytes("UTF-8")
  }

  private def persistDef(f: FileSystem, p: Path, storeDir: String,
                         groups: Seq[(String, String)],
                         aggs: Seq[String]): Unit = {
    f.mkdirs(p)
    val out = f.create(new Path(p, DefFile), false) // no silent overwrite
    try out.write(defBytes(storeDir, groups, aggs))
    finally out.close()
  }

  /** Reconstruct a persisted view. Fails loudly on a missing/torn
    * definition or a missing source store. Reads through
    * [[readDefNode]], so a view whose repoint crashed between delete
    * and rename (complete `.new`, no main file) still opens — against
    * the validated new definition.
    */
  private[graft] def open(spark: SparkSession, viewDir: String): IncrementalView = {
    val p = new Path(viewDir)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = readDefNode(f, p).getOrElse(
      throw new AnalysisException(
        errorClass = "_LEGACY_ERROR_TEMP_0035",
        messageParameters = Map("message" ->
          s"$viewDir is not a graft view (no $DefFile)")))
    val storeDir = root.get("store").asText()
    val sp = new Path(storeDir)
    val sf = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!sf.exists(sp) || !VersionedCandleStore.looksLikeStore(sf, sp))
      throw new AnalysisException(
        errorClass = "_LEGACY_ERROR_TEMP_0035",
        messageParameters = Map("message" ->
          (s"view $viewDir: source store $storeDir is missing or not a " +
            "graft-vstore (moved/renamed stores orphan their views — " +
            "CALL repoint_view to re-point a MOVED store, or re-create " +
            "the view)")))
    new IncrementalView(spark, viewDir, VersionedCandleStore(spark, storeDir),
      defGroups(root).map { case (n, e) => n -> expr(e) },
      defAggs(root).map(expr))
  }

  /** The adopted watermark of a persisted view WITHOUT touching its
    * source store (construction is fs-lazy; `watermark()` reads only
    * the generation listing): `create_view`'s IF NOT EXISTS mode
    * reports an existing — possibly ORPHANED — view untouched, and
    * failing on a store it is not going to read would make the
    * idempotent form non-idempotent exactly while the operator is
    * mid-move.
    */
  private[graft] def adoptedWatermark(spark: SparkSession,
                                      viewDir: String): Long = {
    val p = new Path(viewDir)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = readDefNode(f, p).getOrElse(defFail(s"view $viewDir",
      s"not a graft view (no $DefFile)"))
    new IncrementalView(spark, viewDir,
      VersionedCandleStore(spark, root.get("store").asText()),
      defGroups(root).map { case (n, e) => n -> expr(e) },
      defAggs(root).map(expr)).watermark()
  }

  private def parseDef(f: FileSystem,
                       defPath: Path): com.fasterxml.jackson.databind.JsonNode = {
    val in = f.open(defPath)
    val raw = try new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
    finally in.close()
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(raw)
  }

  /** The view's persisted definition, or None when absent. Falls back
    * to a complete `_graft_view.json.new` left by a repoint crashed
    * between its delete and its rename — [[repoint]]'s recovery door
    * (the `.new` is always written WHOLE before the old file is
    * touched, so a parseable fallback is never torn).
    */
  private def readDefNode(f: FileSystem,
                          p: Path): Option[com.fasterxml.jackson.databind.JsonNode] = {
    val main = new Path(p, DefFile)
    val recovery = new Path(p, DefFile + ".new")
    if (f.exists(main)) Some(parseDef(f, main))
    else if (f.exists(recovery)) Some(parseDef(f, recovery))
    else None
  }

  private def defGroups(
      root: com.fasterxml.jackson.databind.JsonNode): Seq[(String, String)] = {
    val g = root.get("groups")
    (0 until g.size()).map { i =>
      val pair = g.get(i)
      pair.get(0).asText() -> pair.get(1).asText()
    }
  }

  private def defAggs(root: com.fasterxml.jackson.databind.JsonNode): Seq[String] = {
    val a = root.get("aggs")
    (0 until a.size()).map(i => a.get(i).asText())
  }

  /** Parse a comma-separated GROUP BY list (`"code, to_date(ts) AS
    * day"`) into (name, alias-free expression SQL) pairs: a bare
    * column names itself, anything else needs an explicit `AS`. The
    * alias-free text is what gets persisted — the refresh pruning
    * probe must see the raw expression, not an alias wrapper.
    */
  private[graft] def parseGroupList(spark: SparkSession,
                                    sql: String): Seq[(String, String)] =
    splitTopLevel(sql).map { piece =>
      parseExpr(spark, piece) match {
        case a: org.apache.spark.sql.catalyst.expressions.Alias =>
          a.name -> a.child.sql
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            if u.nameParts.length == 1 =>
          u.nameParts.head -> piece.trim
        case _ => throw new AnalysisException(
          errorClass = "_LEGACY_ERROR_TEMP_0035",
          messageParameters = Map("message" ->
            (s"group expression needs an explicit alias — write " +
              s"'<expr> AS name'; got: ${piece.trim}")))
      }
    }

  /** Parse a comma-separated aggregate list; every entry keeps its
    * full `expr AS name` text (the alias is the output column).
    */
  private[graft] def parseAggList(spark: SparkSession, sql: String): Seq[String] =
    splitTopLevel(sql).map(_.trim)

  /** The piece's alias name, if it parses to one (bare columns name
    * themselves).
    */
  private def parseAlias(spark: SparkSession, piece: String): Option[String] =
    parseExpr(spark, piece) match {
      case a: org.apache.spark.sql.catalyst.expressions.Alias => Some(a.name)
      case _ => None
    }

  private def parseExpr(spark: SparkSession,
                        s: String): org.apache.spark.sql.catalyst.expressions.Expression =
    spark.sessionState.sqlParser.parseExpression(s)

  /** Split on TOP-LEVEL commas only — parens and quoted strings
    * (single, double, backtick; '' doubling inside) protect theirs.
    * Loud on imbalance and empty pieces.
    */
  private[graft] def splitTopLevel(sql: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    var quote: Char = 0
    var i = 0
    while (i < sql.length) {
      val ch = sql.charAt(i)
      if (quote != 0) {
        cur += ch
        if (ch == quote) {
          // '' / "" doubling stays inside the literal
          if (i + 1 < sql.length && sql.charAt(i + 1) == quote && quote != '`') {
            cur += quote; i += 1
          } else quote = 0
        }
      } else ch match {
        case '\'' | '"' | '`' => quote = ch; cur += ch
        case '(' => depth += 1; cur += ch
        case ')' => depth -= 1; cur += ch
        case ',' if depth == 0 => out += cur.toString; cur.clear()
        case c => cur += c
      }
      i += 1
    }
    out += cur.toString
    val pieces = out.result().map(_.trim)
    def fail(msg: String): Nothing =
      throw new AnalysisException(
        errorClass = "_LEGACY_ERROR_TEMP_0035",
        messageParameters = Map("message" -> s"$msg in expression list: $sql"))
    if (depth != 0) fail("unbalanced parentheses")
    if (quote != 0) fail("unterminated quote")
    if (pieces.exists(_.isEmpty)) fail("empty expression")
    pieces
  }
}
