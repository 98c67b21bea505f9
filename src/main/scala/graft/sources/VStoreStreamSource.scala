package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.types.StructType

import graft.store.VersionedCandleStore

/** Structured-Streaming tail of a [[VersionedCandleStore]] change feed:
  *
  * {{{
  * spark.readStream.format("graft-vstore")
  *   .option("changesSince", 0)        // start tx (exclusive); default 0
  *   .option("maxTxsPerBatch", 100)    // optional micro-batch pacing
  *   .load(path)
  * }}}
  *
  * Offsets ARE transaction ids — the journal is the offset log, so a
  * micro-batch `(a, b]` is exactly [[VersionedCandleStore.changesSince]]
  * of that window: deterministic on replay (checkpoint recovery re-reads
  * the same journal window), unfolded rows with `tx_id` stamps. Together
  * with `Ingest.startVersionedIngest` this closes the loop: streams
  * write the store one journaled tx per micro-batch, and downstream
  * pipelines tail those same txs as a stream.
  *
  * Single-serialized-committer assumption (the reference's WAL reader
  * makes the same one): the offset is the journal's MAX committed tx, so
  * under CONCURRENT batch committers a lower tx could journal after a
  * higher one was already emitted. The source ENFORCES the assumption
  * instead of silently skipping such a tx: every poll diffs the
  * committed ids at-or-below the emitted offset against the snapshot the
  * last batch delivered, and a late arrival FAILS the query loudly (the
  * store's posture everywhere). Streaming ingest — one writer, one tx
  * per micro-batch — satisfies the assumption by construction. Replaying
  * a window squashed by `compact()` fails loudly too (changesSince's
  * floor guard).
  */
final class VStoreStreamSource(sqlContext: SQLContext, path: String,
                               startTx: Long, maxTxsPerBatch: Option[Long],
                               preImage: Boolean = false)
  extends Source {

  private val store = VersionedCandleStore(sqlContext.sparkSession, path)

  // pinned at query start: a store that gains its FIRST tombstone
  // mid-stream widens the feed by `_deleted`, which a running query's
  // fixed schema cannot absorb — getBatch fails loudly then (restart
  // picks the widened schema up). `preImage` widens by `_change_kind`:
  // each micro-batch (a, b] then carries one window-START pre-image
  // per key it touches (changesWindowPreTail) — deterministic on
  // replay like the plain window (same journal, same offsets).
  override val schema: StructType =
    if (preImage) store.changeFeedPreSchema else store.changeFeedSchema

  /** Highest tx already handed to the engine — seeds micro-batch pacing.
    * Recovery keeps it monotone: the engine replays the pending batch
    * (getBatch) and/or acks committed offsets (commit) before polling
    * getOffset, and both paths raise this watermark.
    */
  @volatile private var known: Long = startTx

  /** Incremental committed-set view: O(#gap runs) driver memory for the
    * life of the query (never a per-delivered-id set) and a steady-state
    * poll is one journal-directory listing, not an O(total commits)
    * collect — see [[VersionedCandleStore.JournalView]]. Its seeding
    * poll reports nothing new, preserving the documented blind spot: a
    * violation that happened entirely while the query was down is
    * indistinguishable from history and not detectable.
    */
  private val journal = store.newJournalView()

  private def offsetValue(o: V1Offset): Long = o match {
    case lo: LongOffset => lo.offset
    case other => other.json.trim.toLong
  }

  /** The loud-fail check: a NEWLY observed committed id inside the
    * already-delivered region means a concurrent committer journaled
    * out of order — its rows would otherwise be skipped silently
    * forever. (Ids the view already knew were delivered by an earlier
    * batch; the view never forgets, so "new and ≤ the delivered
    * watermark" is exactly "no batch delivered it".)
    */
  private def failOnLateCommit(newSegs: Array[(Long, Long)], below: Long): Unit = {
    // the view reports novel COMMITTED ranges as closed segments (see
    // JournalView.poll) — a segment starting at or below the delivered
    // watermark is the violation, clipped for the message
    val late = newSegs.collect {
      case (lo, hi) if lo <= below => (lo, math.min(hi, below))
    }
    if (late.nonEmpty)
      throw new IllegalStateException(
        s"tx ${late.map { case (l, h) => if (l == h) s"$l" else s"$l-$h" }
          .mkString(",")} journaled at or below the already-emitted " +
          s"offset $below: concurrent committers violate this stream's " +
          "single-serialized-committer assumption; restart the tail from an " +
          "earlier changesSince to re-deliver")
  }

  override def getOffset: Option[V1Offset] = {
    failOnLateCommit(journal.poll(), known)
    val latest = journal.maxCommitted
    val capped = maxTxsPerBatch match {
      case Some(m) => math.min(latest, math.max(known, startTx) + m)
      case None => latest
    }
    if (capped <= startTx) None else Some(LongOffset(capped))
  }

  /** The previous pre-image batch's checkpointed touched-key frame —
    * unpersisted once that batch is done (next getBatch, commit, or
    * stop): micro-batches execute serially, so by the time any of
    * those fire the frame's last reader has run.
    */
  @volatile private var pendingTouched: Option[DataFrame] = None

  private def releaseTouched(): Unit = {
    pendingTouched.foreach(
      org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpoint)
    pendingTouched = None
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val from = start.map(offsetValue).getOrElse(startTx)
    val until = offsetValue(end)
    // Poll against `from`, the window's start: a late tx landing between
    // getOffset and this call must fail here, not be absorbed as if
    // delivered (an id ≤ from is NOT in this batch's frame); an id in
    // (from, until] IS delivered by this very batch, so it never flags.
    failOnLateCommit(journal.poll(), from)
    if (until > known) known = until
    val frame =
      if (preImage) {
        releaseTouched() // the previous batch has finished executing
        val (f, touched) = store.changesWindowPreTail(from, until, journal)
        pendingTouched = touched
        f
      } else store.changesWindow(from, until, journal.floorTx,
        journal.admittedIn(from, until))
    if (frame.schema.fieldNames.toSeq != schema.fieldNames.toSeq)
      throw new IllegalStateException(
        s"graft-vstore stream at $path: the store gained tombstone " +
          "deletes after this query started — the change feed now " +
          "carries `_deleted`, which this query's pinned schema cannot " +
          "absorb (silently dropping it would feed deletions as zeroed " +
          "updates). Restart the query to adopt the widened schema.")
    // the engine asserts isStreaming on the returned frame
    org.apache.spark.sql.graft.ColumnBridge.asStreaming(
      sqlContext.sparkSession, frame)
  }

  override def commit(end: V1Offset): Unit = {
    val v = offsetValue(end)
    if (v > known) known = v
    releaseTouched()
  }

  override def stop(): Unit = releaseTouched()
}

object VStoreStreamSource
