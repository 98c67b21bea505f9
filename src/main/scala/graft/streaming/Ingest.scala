package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.store.{CandleStore, PinnedRead}

/** Structured-Streaming ingest: the Spark-native replacement for the
  * reference's WAL pipeline (SURVEY.md §2.3).
  *
  * Mapping (reference → here):
  *  - WAL append + tx counter (`wal/file.go:37-48`, `wal/counter.go`) →
  *    the streaming checkpoint/offset log + monotonic `batchId`;
  *  - committed-only replay (`wal/reader.go:29-75`, `flusher.go:93-131`)
  *    → `foreachBatch` exactly-once: a batch either commits its offsets
  *    or is re-run, and the upsert is idempotent so re-runs converge;
  *  - group-flush/compaction (`wal/wal.go:81-135`) → micro-batch
  *    triggers + dynamic partition overwrite in `CandleStore.upsert`.
  *
  * Late data: the reference's batch path accepts arbitrarily late rows
  * (`page/page.go:66-71`). A watermark would drop them, so the DEFAULT
  * ingest applies no watermark and upserts whatever arrives (upsert
  * handles any past date). `dedupWithWatermark` is the bounded-state
  * variant for sources that need streaming-side dedup.
  */
object Ingest {

  /** The one query shape every ingest here starts: `body` runs once per
    * micro-batch under `foreachBatch` (one "transaction" per batch, the
    * reference's `Database.Execute`, `database/database.go:27-51`),
    * offsets checkpoint under `checkpointDir`, and the engine owns the
    * `trigger`.
    */
  private def startForeachBatch(stream: DataFrame, checkpointDir: String,
                                trigger: Trigger)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(body)
      .trigger(trigger)
      .start()

  /** The maintenance cadence of the multi-batch ingests: true at every
    * `every`-th batch boundary after the first, where a compaction,
    * re-train or re-shard over the strictly-earlier batches `[0,
    * batchId)` runs BEFORE the batch (so a retry of this very batch
    * never sees its own state). `every <= 0` never fires.
    */
  private def onCadence(every: Int, batchId: Long): Boolean =
    every > 0 && batchId > 0 && batchId % every == 0

  /** Pinned reads of substream state ([[graft.store.PinnedRead]]): the
    * multi-batch ingests re-read their substreams every micro-batch, and
    * every generation of one substream carries the same schema BY
    * CONSTRUCTION (one writer publishes each), so generation dirs and
    * globs (`.../<kind>/batch_*`, `.../<kind>/compact_upto_*`) pin on
    * their substream (parent) dir; any other path pins on itself — two
    * children of one parent must never alias each other's schema. A
    * fresh fixture world gets fresh dirs, so a key never names two states.
    */
  private[graft] def pinnedRead(spark: org.apache.spark.sql.SparkSession,
                                paths: Seq[String]): DataFrame =
    PinnedRead.read(spark, pinKey(paths.head), paths)

  /** Every generation of one state substream — the newest complete
    * `compact_upto_<k>` and the batches after it, as [[historyDirs]]
    * lists them — in one read pinned on the substream dir. Reading the
    * listed dirs rather than a `batch_*` glob keeps compacted history in
    * the answer, and keeps Spark from probing the glob as a file-sink
    * `_spark_metadata` dir (a WARN with a full stack per read).
    */
  private[graft] def readSubstream(spark: org.apache.spark.sql.SparkSession,
                                   stateDir: String, sub: String): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
    val dirs = historyDirs(fs, stateDir, sub, Long.MaxValue)
    require(dirs.nonEmpty, s"no $sub state under $stateDir")
    pinnedRead(spark, dirs)
  }

  private def pinKey(p: String): String = {
    val path = new org.apache.hadoop.fs.Path(p)
    val n = path.getName
    if (n.startsWith("batch_") || n.startsWith("compact_upto_"))
      path.getParent.toString
    else p
  }

  /** Streaming dedup on the candle key with bounded state. */
  def dedupWithWatermark(stream: DataFrame, lateness: String = "1 hour"): DataFrame =
    stream
      .withWatermark("ts", lateness)
      .dropDuplicates(Seq("market", "code", "candle_length", "ts"))

  /** Late-data observability for the no-watermark ingest path (SURVEY.md
    * §7.3.1): one named accumulator per session counting rows older than
    * `lateHorizonSec` behind their batch's max event time — the rows a
    * watermark of that horizon would have DROPPED but the upsert path
    * accepts (`page/page.go:66-71` semantics). Pure metrics tap: the
    * ingest result is unchanged, the count is one extra aggregation on
    * the (already-materialized) micro-batch.
    */
  private val lateCounters =
    scala.collection.concurrent.TrieMap[org.apache.spark.SparkContext,
      org.apache.spark.util.LongAccumulator]()

  /** Keyed by SparkContext, not session: `foreachBatch` hands each batch
    * a CLONED session, and the metric must accumulate across batches.
    */
  def lateRowCounter(spark: org.apache.spark.sql.SparkSession): org.apache.spark.util.LongAccumulator =
    lateCounters.getOrElseUpdate(spark.sparkContext,
      spark.sparkContext.longAccumulator("graft.ingest.late_rows"))

  /** Micro-batch upsert ingest into a CandleStore. Each micro-batch is
    * one "transaction" (reference: `Database.Execute`,
    * `database/database.go:27-51`); idempotent upsert + checkpointed
    * offsets give exactly-once end-to-end.
    *
    * @param transform applied to each micro-batch before the upsert —
    *   e.g. tick→candle aggregation; runs inside the batch job, so the
    *   checkpoint still guards the whole pipeline.
    * @param lateHorizonSec when set, rows more than this many seconds
    *   behind their batch's max `ts` are counted into
    *   [[lateRowCounter]] (they are still ingested — metrics only).
    */
  def startUpsertIngest(stream: DataFrame, store: CandleStore,
                        checkpointDir: String,
                        trigger: Trigger = Trigger.AvailableNow(),
                        transform: DataFrame => DataFrame = identity,
                        lateHorizonSec: Option[Long] = None): StreamingQuery =
    startForeachBatch(stream, checkpointDir, trigger) { (batch, _) =>
      lateHorizonSec match {
        case None =>
          if (!batch.isEmpty) { store.upsert(transform(batch)); () }
        case Some(horizon) =>
          // foreachBatch frames re-execute their source plan per
          // action; persist while the metric + upsert both read it,
          // and fold the emptiness check into the max-ts aggregation
          // (null max == empty batch) instead of a separate isEmpty.
          batch.persist()
          try {
            val mxRow = batch.agg(max(unix_timestamp(col("ts")))).head()
            if (!mxRow.isNullAt(0)) {
              val n = batch
                .where(unix_timestamp(col("ts")) < mxRow.getLong(0) - horizon)
                .count()
              lateRowCounter(batch.sparkSession).add(n)
              store.upsert(transform(batch)); ()
            }
          } finally { batch.unpersist(); () }
      }
    }

  /** Micro-batch ingest into SEVERAL stores as ONE atomic cross-store
    * transaction per micro-batch — the streaming shape of the
    * reference's multi-command tx (`database/database.go:27-51`,
    * `Execute` commits a command list under one WAL tx). Each batch
    * runs [[graft.store.CrossStoreTx.execute]] with the tx name
    * `"$namePrefix-$batchId"`, so a foreachBatch retry of an
    * already-committed batch replays by name (exactly-once on EVERY
    * store) and a crash between the stores rolls forward on restart:
    * call [[graft.store.CrossStoreTx.recover]](coordDir) before
    * restarting the query — or rely on the next batch's execute, which
    * recovers first by contract.
    *
    * `ops` builds the per-batch op list from the transformed batch —
    * e.g. a raw-tick append to a versioned store AND the candle
    * aggregate upsert to a plain store, atomically visible together.
    * The query checkpoints under `coordDir/_ckpt_<namePrefix>`.
    */
  def startCrossStoreIngest(stream: DataFrame, coordDir: String,
                            namePrefix: String,
                            ops: DataFrame => Seq[graft.store.CrossStoreTx.Op],
                            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startForeachBatch(stream, s"$coordDir/_ckpt_$namePrefix", trigger) {
      (batch, batchId) =>
        if (!batch.isEmpty) {
          val b = batch.localCheckpoint() // read once per op, not per plan
          graft.store.CrossStoreTx.execute(batch.sparkSession, coordDir,
            s"$namePrefix-$batchId", ops(b))
          // bound the coordinator log: a foreachBatch restart replays at
          // most THIS batch, so every earlier batch's retired marker can
          // go (their GC'd ids fold into the horizon file — a too-deep
          // replay is refused loudly, never silently re-executed). Keeps
          // execute()'s recover listing O(pending), not O(total batches).
          // HORIZON-ONLY (retainMs = ∞): the ingest GC's exactly its own
          // prefix's provably-unreplayable batches — an age sweep here
          // could drop a DIFFERENT stream's (or a manual tx's) last
          // marker in a shared coordinator dir while that stream idles,
          // turning its in-contract replay into a refusal. Each ingest
          // bounds its own prefix; free-form names are the operator's
          // vacuumRetired(retainMs) call.
          graft.store.CrossStoreTx.vacuumRetired(batch.sparkSession,
            coordDir, retainMs = Long.MaxValue,
            batchHorizon = Some((namePrefix, batchId)))
          ()
        }
    }

  /** Micro-batch ingest into a [[graft.store.VersionedCandleStore]]:
    * each micro-batch becomes ONE journaled transaction, so streaming
    * ingest produces time-travelable history — the reference's WAL *is*
    * its streaming ingest (`wal/file.go:37-48`: every record carries a
    * tx envelope), and here every micro-batch carries one. Exactly-once
    * in the history too, not just the final state: the micro-batch id
    * rides along as the journal's `batch_id`, so a `foreachBatch` retry
    * of an already-committed batch is a no-op returning the prior tx
    * (see `VersionedCandleStore.commit`) instead of minting a phantom
    * transaction.
    *
    * `views`: incrementally-maintained aggregate views over the SAME
    * store refresh in-loop after every committed batch — a streamed
    * store's views stay fresh without an external driver, and each
    * refresh reads only the new batch's touched groups off the change
    * feed.
    */
  def startVersionedIngest(stream: DataFrame,
                           store: graft.store.VersionedCandleStore,
                           checkpointDir: String,
                           trigger: Trigger = Trigger.AvailableNow(),
                           transform: DataFrame => DataFrame = identity,
                           views: Seq[graft.store.IncrementalView] = Seq.empty): StreamingQuery =
    startForeachBatch(stream, checkpointDir, trigger) { (batch, batchId) =>
      if (!batch.isEmpty) {
        store.commit(transform(batch), batchId = Some(batchId))
        // auto-refresh AFTER the commit: the stream's views stay fresh
        // without an external driver.
        // Safe under every streaming failure mode — a foreachBatch
        // RETRY re-runs refresh() as a watermark-current no-op after
        // the commit's own batch-id replay guard no-ops; a refresh
        // racing a slow reserve-then-journal committer records the
        // gap run in the generation meta and repairs it on the next
        // refresh (IncrementalView's out-of-order protocol). Each
        // refresh stamps the _refresh.lock with THIS stream's
        // checkpoint as owner, and a lock observed at refresh time is
        // broken ONLY when it carries that same stamp — provably a
        // dead prior incarnation of this very stream (Spark admits
        // one active query per checkpoint, and foreachBatch
        // serializes batches within it). A FOREIGN or unstamped lock
        // — a concurrent manual refresh(), a second stream wired to
        // the same view path — is possibly live, so the batch fails
        // loudly instead of silently deleting it (the concurrent-
        // refresh generation-GC race the lock exists to prevent).
        if (views.nonEmpty) {
          val owner = s"graft-stream:$checkpointDir"
          views.foreach { v =>
            try v.refresh(owner)
            catch {
              case e: IllegalStateException
                  if e.getMessage.contains("_refresh.lock") =>
                if (v.breakLockIfOwner(owner)) v.refresh(owner)
                else throw new IllegalStateException(
                  s"view at ${v.path}: _refresh.lock is held by a " +
                    "refresher this stream does not own (a concurrent " +
                    "manual refresh() or another stream) — refusing to " +
                    "break a possibly-live lock. Stop the other " +
                    "refresher, or breakStaleLock() manually if its " +
                    "owner died hard.", e)
            }
          }
        }
        ()
      }
    }

  /** STATEFUL in-flight curation: bloom decontamination at ingest
    * (SURVEY.md §2.3's in-flight-curation row, extended past stateless
    * projections). Each micro-batch of documents is flagged against
    * the n-grams of EVERYTHING ALREADY INGESTED —
    * [[graft.llm.Dedup.decontaminateAgainstHashes]]: a bloom bitmap
    * rebuilt from the accumulated gram table at each micro-batch
    * boundary (refreshed per checkpoint) probes the batch scan-side,
    * and the exact semi-join verify kills bloom false positives, so a
    * batch's survivors are row-identical to running the exact
    * decontamination against the full history (spec-gated
    * differential). Survivors append to the state; flagged rows land
    * in a quarantine feed with their shared-gram counts.
    *
    * The evolving state is the reference's WAL-is-ingest analogy
    * (`wal/file.go:37-48`) applied to curation: the history IS the
    * benchmark. State layout under `stateDir`:
    *  - `grams/batch_<id>/` — each batch's NEW distinct gram hashes
    *    (LONG) — the incrementally-maintained bench table, so history
    *    text is never re-tokenized;
    *  - `docs/batch_<id>/` — surviving documents (the clean feed);
    *  - `quarantine/batch_<id>/` — flagged (id, n_contaminated).
    *
    * Exactly-once: every per-batch directory is written with OVERWRITE
    * under its own batch id, and a batch reads only directories of
    * STRICTLY EARLIER batches — a foreachBatch retry rewrites its own
    * outputs byte-identically and never sees its own partial state.
    *
    * Scale posture: per micro-batch the corpus-sized work is one scan
    * of the batch (bloom-probed before any shuffle) plus one
    * gram-table aggregation for the bitmap (O(history grams), the
    * documented bloom-build cost — at 14.4 bits/gram a billion-gram
    * history is a ~1.8 GB build input and a ~MB-scale bitmap literal);
    * the exact verify joins CANDIDATE grams only.
    */
  def startDecontaminatingIngest(stream: DataFrame, stateDir: String,
                                 checkpointDir: String,
                                 idCol: String = "doc_id",
                                 textCol: String = "text",
                                 shingleN: Int = 5,
                                 fpp: Double = 0.001,
                                 trigger: Trigger = Trigger.AvailableNow(),
                                 compactEvery: Int = 0): StreamingQuery =
    startForeachBatch(stream, checkpointDir, trigger) { (batch, batchId) =>
      // compact BEFORE the batch (upTo = batchId is strictly earlier
      // even for a retry of this very batch), so history listing and
      // small-file count stay O(compactEvery) on a long-lived stream
      if (onCadence(compactEvery, batchId))
        compactDecontaminationState(batch.sparkSession, stateDir, batchId)
      curateBatch(batch, batchId, stateDir, idCol, textCol, shingleN, fpp)
    }

  /** One micro-batch of the decontaminating ingest — split out so the
    * differential spec can drive it directly.
    */
  private[graft] def curateBatch(batch: DataFrame, batchId: Long,
                                 stateDir: String, idCol: String,
                                 textCol: String, shingleN: Int,
                                 fpp: Double): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir),
      spark.sparkContext.hadoopConfiguration)
    // strictly-earlier batches only: a retry must not see its own state
    val histDirs = historyDirs(fs, stateDir, "grams", batchId)
    // floor the batch's scan parallelism before the per-row gram pass:
    // a one-file micro-batch arrives as ONE task (guide §2.5)
    val b = graft.llm.Dedup.scanParallel(batch, col(idCol))
      .localCheckpoint() // read by flag + anti-join + gram dump
    val flagged =
      if (histDirs.isEmpty)
        b.select(col(idCol)).limit(0).withColumn("n_contaminated", lit(0L))
      else graft.llm.Dedup.decontaminateAgainstHashes(b,
        pinnedRead(spark, histDirs), idCol, textCol, shingleN, fpp)
    val flaggedM = flagged.localCheckpoint()
    val survivors = b.join(flaggedM.select(col(idCol)), Seq(idCol), "left_anti")
      .localCheckpoint()
    // three independent sinks over checkpointed inputs (guide §2.6)
    graft.Par.settleAll(Seq(
      () => survivors.write.mode("overwrite")
        .parquet(s"$stateDir/docs/batch_$batchId"),
      () => flaggedM.write.mode("overwrite")
        .parquet(s"$stateDir/quarantine/batch_$batchId"),
      () => graft.llm.Dedup.textGramHashes(survivors, idCol, textCol, shingleN)
        .select("gram_hash").distinct()
        .write.mode("overwrite").parquet(s"$stateDir/grams/batch_$batchId")))
    ()
  }

  /** STATEFUL in-flight near-dup marking at ingest: first-wins MinHash
    * +LSH dedup against EVERYTHING ALREADY SEEN. Each micro-batch
    * document is flagged iff it has an exact-Jaccard-verified near-dup
    * (≥ `threshold`) among (a) any document of an earlier micro-batch
    * or (b) a lower-id document of its own batch — the streaming
    * semantic: you can only drop the LATER arrival, never retroactively
    * re-adjudicate history. ALL seen documents (flagged or not)
    * contribute band state, so transitive chains keep matching exactly
    * as the batch operator's pair set does.
    *
    * Parity (spec-gated differential): when ids are arrival-monotonic,
    * the union of per-batch flags equals the batch
    * [[graft.llm.Dedup.minhashNearDupPairs]] drop-later set — i.e.
    * `{id_b | (id_a < id_b) verified pair}` grouped to
    * (id, n_pairs, max_jaccard) — because banding over "history ×
    * batch ∪ within-batch" unions to exactly the banding over the
    * whole prefix, and both sides verify with the same exact Jaccard.
    * (Unlike `dedupNearDup`'s connected-components policy, a "hub"
    * doc whose only pairs are LATER arrivals survives here — CC is a
    * batch-only luxury; first-wins is what an unbounded stream can
    * honor.)
    *
    * State layout under `stateDir` (per-batch dirs, OVERWRITE-written,
    * read strictly-earlier — the same exactly-once discipline as
    * [[curateBatch]]):
    *  - `bands/batch_<id>/` — (band, id) for every shingled doc;
    *  - `all/batch_<id>/`   — (id, text): verify-side source;
    *  - `docs/batch_<id>/`  — surviving rows (the clean feed);
    *  - `flags/batch_<id>/` — (idCol, n_pairs, max_jaccard).
    *
    * Scale posture: per micro-batch the history-sized work is ONE
    * parquet scan of the slim (band, id) table with the batch's bands
    * BROADCAST (no history shuffle; Spark's runtime bloom filter can
    * additionally prune the scan), plus a candidate-pruned semi-join
    * into the history text (candidate ids broadcast). Banding,
    * signatures, and the in-bucket pair expansion are batch-sized.
    * Documents never ride a shuffle; only (band, id) pairs and
    * candidate ids move. At extreme history sizes, partition the band
    * state by a band-hash prefix and compact `bands/` periodically —
    * the per-batch dirs are already the unit of that rewrite.
    */
  def startNearDupIngest(stream: DataFrame, stateDir: String,
                         checkpointDir: String,
                         idCol: String = "doc_id",
                         textCol: String = "text",
                         shingleN: Int = 3, k: Int = 32, bands: Int = 8,
                         threshold: Double = 0.5,
                         compactEvery: Int = 0,
                         trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startForeachBatch(stream, checkpointDir, trigger) { (batch, batchId) =>
      if (onCadence(compactEvery, batchId))
        compactNearDupState(batch.sparkSession, stateDir, batchId)
      nearDupBatch(batch, batchId, stateDir, idCol, textCol, shingleN,
        k, bands, threshold)
    }

  /** One micro-batch of the near-dup-marking ingest — split out so the
    * differential spec can drive it directly.
    */
  private[graft] def nearDupBatch(batch: DataFrame, batchId: Long,
                                  stateDir: String, idCol: String,
                                  textCol: String, shingleN: Int, k: Int,
                                  bands: Int, threshold: Double): Unit = {
    import graft.llm.Dedup
    require(bands > 0 && k % bands == 0,
      s"k=$k must split evenly into bands=$bands (rows = k / bands)")
    if (batch.isEmpty) return
    val rowsPerBand = k / bands
    val spark = batch.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
    // strictly-earlier batches only: a retry must not see its own state
    def earlier(sub: String): Seq[String] =
      historyDirs(fs, stateDir, sub, batchId)
    // no scan-parallelism floor: a micro-batch of this body is too
    // small to pay a shuffle job for spreading its shingle pass
    val b = batch.localCheckpoint() // read by state dump + flags anti-join
    // ONE tokenize+shingle pass for the batch; reused by banding + verify
    val docs = b.select(col(idCol).cast("long").as("id"),
      Dedup.shinglesUdf(shingleN)(graft.llm.TextStats.tokens(col(textCol))).as("sh"))
      .where(size(col("sh")) > 0)
      .localCheckpoint()
    val banded = docs.select(col("id"), explode(Dedup.lshBandKeys(
      Dedup.minhashSignatureUdf(k)(col("sh")), bands, rowsPerBand)).as("band"))
      .localCheckpoint() // reused: within-batch buckets, cross join, state dump
    // within-batch candidates: the batch operator's in-bucket expansion
    val within = banded.groupBy(col("band")).agg(collect_list(col("id")).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode(flatten(transform(col("ids"), x =>
        transform(filter(col("ids"), y => y > x),
          y => struct(x.as("id_a"), y.as("id_b")))))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
    // cross candidates: history bands scanned ONCE, batch side broadcast
    val histBandDirs = earlier("bands")
    val cross =
      if (histBandDirs.isEmpty) within.limit(0)
      else pinnedRead(spark, histBandDirs)
        .select(col("band"), col("id").as("id_a"))
        .join(broadcast(banded.select(col("band"), col("id").as("id_b"))),
          Seq("band"))
        .select(col("id_a"), col("id_b"))
    val cand = within.unionByName(cross).distinct().localCheckpoint()
    // exact-Jaccard verify on candidates only; history shingles are
    // recomputed for CANDIDATE ids alone (semi-join, candidate ids
    // broadcast — history text never shuffles)
    val histAllDirs = earlier("all")
    val candA = cand.select(col("id_a").as("id")).distinct()
    val histSh =
      if (histAllDirs.isEmpty) docs.limit(0)
      else pinnedRead(spark, histAllDirs)
        .join(broadcast(candA), Seq("id"), "left_semi")
        .select(col("id"),
          Dedup.shinglesUdf(shingleN)(graft.llm.TextStats.tokens(col("text"))).as("sh"))
    val shA = docs.unionByName(histSh) // batch ids resolve from `docs`
    val flags = cand
      .join(shA.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(docs.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("_j", Dedup.jaccard(col("sh_a"), col("sh_b")))
      .where(col("_j") >= threshold)
      .groupBy(col("id_b"))
      .agg(count(lit(1)).as("n_pairs"),
        graft.Portable.round(max(col("_j")), 4).as("max_jaccard"))
      .select(col("id_b").as("_fid"), col("n_pairs"), col("max_jaccard"))
      .localCheckpoint()
    // four independent sinks over checkpointed inputs — concurrent
    // (guide §2.6); serial they each paid the full job latency in turn
    graft.Par.settleAll(Seq(
      () => flags.select(col("_fid").as(idCol), col("n_pairs"), col("max_jaccard"))
        .write.mode("overwrite").parquet(s"$stateDir/flags/batch_$batchId"),
      () => b.join(flags, b(idCol).cast("long") === col("_fid"), "left_anti")
        .write.mode("overwrite").parquet(s"$stateDir/docs/batch_$batchId"),
      () => b.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
        .write.mode("overwrite").parquet(s"$stateDir/all/batch_$batchId"),
      () => banded.select(col("band"), col("id"))
        .write.mode("overwrite").parquet(s"$stateDir/bands/batch_$batchId")))
    ()
  }

  /** Offline reconciliation for the near-dup ingest state: the
    * streamed marking is FIRST-WINS — a doc is flagged iff a verified
    * earlier near-dup exists — which on hub topologies diverges from
    * the batch clustering (a hub's transitive closure is ONE component
    * whose keep-best drops docs that are not near-dups of each other,
    * while first-wins keeps every unflagged spoke). This job runs the
    * batch pipeline — in-bucket candidate expansion over the
    * accumulated `bands/` state, exact-Jaccard verify from `all/`
    * text, [[graft.llm.Dedup.connectedComponents]], keep-best winner
    * per component (max quality, ties to lowest id — the
    * [[graft.llm.Dedup.dedupNearDupKeepBest]] policy) — and reports
    * BOTH verdicts per document:
    * `(id, component, stream_keep, batch_keep)`.
    *
    * The state already contains everything this needs: `bands/` IS the
    * batch LSH banding of the union of all batches (same minhash
    * config), `all/` the raw text, `flags/` the streamed verdicts —
    * no re-tokenization of unflagged history, no re-streaming.
    *
    * Scale posture: candidate expansion is the batch operator's
    * in-bucket shape (only (band, id) rows shuffle); verify recomputes
    * shingles for CANDIDATE ids only; CC is the O(log d) loop. Quality
    * defaults to text length (`all/` carries no metadata); pass a
    * custom `quality` keyed off a join with your corpus for other
    * policies.
    */
  def reclusterNearDupState(spark: org.apache.spark.sql.SparkSession,
                            stateDir: String,
                            shingleN: Int = 3,
                            threshold: Double = 0.5): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
    val (texts, _, comp, winners) =
      nearDupCcOverState(spark, stateDir, Long.MaxValue, shingleN, threshold,
          withPairStats = false)
        .getOrElse(sys.error(s"no near-dup ingest state under $stateDir"))
    // flags/ read through the same floors-aware listing as bands/all:
    // compactNearDupState never compacts flags/ today, but if it ever
    // does, a raw batch_* glob would silently miss all pre-floor flags.
    val flagDirs = historyDirs(fs, stateDir, "flags", Long.MaxValue)
    require(flagDirs.nonEmpty, s"no flags state under $stateDir")
    val flagsRaw = pinnedRead(spark, flagDirs)
    // first column is the caller's id column, whatever it was named
    val streamedFlagged = flagsRaw
      .select(col(flagsRaw.columns.head).cast("long").as("id"),
        lit(true).as("_flagged"))
      .distinct()
    texts.select(col("id"))
      .join(comp, Seq("id"), "left")
      .join(winners, Seq("id"), "left")
      .join(streamedFlagged, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("component"),
        coalesce(col("_flagged"), lit(false)).unary_!.as("stream_keep"),
        (col("component").isNull || coalesce(col("_win"), lit(false)))
          .as("batch_keep"))
  }

  /** CC + keep-best over the near-dup state accumulated in batches
    * `[0, upTo)` — the shared batch-pipeline core of
    * [[reclusterNearDupState]] (the report) and
    * [[reclusterNearDupFlags]] (the adopted generation). Returns
    * (texts, verified pairs, components, winners); None when no state.
    *
    * `withPairStats` scopes the pair-stats extras to the ONE caller
    * that needs them (the flags generation's `(n_pairs, max_jaccard)`
    * columns): with it, `verified` carries `_j` and is eagerly
    * `localCheckpoint`ed so the stats aggregation doesn't re-run the
    * verify join. Without it (the reconcile REPORT — q9W — which never
    * reads `verified`), the pairs stay LAZY and `_j`-free: the CC
    * loop's own edge checkpoint is then the single materialization of
    * the verify pipeline, the r13 plan shape.
    */
  private def nearDupCcOverState(spark: org.apache.spark.sql.SparkSession,
                                 stateDir: String, upTo: Long,
                                 shingleN: Int, threshold: Double,
                                 withPairStats: Boolean = true): Option[(DataFrame, DataFrame, DataFrame, DataFrame)] = {
    import graft.llm.Dedup
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
    val bandDirs = historyDirs(fs, stateDir, "bands", upTo)
    val allDirs = historyDirs(fs, stateDir, "all", upTo)
    if (bandDirs.isEmpty || allDirs.isEmpty) return None
    val bands = pinnedRead(spark, bandDirs).select(col("band"), col("id"))
    val texts = pinnedRead(spark, allDirs).select(col("id"), col("text"))
    // in-bucket candidate expansion — the batch operator shape
    val cand = bands.groupBy(col("band")).agg(collect_list(col("id")).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode(flatten(transform(col("ids"), x =>
        transform(filter(col("ids"), y => y > x),
          y => struct(x.as("id_a"), y.as("id_b")))))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
    val candIds = cand.select(col("id_a").as("id"))
      .unionByName(cand.select(col("id_b").as("id"))).distinct()
    val sh = texts.join(candIds, Seq("id"), "left_semi")
      .select(col("id"),
        Dedup.shinglesUdf(shingleN)(graft.llm.TextStats.tokens(col("text"))).as("sh"))
    val verifiedBase = cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("_j", Dedup.jaccard(col("sh_a"), col("sh_b")))
      .where(col("_j") >= threshold)
    val verified =
      if (withPairStats)
        // read twice (CC edges + the pair-stats aggregation) — checkpoint
        verifiedBase.select(col("id_a"), col("id_b"), col("_j"))
          .localCheckpoint()
      else
        // read once, by CC — its own edge checkpoint materializes this
        verifiedBase.select(col("id_a"), col("id_b"))
    val comp = Dedup.connectedComponents(
      verified.select(col("id_a"), col("id_b")), "id_a", "id_b")
    val winners = comp
      .join(texts.select(col("id"), length(col("text")).as("_q")), Seq("id"))
      .groupBy(col("component"))
      .agg(max_by(col("id"), struct(col("_q"), (-col("id")).as("_nid"))).as("_keep"))
      .select(col("_keep").as("id"), lit(true).as("_win"))
    Some((texts, verified, comp, winners))
  }

  /** Compaction-time RE-CLUSTER generation for the near-dup ingest —
    * the consumer of the divergence [[reclusterNearDupState]] reports:
    * run CC + keep-best over the state accumulated in batches
    * `[0, upTo)` and PUBLISH the batch-policy verdicts as a
    * `flags/compact_upto_<upTo>` generation that supersedes the
    * per-batch first-wins flags below it (the q9X self-healing
    * pattern applied to the verdict feed).
    *
    * First-wins is what an unbounded stream can honor per batch — but
    * on hub topologies it diverges from the batch clustering (the
    * early hub survives and every spoke is flagged, while CC + keep-
    * best keeps exactly one member of the component). The generation
    * re-states history under the batch policy: a doc is flagged iff
    * its component's keep-best winner is someone else, with
    * `(n_pairs, max_jaccard)` recomputed over its VERIFIED pairs.
    * Verdict-feed consumers read through [[nearDupFlags]] (floors-
    * aware); the caller runs it between batches — later
    * batches keep flagging first-wins against the unchanged
    * `bands/`+`all/` probe state (the re-cluster rewrites verdicts,
    * never the probe state, so stream parity for NEW arrivals is
    * untouched — q9C's differential holds verbatim).
    *
    * Crash-safe: the generation is `_SUCCESS`-gated (readers ignore a
    * torn write; a retry overwrites it) and superseded per-batch flag
    * dirs are GC'd only after it lands. Idempotent: an existing
    * complete generation short-circuits to the GC. Single-writer,
    * like every compaction here. Returns true iff the generation is
    * complete on return.
    */
  def reclusterNearDupFlags(spark: org.apache.spark.sql.SparkSession,
                            stateDir: String, upTo: Long,
                            shingleN: Int = 3,
                            threshold: Double = 0.5): Boolean = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
    val target = new org.apache.hadoop.fs.Path(
      s"$stateDir/flags/compact_upto_$upTo")
    val done = fs.exists(new org.apache.hadoop.fs.Path(target, "_SUCCESS"))
    if (!done) {
      val parts = nearDupCcOverState(spark, stateDir, upTo, shingleN, threshold)
      if (parts.isEmpty) return false
      val (_, verified, comp, winners) = parts.get
      // the caller's id column name, preserved from the streamed flags
      // (schema parity for tailing consumers); doc_id when none exist
      val flagDirs = historyDirs(fs, stateDir, "flags", upTo)
      val idName =
        if (flagDirs.nonEmpty) pinnedRead(spark, Seq(flagDirs.head)).columns.head
        else "doc_id"
      val pairStats = verified
        .select(col("id_a").as("id"), col("_j"))
        .unionByName(verified.select(col("id_b").as("id"), col("_j")))
        .groupBy(col("id"))
        .agg(count(lit(1)).as("n_pairs"),
          graft.Portable.round(max(col("_j")), 4).as("max_jaccard"))
      comp.join(winners, Seq("id"), "left_anti") // in a component, not its winner
        .join(pairStats, Seq("id"))
        .select(col("id").as(idName), col("n_pairs"), col("max_jaccard"))
        .write.mode("overwrite").parquet(target.toString)
    }
    // GC superseded verdicts — only after the generation landed
    val root = new org.apache.hadoop.fs.Path(s"$stateDir/flags")
    fs.listStatus(root).toSeq.map(_.getPath)
      .filter { p =>
        val n = p.getName
        if (n.startsWith("batch_"))
          n.stripPrefix("batch_").toLongOption.exists(_ < upTo)
        else if (n.startsWith("compact_upto_"))
          n.stripPrefix("compact_upto_").toLongOption.exists(_ < upTo)
        else false
      }
      .foreach(p => fs.delete(p, true))
    true
  }

  /** The near-dup verdict feed, read through the re-cluster floors:
    * the newest `flags/compact_upto_<k>` generation (batch-policy
    * verdicts for everything below k) plus the per-batch first-wins
    * flags above it — the supported consumer read (a raw `batch_*`
    * glob would silently miss every re-stated verdict).
    */
  def nearDupFlags(spark: org.apache.spark.sql.SparkSession,
                   stateDir: String): DataFrame =
    readSubstream(spark, stateDir, "flags")

  /** STATEFUL distribution-drift monitoring at ingest: each
    * micro-batch's hashed-unigram histogram is compared (Jensen-
    * Shannon divergence, the [[graft.llm.Corpus.sourceDrift]] measure)
    * against the ACCUMULATED histogram of every earlier batch — the
    * "is today's crawl still the corpus I trained the filters on?"
    * alarm, evaluated in-flight rather than in a nightly batch job.
    *
    * Per batch the monitor emits one row `(batch_id, n_docs, n_grams,
    * js_div, alarm)`; the first batch has no history and reads
    * `js_div = 0.0, alarm = false` (the no-history baseline). State
    * under `stateDir`:
    *  - `hist/batch_<id>/` — the batch's (bucket, cnt) histogram, the
    *    ONLY thing history contributes (text is never re-read);
    *  - `drift/batch_<id>/` — the one-row drift report.
    *
    * Exactly-once: per-batch dirs OVERWRITE-written, history reads
    * strictly-earlier batches only — the [[curateBatch]] discipline.
    *
    * Scale posture: history-sized state is nBuckets rows per batch
    * (compactable by summing dirs), so the per-batch cost is one scan
    * of the BATCH (tokenize + partial-agg to ≤ nBuckets rows) plus a
    * union of tiny histogram files; the JSD itself is an
    * nBuckets-row join. Nothing corpus-sized ever recomputes, and no
    * text rides a shuffle.
    */
  def startDriftMonitorIngest(stream: DataFrame, stateDir: String,
                              checkpointDir: String,
                              textCol: String = "text",
                              nBuckets: Long = 256L,
                              alarmAt: Double = 0.1,
                              trigger: Trigger = Trigger.AvailableNow(),
                              compactEvery: Int = 0): StreamingQuery =
    startForeachBatch(stream, checkpointDir, trigger) { (batch, batchId) =>
      if (onCadence(compactEvery, batchId))
        compactDriftState(batch.sparkSession, stateDir, batchId)
      driftBatch(batch, batchId, stateDir, textCol, nBuckets, alarmAt)
    }

  /** One micro-batch of the drift monitor — split out so the
    * differential spec can drive it directly.
    */
  private[graft] def driftBatch(batch: DataFrame, batchId: Long,
                                stateDir: String, textCol: String,
                                nBuckets: Long, alarmAt: Double): Unit = {
    require(nBuckets > 0, "nBuckets must be positive")
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
    // strictly-earlier batches only: a retry must not see its own state
    val histDirs = historyDirs(fs, stateDir, "hist", batchId)
    val b = batch.localCheckpoint() // read by histogram + doc count
    val hist = b
      .select(explode(graft.llm.TextStats.tokens(col(textCol))).as("_w"))
      .groupBy(pmod(graft.llm.TextStats.portableHash(col("_w")),
        lit(nBuckets)).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // reused: JSD join, totals, state dump
    val nDocs = b.count()
    val nGrams = hist.agg(coalesce(sum(col("cnt")), lit(0L)))
      .first().getLong(0)
    val jsDiv: Double =
      if (histDirs.isEmpty || nGrams == 0L) 0.0
      else {
        val h = pinnedRead(spark, histDirs)
          .groupBy(col("bucket")).agg(sum(col("cnt")).as("hcnt"))
        val tb = nGrams.toDouble
        // coalesce: every earlier hist/ dir can be EMPTY (a non-empty
        // batch whose docs tokenize to zero grams still writes its dir),
        // and sum over zero rows is NULL; th == 0 is then the
        // no-usable-history case, not a divide-by-zero
        val th = h.agg(coalesce(sum(col("hcnt")), lit(0L)))
          .first().getLong(0).toDouble
        if (th == 0.0) 0.0 else {
        val p = coalesce(col("cnt"), lit(0L)).cast("double") / lit(tb)
        val q = coalesce(col("hcnt"), lit(0L)).cast("double") / lit(th)
        hist.join(h, Seq("bucket"), "full_outer")
          .select(p.as("_p"), q.as("_q"))
          .agg(sum(
            when(col("_p") > 0,
              col("_p") * log(lit(2.0) * col("_p") / (col("_p") + col("_q"))))
              .otherwise(lit(0.0)) +
            when(col("_q") > 0,
              col("_q") * log(lit(2.0) * col("_q") / (col("_p") + col("_q"))))
              .otherwise(lit(0.0))).as("_s"))
          .select((lit(0.5) * col("_s")).as("_js"))
          .first().getDouble(0)
        }
      }
    val report = spark.range(1).select(
      lit(batchId).as("batch_id"),
      lit(nDocs).as("n_docs"),
      lit(nGrams).as("n_grams"),
      graft.Portable.round(lit(jsDiv), 4).as("js_div"),
      lit(jsDiv >= alarmAt && histDirs.nonEmpty).as("alarm"))
    // two independent sinks (report is a 1-row literal frame, hist is
    // checkpointed) — concurrent (guide §2.6)
    graft.Par.settleAll(Seq(
      () => report.write.mode("overwrite")
        .parquet(s"$stateDir/drift/batch_$batchId"),
      () => hist.write.mode("overwrite")
        .parquet(s"$stateDir/hist/batch_$batchId")))
    ()
  }

  /** STATEFUL per-source token-budget enforcement at ingest: each
    * source admits documents in arrival order (micro-batch, then the
    * batch operator's hash order within the batch) while the source's
    * RUNNING token total — across every batch ever seen — stays within
    * its budget. The streaming form of
    * [[graft.llm.Sampling.tokenBudget]] with the same "kept iff the
    * cumulative total still fits" predicate: the cum counts ALL seen
    * rows (dropped documents' tokens included), so the test is a pure
    * monotone prefix and a single-batch stream equals the batch
    * operator row-for-row. Mixture-target enforcement ("stop taking
    * web after 1B tokens") evaluated in-flight instead of in a nightly
    * re-pass.
    *
    * State under `stateDir` (per-batch dirs, OVERWRITE-written, read
    * strictly-earlier — the [[curateBatch]] exactly-once discipline):
    *  - `totals/batch_<id>/` — (key, tokens): the batch's per-source
    *    token totals, the ONLY history (O(sources) rows per batch;
    *    compacts by key-sum — [[compactQuotaState]]);
    *  - `docs/batch_<id>/`    — admitted rows + global `cum_tokens`;
    *  - `dropped/batch_<id>/` — (id, key, tokens) of the rejects.
    *
    * Scale posture: history-sized state is O(sources) rows per batch
    * and rides a broadcast; the corpus-sized work is one scan of the
    * BATCH. The within-batch running sum is a per-source window — the
    * micro-batch is the unit of that serialization, so a batch
    * dominated by one gigantic source should pre-chunk its trigger (or
    * run the batch operator's distributed prefix sum offline); at
    * streaming batch sizes the window is the right tool.
    */
  def startQuotaIngest(stream: DataFrame, stateDir: String,
                       checkpointDir: String,
                       idCol: String = "doc_id",
                       keyCol: String = "source",
                       nTokensCol: String = "n_tokens",
                       budgets: Map[String, Long] = Map.empty,
                       defaultBudget: Long = Long.MaxValue,
                       salt: String = "budget",
                       trigger: Trigger = Trigger.AvailableNow(),
                       compactEvery: Int = 0): StreamingQuery =
    startForeachBatch(stream, checkpointDir, trigger) { (batch, batchId) =>
      if (onCadence(compactEvery, batchId))
        compactQuotaState(batch.sparkSession, stateDir, batchId)
      quotaBatch(batch, batchId, stateDir, idCol, keyCol, nTokensCol,
        budgets, defaultBudget, salt)
    }

  /** One micro-batch of the quota ingest — split out so the
    * differential spec can drive it directly.
    */
  private[graft] def quotaBatch(batch: DataFrame, batchId: Long,
                                stateDir: String, idCol: String,
                                keyCol: String, nTokensCol: String,
                                budgets: Map[String, Long],
                                defaultBudget: Long, salt: String): Unit = {
    require((budgets.values.toSeq :+ defaultBudget).forall(_ >= 0),
      "budgets must be >= 0")
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
    // strictly-earlier batches only: a retry must not see its own state
    val histDirs = historyDirs(fs, stateDir, "totals", batchId)
    val b = batch.localCheckpoint() // read by cum pass + totals dump
    val prior =
      if (histDirs.isEmpty)
        b.select(col(keyCol).as("_k")).limit(0)
          .withColumn("_prior", lit(0L))
      else pinnedRead(spark, histDirs)
        .groupBy(col("key").as("_k")).agg(sum(col("tokens")).as("_prior"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol))
      .orderBy(graft.llm.Sampling.unitHash(col(idCol), salt), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val budget = budgets.foldLeft(lit(defaultBudget)) { case (els, (k, v)) =>
      when(col(keyCol) === k, v).otherwise(els)
    }
    val cum = b
      .withColumn("_within", sum(col(nTokensCol).cast("long")).over(w))
      .join(broadcast(prior), col(keyCol) === col("_k"), "left")
      .withColumn("cum_tokens",
        col("_within") + coalesce(col("_prior"), lit(0L)))
      .drop("_k", "_prior", "_within")
      .localCheckpoint() // read by admitted + dropped dumps
    // three independent sinks over checkpointed inputs (guide §2.6)
    graft.Par.settleAll(Seq(
      () => cum.where(col("cum_tokens") <= budget)
        .write.mode("overwrite").parquet(s"$stateDir/docs/batch_$batchId"),
      () => cum.where(col("cum_tokens") > budget)
        .select(col(idCol), col(keyCol), col(nTokensCol))
        .write.mode("overwrite").parquet(s"$stateDir/dropped/batch_$batchId"),
      () => b.groupBy(col(keyCol).as("key"))
        .agg(sum(col(nTokensCol).cast("long")).as("tokens"))
        .write.mode("overwrite").parquet(s"$stateDir/totals/batch_$batchId")))
    ()
  }

  /** STATEFUL exact dedup at ingest: first-wins duplicate dropping by
    * normalized text digest against EVERYTHING ALREADY SEEN — the
    * cheapest and most common ingest-time curation step
    * ([[graft.llm.Dedup.exactDedup]]'s `sha2(lower(trim(text)))` key
    * with the streaming semantic: the earliest arrival survives,
    * batch order first, then lowest id within a batch). Every seen
    * digest blocks all later copies, so the state is ONE slim distinct
    * digest column per batch (text never re-read, compacts by
    * distinct — [[compactExactDedupState]]).
    *
    * State under `stateDir` (per-batch dirs, OVERWRITE-written, read
    * strictly-earlier — the [[curateBatch]] discipline):
    *  - `hashes/batch_<id>/` — the batch's distinct digests;
    *  - `docs/batch_<id>/`   — surviving rows (the clean feed);
    *  - `dups/batch_<id>/`   — (id) of dropped later copies.
    *
    * Scale posture: per micro-batch the history-sized work is one scan
    * of the digest state joined against the BATCH's digests (batch
    * side broadcast — history never shuffles); everything else is
    * batch-sized, and the three sinks filter one materialization of
    * the batch. At extreme history, bucket `hashes/` by digest
    * prefix so the probe prunes at the file level.
    */
  def startExactDedupIngest(stream: DataFrame, stateDir: String,
                            checkpointDir: String,
                            idCol: String = "doc_id",
                            textCol: String = "text",
                            trigger: Trigger = Trigger.AvailableNow(),
                            compactEvery: Int = 0): StreamingQuery =
    startForeachBatch(stream, checkpointDir, trigger) { (batch, batchId) =>
      if (onCadence(compactEvery, batchId))
        compactExactDedupState(batch.sparkSession, stateDir, batchId)
      exactDedupBatch(batch, batchId, stateDir, idCol, textCol)
    }

  /** One micro-batch of the exact-dedup ingest — split out so the
    * differential spec can drive it directly.
    */
  private[graft] def exactDedupBatch(batch: DataFrame, batchId: Long,
                                     stateDir: String, idCol: String,
                                     textCol: String): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
    // strictly-earlier batches only: a retry must not see its own state
    val histDirs = historyDirs(fs, stateDir, "hashes", batchId)
    val digest = sha2(lower(trim(col(textCol))), 256)
    val id = col(idCol).cast("long")
    val byDigest = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_digest")).orderBy(id)
    // any digest seen in an earlier batch blocks the whole batch group:
    // history semi-joined with the batch's digests, then an existence
    // test, which holds once however many history dirs carry the
    // digest. Both joins broadcast their batch-sized side by hint, not
    // by size estimate — the semi-join's is history's — so history
    // never shuffles, however large it grows
    val seen =
      if (histDirs.isEmpty) lit(false)
      else broadcast(pinnedRead(spark, histDirs).select(col("_digest").as("_seen"))
        .join(broadcast(batch.select(digest.as("_seen"))), Seq("_seen"), "left_semi"))
        .where(col("_seen") === col("_digest").outer())
        .exists()
    // the one materialization: within a digest, the first row (its
    // hashes/ entry) and the winner (lowest id); a null digest never
    // blocks or loses
    val b = batch
      .withColumn("_digest", digest)
      .withColumn("_first", row_number().over(byDigest) === 1)
      .withColumn("_win", min(id).over(byDigest.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .withColumn("_dup", coalesce(
        col("_digest").isNotNull && (seen || id =!= col("_win")), lit(false)))
      .localCheckpoint()
    // three independent sinks, each a filter of the checkpoint (guide §2.6)
    graft.Par.settleAll(Seq(
      () => b.where(!col("_dup")).drop("_digest", "_first", "_win", "_dup")
        .write.mode("overwrite").parquet(s"$stateDir/docs/batch_$batchId"),
      () => b.where(col("_dup")).select(col(idCol))
        .write.mode("overwrite").parquet(s"$stateDir/dups/batch_$batchId"),
      () => b.where(col("_first")).select(col("_digest"))
        .write.mode("overwrite").parquet(s"$stateDir/hashes/batch_$batchId")))
    ()
  }

  /** STATEFUL distinct-counting at ingest via MERGEABLE HLL sketches
    * (Apache DataSketches, Spark's `hll_sketch_agg` family): each
    * micro-batch reduces to one HLL sketch per key (source), and the
    * running per-source distinct-token count is the estimate of the
    * UNION of all batch sketches — the textbook mergeable-summary
    * shape: state is O(keys × 2^lgK) bytes regardless of corpus size
    * and batches fold commutatively. Union preserves the sketch's
    * ACCURACY CLASS, not bit-identity: sparse→dense promotion during a
    * union can nudge an estimate a register off the one-shot build
    * (measured: 501 vs 499 on a 500-token set at lgK=12), so parity
    * with the batch sketch — and compaction invariance — are banded
    * properties, not equalities. "How many distinct tokens has each
    * source ever sent?" answered in-flight, at sketch cost.
    *
    * State under `stateDir` (per-batch dirs, OVERWRITE-written, read
    * strictly-earlier — the [[curateBatch]] discipline):
    *  - `sketches/batch_<id>/` — (key, sketch BINARY) for the batch;
    *  - `counts/batch_<id>/`   — the running (key, distinct_tokens)
    *    report as of this batch.
    */
  def startHllDistinctIngest(stream: DataFrame, stateDir: String,
                             checkpointDir: String,
                             textCol: String = "text",
                             keyCol: String = "source",
                             lgK: Int = 12,
                             trigger: Trigger = Trigger.AvailableNow(),
                             compactEvery: Int = 0): StreamingQuery =
    startForeachBatch(stream, checkpointDir, trigger) { (batch, batchId) =>
      if (onCadence(compactEvery, batchId))
        compactHllState(batch.sparkSession, stateDir, batchId)
      hllDistinctBatch(batch, batchId, stateDir, textCol, keyCol, lgK)
    }

  /** One micro-batch of the HLL-distinct ingest — split out so the
    * differential spec can drive it directly.
    */
  private[graft] def hllDistinctBatch(batch: DataFrame, batchId: Long,
                                      stateDir: String, textCol: String,
                                      keyCol: String, lgK: Int): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
    // strictly-earlier batches only: a retry must not see its own state
    val histDirs = historyDirs(fs, stateDir, "sketches", batchId)
    val sk = batch
      .select(col(keyCol).as("key"),
        explode(graft.llm.TextStats.tokens(col(textCol))).as("_w"))
      .groupBy(col("key"))
      .agg(hll_sketch_agg(col("_w"), lgK).as("sketch"))
      .localCheckpoint() // read by the state dump + the running report
    val all =
      if (histDirs.isEmpty) sk
      else sk.unionByName(pinnedRead(spark, histDirs))
    // two independent sinks over the checkpointed batch sketches
    // (guide §2.6); the running report reads history, not the new dump
    graft.Par.settleAll(Seq(
      () => sk.write.mode("overwrite")
        .parquet(s"$stateDir/sketches/batch_$batchId"),
      () => all.groupBy(col("key"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sketch")))
          .as("distinct_tokens"))
        .write.mode("overwrite").parquet(s"$stateDir/counts/batch_$batchId")))
    ()
  }

  /** STATEFUL streaming ANN indexing at ingest: the IVF index built
    * incrementally as embedding batches arrive — "index the crawl as
    * it lands" instead of a nightly rebuild. Centroids are k-means-
    * trained ONCE on the first non-empty batch (the IVF convention:
    * the coarse quantizer is trained on a sample, then frozen — later
    * vectors are assigned, never re-clustered) and every batch's
    * vectors are cell-assigned scan-side against the BROADCAST
    * centroids — a pure projection, no shuffle — and appended as
    * `(cell_id, id, vec)` state. [[ivfIndexTopK]] then answers
    * queries over the accumulated state with the same probe/rerank
    * plan as the batch index, so a stream-built and a batch-built
    * index over the same corpus + centroids return IDENTICAL top-k
    * (spec-gated differential, q9M property-gated).
    *
    * State under `stateDir` (per-batch dirs, OVERWRITE-written, read
    * strictly-earlier — the [[curateBatch]] discipline):
    *  - `centroids/batch_<id>/` — (cell_id, centroid) from the one
    *    training batch (readers take the earliest dir; a retry of the
    *    training batch retrains on identical input deterministically);
    *  - `centroids/compact_upto_<k>/` — a REFRESHED quantizer
    *    generation ([[refreshIvfIndex]]): re-trained over the state
    *    accumulated in batches `[0, k)`, with the cell state
    *    re-assigned under it. Readers adopt the newest generation
    *    whose re-assignment has completed (see [[ivfCentroidDirs]]),
    *    so a crash between the two publications is invisible;
    *  - `cells/batch_<id>/`    — the batch's (cell_id, id, vec) rows;
    *    compacts by plain concatenation ([[compactIvfIndexState]]) or
    *    by re-assignment at a refresh.
    *
    * A frozen quantizer under DISTRIBUTION DRIFT (new domains, a new
    * encoder) routes fresh vectors into ill-fitting cells and probe
    * recall decays silently — `refreshEvery` (or an external trigger,
    * e.g. the q9E drift alarm, calling [[refreshIvfIndex]] between
    * batches) bounds that decay by periodic re-training; q9M's
    * stationary fixture is unaffected (refresh off by default).
    * `refreshEvery` keeps the FROZEN cell count — the scale remedy is
    * `reshardEvery`, which re-trains at `nCells ≈ √N` over the
    * accumulated census ([[reshardIvfIndex]]) so per-probe cell scans
    * stay Θ(√N) as the corpus grows (mutually exclusive with
    * `refreshEvery`: same boundary, different cell-count policy).
    *
    * Scale posture: per batch the work is one scan of the BATCH (the
    * assignment projection); history is never re-read — except at a
    * refresh, which pays one accumulated-state re-train + re-assign
    * (amortized over `refreshEvery` batches, the nightly-rebuild cost
    * moved inline). At query time the probed cells are pruned from the
    * accumulated state exactly as in the batch index; at extreme
    * scale, partition `cells/` state by cell_id so probes prune at the
    * file level.
    */
  def startIvfIndexIngest(stream: DataFrame, stateDir: String,
                          checkpointDir: String,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          nCells: Int = 16, iters: Int = 5,
                          refreshEvery: Int = 0,
                          reshardEvery: Int = 0,
                          targetCorpusSize: Long = 0,
                          trigger: Trigger = Trigger.AvailableNow(),
                          compactEvery: Int = 0): StreamingQuery = {
    require(reshardEvery <= 0 || refreshEvery <= 0,
      "reshardEvery and refreshEvery are the same re-train with " +
        "different cell-count policies (√N-derived vs frozen) — a " +
        "refresh after a re-shard would supersede the √N generation " +
        "back to the frozen width; set one policy only")
    val cells0 =
      if (targetCorpusSize > 0)
        graft.llm.Similarity.sqrtIvfParams(targetCorpusSize)._1
      else nCells
    startForeachBatch(stream, checkpointDir, trigger) { (batch, batchId) =>
      if (onCadence(reshardEvery, batchId))
        reshardIvfIndex(batch.sparkSession, stateDir, batchId, iters)
      else if (onCadence(refreshEvery, batchId))
        refreshIvfIndex(batch.sparkSession, stateDir, batchId, cells0, iters)
      else if (onCadence(compactEvery, batchId))
        compactIvfIndexState(batch.sparkSession, stateDir, batchId)
      ivfIndexBatch(batch, batchId, stateDir, idCol, vecCol, cells0, iters)
    }
  }

  /** Floors-aware read of the drift-trigger's quality history — a
    * `qstats/batch_*` glob would miss `compact_upto_*` generations
    * once [[compactIvfIndexState]] has folded them (the merged row
    * keeps `refreshed = max` and `batch_id = max`, so existence-style
    * gates survive compaction through this reader).
    */
  def ivfQstats(spark: org.apache.spark.sql.SparkSession,
                stateDir: String): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
    val dirs = historyDirs(fs, stateDir, "qstats", Long.MaxValue)
    require(dirs.nonEmpty, s"no qstats state under $stateDir/qstats")
    pinnedRead(spark, dirs)
  }

  /** SELF-HEALING trigger for [[refreshIvfIndex]], evaluated per batch
    * in the quantizer's OWN space: the batch's mean best-cosine to any
    * centroid (quantization quality — a fitting vector routes at
    * cos ≈ 1, a drifted one is far from every centroid) against the
    * history's running mean. A drop below `factor × histMean` means
    * the frozen quantizer no longer describes what is arriving —
    * re-train BEFORE assigning this batch. This is the embedding-space
    * sibling of the q9E text-drift alarm: a caller driving the
    * per-batch bodies runs it on the materialized batch before
    * [[ivfIndexBatch]] (`materialized = true`), so the index heals
    * without an operator in the loop (q9X).
    *
    * State: `qstats/batch_<id>` — one row `(batch_id, n,
    * mean_best_cos, hist_mean, refreshed)`, recorded under the FINAL
    * quantizer the batch assigns with. Determinism on retry: the
    * trigger reads strictly-earlier qstats + the batch itself;
    * [[refreshIvfIndex]] is idempotent; `refreshed` reports whether
    * this batch's refresh generation is complete (same answer on a
    * retry). Cost when quiet: one batch-sized projection + a 1-row
    * agg — the assignment work [[ivfIndexBatch]] does anyway, paid
    * once more.
    *
    * Healing lands within a batch or two of onset, not instantly: a
    * refresh trains on history `[0, batchId)`, so the FIRST drifted
    * batch's re-train cannot yet describe the drift — but that batch's
    * vectors enter the state, the still-low quality keeps the trigger
    * armed, and the NEXT refresh trains on data that includes the
    * drift (spec-asserted). The factor guard assumes a healthy
    * history mean > 0; corpora whose best-cos is legitimately ≤ 0
    * need an absolute external trigger instead. On long-lived streams
    * pair the trigger with periodic [[compactIvfIndexState]]: the
    * qstats history (one 1-row dir per batch) folds n-weighted there,
    * like every other substream's state.
    */
  private[graft] def driftTriggeredRefresh(batch: DataFrame, batchId: Long,
                                           stateDir: String, vecCol: String,
                                           nCells: Int, iters: Int,
                                           factor: Double): Unit = {
    import graft.llm.Similarity
    require(factor > 0 && factor < 1,
      s"factor must be in (0, 1): a batch triggers when its " +
        s"mean best-cos drops below factor x history mean; got $factor")
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    import spark.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
    def adoptedCents(): Array[(Long, Array[Double])] = {
      val dirs = ivfCentroidDirs(fs, stateDir, batchId)
      if (dirs.isEmpty) Array.empty
      else pinnedRead(spark, dirs)
        .select(col("cell_id"), col("centroid"))
        .as[(Long, Array[Double])].collect().sortBy(_._1)
    }
    def batchMean(cents: Array[(Long, Array[Double])]): Option[(Long, Double)] = {
      val r = batch.select(Similarity.ivfBestCosUdf(cents)(col(vecCol)).as("_bc"))
        .agg(count(lit(1)), avg(col("_bc"))).head()
      // avg is NULL when every vector in a non-empty batch is null —
      // treat as no-signal (skip the trigger) instead of NPEing the stream
      if (r.isNullAt(1)) None else Some((r.getLong(0), r.getDouble(1)))
    }
    // start the history-mean aggregation NOW (background): it reads
    // only strictly-earlier qstats state, independent of the
    // adopted-quantizer collect and the batch-mean job
    val histMeanF = graft.Par.detach[Double] {
      val histDirsQ = historyDirs(fs, stateDir, "qstats", batchId)
      if (histDirsQ.isEmpty) 0.0
      else {
        val r = pinnedRead(spark, histDirsQ)
          .agg(coalesce(sum(col("n") * col("mean_best_cos")), lit(0.0)),
            coalesce(sum(col("n")), lit(0L))).head()
        if (r.getLong(1) == 0L) 0.0 else r.getDouble(0) / r.getLong(1)
      }
    }
    val cents0 = adoptedCents()
    // join the background read before any early return so its failure
    // (or the thread) never outlives this call silently
    if (cents0.isEmpty) { histMeanF(); return } // quantizer not trained yet (batch 0)
    val (n, mean0) = batchMean(cents0) match {
      case Some(nm) => nm
      case None => histMeanF(); return
    }
    // history mean: n-weighted over strictly-earlier qstats rows —
    // independent of the adopted-quantizer read + batch-mean jobs
    // above, so it runs overlapped on a background thread (guide §2.6)
    val histMean: Double = histMeanF()
    if (histMean > 0 && mean0 < factor * histMean)
      refreshIvfIndex(spark, stateDir, batchId, nCells, iters)
    // record the stats under the FINAL quantizer this batch assigns with
    val refreshed = fs.exists(new org.apache.hadoop.fs.Path(
      s"$stateDir/centroids/compact_upto_$batchId/_SUCCESS"))
    val meanFinal =
      if (refreshed) batchMean(adoptedCents()).map(_._2).getOrElse(mean0)
      else mean0
    Seq((batchId, n, meanFinal, histMean, refreshed))
      .toDF("batch_id", "n", "mean_best_cos", "hist_mean", "refreshed")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$stateDir/qstats/batch_$batchId")
    ()
  }

  /** One micro-batch of the IVF-index ingest — split out so the
    * differential spec can drive it directly.
    */
  /** `materialized = true`: the caller already localCheckpoint'ed the
    * batch (shared with [[driftTriggeredRefresh]], which scans it too)
    * — re-checkpointing would copy the blocks for nothing.
    */
  private[graft] def ivfIndexBatch(batch: DataFrame, batchId: Long,
                                   stateDir: String, idCol: String,
                                   vecCol: String, nCells: Int,
                                   iters: Int,
                                   materialized: Boolean = false): Unit = {
    import graft.llm.Similarity
    if (batch.isEmpty) return
    // read by train (maybe) + assignment
    val b =
      if (materialized) batch
      else graft.llm.Dedup.scanParallel(batch, col(idCol)).localCheckpoint()
    val cents = ensureCentroids(b, batchId, stateDir, idCol, vecCol, nCells, iters)
    writeCellState(
      b.select(Similarity.ivfAssignUdf(cents)(col(vecCol)).as("cell_id"),
        col(idCol).cast("long").as("id"), col(vecCol).as("vec")),
      s"$stateDir/cells/batch_$batchId", nCells)
    ()
  }

  /** Write one generation of cell-keyed ANN state PARTITIONED BY
    * `cell_id` (`cell_id=N/` subdirs), so probes prune state files by
    * probed cell instead of scanning every accumulated batch — the
    * 100 TB posture the flat per-batch layout lacked. The write-side
    * shuffle is SALTED within cell (`(cell_id, id mod buckets)` with
    * `buckets ≈ shuffle partitions / nCells`): a plain
    * `repartition(cell_id)` would funnel the whole batch through at
    * most nCells tasks — a driver-visible cap on write parallelism at
    * cluster scale — while the salt keeps parallelism cluster-sized
    * with files/cell still bounded (≤ buckets per generation).
    */
  private def writeCellState(df: DataFrame, dir: String, nCells: Int): Unit =
    saltedByCell(df, nCells)
      .write.mode("overwrite").partitionBy("cell_id").parquet(dir)

  /** `df` hash-distributed on `(cell_id, id mod buckets)` where
    * `buckets = max(1, shuffle partitions / nCells)` — cluster-sized
    * write parallelism, ≤ buckets files per cell (see
    * [[writeCellState]]). `nCells <= 0` (unknown) degrades to the
    * unsalted per-cell shuffle.
    */
  private def saltedByCell(df: DataFrame, nCells: Int): DataFrame = {
    val p = df.sparkSession.sessionState.conf.numShufflePartitions
    val buckets = if (nCells <= 0) 1 else math.max(1, p / nCells)
    if (buckets <= 1) df.repartition(col("cell_id"))
    else df.repartition(col("cell_id"), pmod(col("id"), lit(buckets.toLong)))
  }

  /** Read cell-keyed state dirs, restoring `cell_id` to LONG (partition
    * -dir discovery infers INT for small values) and pruning to
    * `onlyCells` when given — the filter lands on the PARTITION column,
    * so Spark's partition pruning skips non-probed `cell_id=N/`
    * directories at file-listing time. The data schema is supplied
    * (caller-provided, or pinned once per substream), never
    * re-inferred per dir: per-dir footer inference multiplied a fixed
    * cost across every accumulated generation — the r10 ANN-family
    * regression.
    */
  private[graft] def readCellState(spark: org.apache.spark.sql.SparkSession,
                                   dirs: Seq[String],
                                   onlyCells: Option[Seq[Long]] = None,
                                   schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    import org.apache.spark.sql.types.LongType
    // cell_id forced to LONG in the user schema: partition values cast
    // at scan time (partitioned dirs) or match the written type (legacy
    // flat dirs whose cell_id is a long data column), so the union
    // needs no per-branch cast and prune literals compare exactly.
    val base = schema.getOrElse(PinnedRead.schema(spark, pinKey(dirs.head), dirs))
    val fixed = org.apache.spark.sql.types.StructType(base.fields.map(f =>
      if (f.name == "cell_id") f.copy(dataType = LongType) else f))
    // one read PER state dir, unioned: sibling partitioned dirs can't
    // share one multi-root read (Spark's CONFLICTING_DIRECTORY_STRUCTURES
    // guard), and per-dir roots keep partition pruning exact. The dir
    // count is O(compaction interval) by the historyDirs contract.
    dirs.map { d =>
      val raw = spark.read.schema(fixed).parquet(d)
      onlyCells match {
        case Some(cells) => raw.where(col("cell_id").isin(cells: _*))
        case None => raw
      }
    }.reduce(_ unionByName _)
  }

  /** The accumulated cell census of an IVF-layout ingest (`cells/`
    * through the compaction/refresh floors), `cell_id` restored to
    * LONG — the supported way to read the state whole (per-dir globs
    * break on the partitioned `cell_id=N/` layout).
    */
  def ivfCellState(spark: org.apache.spark.sql.SparkSession,
                   stateDir: String): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
    val dirs = historyDirs(fs, stateDir, "cells", Long.MaxValue)
    require(dirs.nonEmpty, s"no IVF cell state under $stateDir/cells")
    readCellState(spark, dirs)
  }

  /** The accumulated code census of a PQ-index ingest (`codes/` through
    * the compaction floors) — [[ivfCellState]]'s sibling for the
    * byte-coded state.
    */
  def ivfPqCodeState(spark: org.apache.spark.sql.SparkSession,
                     stateDir: String): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
    val dirs = historyDirs(fs, stateDir, "codes", Long.MaxValue)
    require(dirs.nonEmpty, s"no PQ code state under $stateDir/codes")
    readCellState(spark, dirs)
  }

  /** The coarse quantizer for batch `batchId`: the adopted centroid
    * generation (see [[ivfCentroidDirs]] — refresh-aware,
    * re-assignment-gated), or train NOW iff no earlier batch ever
    * trained (first non-empty batch; a retry retrains on the identical
    * input). Shared by the IVF-index and embedding-dedup ingests.
    */
  private def ensureCentroids(b: DataFrame, batchId: Long, stateDir: String,
                              idCol: String, vecCol: String,
                              nCells: Int, iters: Int): Array[(Long, Array[Double])] = {
    import graft.llm.Similarity
    val spark = b.sparkSession
    import spark.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
    val histCents = ivfCentroidDirs(fs, stateDir, batchId)
    if (histCents.nonEmpty)
      pinnedRead(spark, histCents)
        .select(col("cell_id"), col("centroid"))
        .as[(Long, Array[Double])].collect().sortBy(_._1)
    else {
      val trained = Similarity.kmeansCentroids(b, idCol, vecCol, nCells, iters)
      trained.toSeq.toDF("cell_id", "centroid")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$stateDir/centroids/batch_$batchId")
      trained
    }
  }

  /** Query the stream-built IVF index: same probe + exact-cosine
    * rerank plan as the batch [[graft.llm.Similarity.ivfTopKKMeans]],
    * reading the accumulated cell state instead of assigning a corpus.
    */
  def ivfIndexTopK(spark: org.apache.spark.sql.SparkSession,
                   stateDir: String, queries: DataFrame, idCol: String,
                   vecCol: String, k: Int, nProbe: Int = 2): DataFrame = {
    import graft.llm.Similarity
    import spark.implicits._
    // read through the compaction/refresh floors (a batch_* glob would
    // miss compact_upto_* generations and double-count GC survivors)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
    val centDirs = ivfCentroidDirs(fs, stateDir, Long.MaxValue)
    require(centDirs.nonEmpty, s"no IVF centroid state under $stateDir/centroids")
    val cents = pinnedRead(spark, centDirs)
      .select(col("cell_id"), col("centroid"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val cellDirs = historyDirs(fs, stateDir, "cells", Long.MaxValue)
    require(cellDirs.nonEmpty, s"no IVF cell state under $stateDir/cells")
    // nProbe <= 0 derives the √-family width 2·√nCells from the built
    // cell count (the serving side of Similarity.sqrtIvfParams)
    val effProbe =
      if (nProbe > 0) nProbe else Similarity.sqrtProbeFor(cents.length)
    // the probed cell set is bounded by queries × nProbe (queries are
    // broadcast-small by contract) — collect it and push a partition
    // filter so the state scan reads ONLY probed cell_id=N/ dirs
    val probed = queries
      .select(explode(Similarity.ivfProbeUdf(cents, effProbe)(col(vecCol)))
        .as("cell_id"))
      .distinct().as[Long].collect().toSeq
    val assigned = readCellState(spark, cellDirs, Some(probed))
      .select(col("cell_id"), col("id").as("neighbor_id"), col("vec").as("cv"))
    Similarity.probeAssignedCells(assigned, queries, idCol, vecCol, k,
      effProbe, cents)
  }

  /** STATEFUL streaming IVFADC (PQ) indexing at ingest — the
    * [[startIvfIndexIngest]] scale variant whose state stores
    * `(cell_id, id, code)` with `code` the m-byte product-quantized
    * per-cell residual ([[graft.llm.Similarity.ivfPqTopK]]'s coding,
    * Jégou et al. 2011 §IV.A) INSTEAD of the raw vector: state
    * bytes/vector is m + 8, not dim × 4, and the exact rerank re-reads
    * candidate vectors from the SOURCE table at query time.
    *
    * Both quantizers are trained once on the first non-empty batch and
    * frozen — centroids via [[ensureCentroids]] (shared layout), the
    * residual codebooks under `books/batch_<id>` — so every batch's
    * codes are comparable across the stream. Encoding is one
    * broadcast-quantizer projection per batch, no shuffle except the
    * cell_id write-partitioning. State lives under
    * `codes/batch_<id>/cell_id=N/` and compacts by plain concatenation
    * ([[compactIvfPqIndexState]]).
    *
    * An in-place refresh hook would strand the frozen codes (codes are
    * only comparable under the quantizers that produced them) — the
    * scale remedy is the RE-SHARD generation instead: `reshardEvery`
    * boundaries call [[reshardIvfPqIndex]], which re-trains the coarse
    * quantizer at `nCells ≈ √N`, re-encodes the accumulated membership
    * from `reshardWith` (the source table — required when
    * `reshardEvery > 0`), and publishes atomically; this batch and all
    * later ones then encode under the adopted generation. Without it
    * the first-batch-frozen cell count makes per-probe ADC scans grow
    * as Θ(N) — measured linear at a 100× decade.
    */
  def startIvfPqIndexIngest(stream: DataFrame, stateDir: String,
                            checkpointDir: String,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding",
                            nCells: Int = 16, iters: Int = 5,
                            m: Int = 8, ks: Int = 256,
                            compactEvery: Int = 0,
                            reshardEvery: Int = 0,
                            reshardWith: DataFrame = null,
                            targetCorpusSize: Long = 0,
                            keepRaw: Boolean = false,
                            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(reshardEvery <= 0 || reshardWith != null || keepRaw,
      "reshardEvery > 0 requires raw vectors to re-encode from: pass " +
        "reshardWith (the source table) or set keepRaw = true (the " +
        "index keeps its own raw-vector sidecar; ~dim*8/m x the code " +
        "state's bytes)")
    val cells0 =
      if (targetCorpusSize > 0)
        graft.llm.Similarity.sqrtIvfParams(targetCorpusSize)._1
      else nCells
    startForeachBatch(stream, checkpointDir, trigger) { (batch, batchId) =>
      if (onCadence(reshardEvery, batchId))
        reshardIvfPqIndex(batch.sparkSession, stateDir, reshardWith,
          idCol, vecCol, batchId, iters = iters)
      if (onCadence(compactEvery, batchId))
        compactIvfPqIndexState(batch.sparkSession, stateDir, batchId)
      ivfPqIndexBatch(batch, batchId, stateDir, idCol, vecCol, cells0,
        iters, m, ks, keepRaw)
    }
  }

  /** One micro-batch of the PQ-index ingest — split out so the
    * differential spec can drive it directly. `keepRaw` additionally
    * writes the batch's raw vectors to a `raw/batch_<id>` sidecar
    * (exactly-once per dir like every other substream), so a later
    * [[reshardIvfPqIndex]] can re-encode WITHOUT the source table —
    * the storage trade (~dim·8/m × the code state) is the caller's
    * opt-in.
    */
  private[graft] def ivfPqIndexBatch(batch: DataFrame, batchId: Long,
                                     stateDir: String, idCol: String,
                                     vecCol: String, nCells: Int,
                                     iters: Int, m: Int, ks: Int,
                                     keepRaw: Boolean = false): Unit = {
    import graft.llm.Similarity
    if (batch.isEmpty) return
    // no scan-parallelism floor: a micro-batch of this body is too
    // small to pay a shuffle job for spreading its encode
    val b = batch.localCheckpoint() // read by train (maybe) + encode
    val (cents, books) = ensurePqQuantizers(b, batchId, stateDir, idCol,
      vecCol, nCells, iters, m, ks)
    // the raw sidecar and the code state are independent sinks over the
    // checkpointed batch — concurrent (guide §2.6)
    graft.Par.settleAll(Seq(
      () => if (keepRaw)
        // the batch stamp makes re-ingested ids LAST-WINS across the
        // sidecar (the source-table path always joins the latest row;
        // the sidecar must match, not keep an arbitrary version)
        b.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"),
            lit(batchId).as("batch"))
          .write.mode("overwrite").parquet(s"$stateDir/raw/batch_$batchId"),
      () => writeCellState(
        Similarity.encodeIvfPq(b, idCol, vecCol, cents, books, m, ks),
        s"$stateDir/codes/batch_$batchId", cents.length)))
    ()
  }

  /** The PQ index's (coarse quantizer, residual codebooks) for batch
    * `batchId`: the ADOPTED re-shard generation ([[ivfPqQuantizerDirs]]
    * — gated on its re-encoded codes having landed), falling back to
    * the strictly-earlier frozen `batch_<id>` training dirs, or train
    * NOW iff no earlier batch ever trained. The PQ analog of
    * [[ensureCentroids]]+the old strictly-earlier book read, made
    * generation-aware so every batch AFTER a re-shard encodes under the
    * re-trained quantizers — codes stay comparable within a generation.
    * A generation already read comes from [[FrozenPq]], without a job.
    */
  private def ensurePqQuantizers(b: DataFrame, batchId: Long,
                                 stateDir: String, idCol: String,
                                 vecCol: String, nCells: Int, iters: Int,
                                 m: Int, ks: Int): FrozenPq.Quantizers = {
    import graft.llm.Similarity
    val spark = b.sparkSession
    import spark.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
    val (centDirs, bookDirs) = ivfPqQuantizerDirs(fs, stateDir, batchId)
    def readCents() = pinnedRead(spark, centDirs)
      .select(col("cell_id"), col("centroid"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    if (centDirs.nonEmpty && bookDirs.nonEmpty)
      return FrozenPq.get(fs, centDirs ++ bookDirs, m, ks)(
        (readCents(), readBooks(spark, bookDirs, m, ks)))
    val cents =
      if (centDirs.nonEmpty) readCents()
      else {
        val trained = Similarity.kmeansCentroids(b, idCol, vecCol, nCells, iters)
        trained.toSeq.toDF("cell_id", "centroid")
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$stateDir/centroids/batch_$batchId")
        trained
      }
    val books =
      if (bookDirs.nonEmpty) readBooks(spark, bookDirs, m, ks)
      else {
        val trained = Similarity.residualBooks(b, idCol, vecCol, m, ks, iters, cents)
        writeBooks(spark, trained, s"$stateDir/books/batch_$batchId")
        trained
      }
    (cents, books)
  }

  /** Frozen PQ quantizers already read, keyed by m, ks and the part
    * files of their generation's dirs. A part file's name carries its
    * write job's UUID, so a re-shard generation, or a training dir that
    * a retried first batch rewrote, is a new key and is read afresh: an
    * entry is never stale, only evicted (the least recently used
    * beyond `MaxEntries`).
    */
  private[graft] object FrozenPq {
    type Quantizers = (Array[(Long, Array[Double])], Array[Array[Array[Double]]])
    private val MaxEntries = 8
    private val entries =
      new java.util.LinkedHashMap[(Int, Int, Seq[String]), Quantizers](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(Int, Int, Seq[String]), Quantizers]): Boolean =
          size > MaxEntries
      }

    def get(fs: org.apache.hadoop.fs.FileSystem, dirs: Seq[String], m: Int, ks: Int)(
        read: => Quantizers): Quantizers = {
      val key = (m, ks, dirs.flatMap(d =>
        fs.listStatus(new org.apache.hadoop.fs.Path(d)).map(_.getPath)
          .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
          .map(_.toString).sorted))
      entries.synchronized(Option(entries.get(key))).getOrElse {
        val q = read
        entries.synchronized(entries.put(key, q))
        q
      }
    }

    def clear(): Unit = entries.synchronized(entries.clear())
  }

  /** The (centroid dirs, codebook dirs) a PQ-index participant at batch
    * `batchId` must use: the newest re-shard generation
    * `compact_upto_<k>` (k ≤ batchId) whose codebooks are complete AND
    * WHOSE RE-ENCODED CODES HAVE LANDED (`codes/compact_upto_<j>`
    * complete for some j ≥ k) — falling back to the original
    * strictly-earlier frozen `batch_<id>` training dirs. The
    * codes-landed gate is [[ivfCentroidDirs]]' re-assignment gate in
    * PQ form: a crash after the centroid/book publication but before
    * the re-encode leaves every reader on the OLD quantizers with
    * their old codes (superseded dirs are GC'd only after the codes
    * generation lands), so probes and ADC never mix generations.
    */
  private[graft] def ivfPqQuantizerDirs(fs: org.apache.hadoop.fs.FileSystem,
                                        stateDir: String,
                                        batchId: Long): (Seq[String], Seq[String]) = {
    def complete(p: org.apache.hadoop.fs.Path): Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
    val centRoot = new org.apache.hadoop.fs.Path(s"$stateDir/centroids")
    val bookRoot = new org.apache.hadoop.fs.Path(s"$stateDir/books")
    val codeRoot = new org.apache.hadoop.fs.Path(s"$stateDir/codes")
    val codesFloor: Long =
      if (!fs.exists(codeRoot)) 0L
      else fs.listStatus(codeRoot).toSeq.map(_.getPath)
        .filter(p => p.getName.startsWith("compact_upto_") && complete(p))
        .flatMap(_.getName.stripPrefix("compact_upto_").toLongOption)
        .filter(_ <= batchId)
        .maxOption.getOrElse(0L)
    val centEntries =
      if (!fs.exists(centRoot)) Seq.empty
      else fs.listStatus(centRoot).toSeq.map(_.getPath)
    val adopted = centEntries
      .filter(p => p.getName.startsWith("compact_upto_") && complete(p))
      .flatMap(p => p.getName.stripPrefix("compact_upto_").toLongOption
        .filter(k => k <= batchId && k <= codesFloor &&
          complete(new org.apache.hadoop.fs.Path(bookRoot, s"compact_upto_$k")))
        .map(k => (k, p.toString)))
      .maxByOption(_._1)
    adopted match {
      case Some((k, centDir)) =>
        (Seq(centDir),
          Seq(new org.apache.hadoop.fs.Path(bookRoot, s"compact_upto_$k").toString))
      case None =>
        def earlier(root: org.apache.hadoop.fs.Path): Seq[String] =
          if (!fs.exists(root)) Seq.empty
          else fs.listStatus(root).toSeq.map(_.getPath)
            .filter(p => p.getName.startsWith("batch_") &&
              p.getName.stripPrefix("batch_").toLongOption.exists(_ < batchId))
            .map(_.toString)
        (earlier(centRoot), earlier(bookRoot))
    }
  }

  /** Serialize residual codebooks as one row per (subspace, code):
    * `(s, c, vals)` — the layout [[readBooks]] reads back.
    */
  private def writeBooks(spark: org.apache.spark.sql.SparkSession,
                         books: Array[Array[Array[Double]]],
                         dir: String): Unit = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (vals, c) => (s, c, vals) }
    }.toSeq.toDF("s", "c", "vals")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  private def readBooks(spark: org.apache.spark.sql.SparkSession,
                        dirs: Seq[String], m: Int,
                        ks: Int): Array[Array[Array[Double]]] = {
    import spark.implicits._
    val rows = pinnedRead(spark, dirs)
      .select(col("s"), col("c"), col("vals"))
      .as[(Int, Int, Array[Double])].collect()
    require(rows.nonEmpty, "empty PQ codebook state")
    val books = Array.ofDim[Array[Double]](m, ks)
    rows.foreach { case (s, c, vals) => books(s)(c) = vals }
    require(books.forall(_.forall(_ != null)),
      s"PQ codebook state incomplete for m=$m ks=$ks")
    books
  }

  /** Compact the PQ-index ingest's code state up to (excluding) batch
    * `upTo` — plain concatenation (codes are immutable under a fixed
    * quantizer generation), keeping the `cell_id=N/` layout.
    *
    * Abandoned-re-shard rollback first: a centroid/book generation
    * whose re-encoded codes never landed (a [[reshardIvfPqIndex]]
    * crashed mid-publication and was never retried) must not be
    * ACTIVATED by this plain concat raising the codes floor past it —
    * the adoption gate ([[ivfPqQuantizerDirs]]) keys on the codes
    * floor, so new-quantizer centroids over old-quantizer codes would
    * silently probe the wrong cells forever. Unlike the raw-vector
    * index (whose compaction COMPLETES an orphaned refresh by
    * re-assigning, [[compactIvfIndexState]]), codes cannot be
    * re-encoded without the source table — so the orphan is ROLLED
    * BACK instead: it was never adopted (the gate never passed), no
    * reader ever saw it, and deleting it restores the
    * single-generation invariant before the floor moves.
    */
  def compactIvfPqIndexState(spark: org.apache.spark.sql.SparkSession,
                             stateDir: String, upTo: Long): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
    val centRoot = new org.apache.hadoop.fs.Path(s"$stateDir/centroids")
    if (fs.exists(centRoot))
      fs.listStatus(centRoot).toSeq.map(_.getPath)
        .filter(_.getName.startsWith("compact_upto_"))
        .foreach { p =>
          p.getName.stripPrefix("compact_upto_").toLongOption.foreach { k =>
            if (k <= upTo && !fs.exists(new org.apache.hadoop.fs.Path(
                s"$stateDir/codes/compact_upto_$k/_SUCCESS"))) {
              fs.delete(p, true)
              fs.delete(new org.apache.hadoop.fs.Path(
                s"$stateDir/books/compact_upto_$k"), true)
            }
          }
        }
    compactCurationState(spark, stateDir, "codes", upTo, identity,
      Seq("cell_id"))
    // the keepRaw sidecar compacts on the same cadence (O(interval)
    // listings between re-shards)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$stateDir/raw")))
      compactCurationState(spark, stateDir, "raw", upTo, dedupRaw)
  }

  /** LAST-WINS dedup of the keepRaw sidecar: a re-ingested id keeps its
    * newest batch's vector — the same row the source-table path's join
    * would read, never an arbitrary survivor.
    */
  private def dedupRaw(df: DataFrame): DataFrame =
    df.groupBy("id").agg(
      max_by(col("vec"), col("batch")).as("vec"),
      max(col("batch")).as("batch"))

  /** Re-shard the streamed PQ index: re-train the coarse quantizer at
    * `nCells ≈ √N` over the vectors accumulated in batches `[0, upTo)`,
    * re-train the residual codebooks under it, re-encode the
    * accumulated membership from `source`, and publish the three as one
    * `compact_upto_<upTo>` GENERATION — the scale remedy for the
    * first-batch-frozen cell count, whose per-probe ADC scan grows as
    * Θ(N/nCells) = Θ(N) and measures LINEAR at a 100× decade. Under the
    * [[graft.llm.Similarity.sqrtIvfParams]] family the re-sharded probe
    * scans ~N^(3/4) rows.
    *
    * The code state stores only m-byte codes, so re-encoding reads raw
    * vectors by id from the SOURCE table (the same table the serving
    * path's exact rerank already reads) — one equi-join of the
    * accumulated id set against the source per re-shard, the cost an
    * offline rebuild would pay anyway, amortized over `reshardEvery`
    * batches. With `source = null` the re-encode instead reads the
    * index's own `raw/` sidecar (the ingest's `keepRaw = true` opt-in
    * — ~dim·8/m × the code state's bytes, the storage trade for a
    * source-independent index), which is then compacted to the same
    * floor and GC'd alongside the other substreams so listings stay
    * O(interval). Missing ids fail LOUDLY either way: a source/sidecar
    * that no longer holds an indexed vector cannot re-encode it, and
    * silently dropping it would shrink the index.
    *
    * Crash-safe in every prefix, mirroring [[refreshIvfIndex]]'s
    * two-publication discipline extended to three:
    *  1. `centroids/compact_upto_<upTo>` (skipped if already complete);
    *  2. `books/compact_upto_<upTo>` under those centroids;
    *  3. `codes/compact_upto_<upTo>` — the re-encoded membership;
    *  4. only then are superseded code/centroid/book dirs GC'd.
    * Readers ([[ivfPqQuantizerDirs]]) adopt the generation only once
    * step 3 has landed; a crash before that leaves them on the old
    * quantizers with their old codes, and the retry converges
    * (each publication is `_SUCCESS`-idempotent). A floor already taken
    * by a PLAIN codes compaction refuses the re-shard (returns false) —
    * publishing centroids there would gate against un-re-encoded codes;
    * the next boundary lands on a fresh floor.
    *
    * `nCells <= 0` derives `√N / 2` from the accumulated membership
    * ([[graft.llm.Similarity.sqrtIvfParams]]); m/ks are inherited from
    * the stored codebooks, so codes stay byte-compatible in width.
    * Single-writer, like every compaction here: call between batches
    * (the `reshardEvery` wiring) or with the stream stopped.
    *
    * @return true iff the generation is complete on return
    */
  def reshardIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                        stateDir: String, source: DataFrame,
                        idCol: String, vecCol: String, upTo: Long,
                        nCells: Int = 0, iters: Int = 5): Boolean = {
    import graft.llm.Similarity
    import spark.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
    val codeDirs = historyDirs(fs, stateDir, "codes", upTo)
    if (codeDirs.isEmpty) return false
    def complete(dir: String): Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"))
    val centTarget = s"$stateDir/centroids/compact_upto_$upTo"
    val bookTarget = s"$stateDir/books/compact_upto_$upTo"
    val codeTarget = s"$stateDir/codes/compact_upto_$upTo"
    // collision guard: a plain compaction already owns this floor —
    // centroids published now would adopt against un-re-encoded codes
    if (complete(codeTarget) && !complete(centTarget)) return false
    if (!(complete(centTarget) && complete(bookTarget) && complete(codeTarget))) {
      // m/ks inherited from the stored codebooks (width compatibility)
      val curBooks =
        if (complete(bookTarget)) Seq(bookTarget)
        else ivfPqQuantizerDirs(fs, stateDir, upTo)._2
      require(curBooks.nonEmpty, s"no PQ codebook state under $stateDir/books")
      val dims = pinnedRead(spark, curBooks)
        .agg(max(col("s")), max(col("c"))).head()
      val (m, ks) = (dims.getInt(0) + 1, dims.getInt(1) + 1)
      // accumulated membership, re-read as raw vectors from the source
      // table — or from the index's own keepRaw sidecar when no source
      // is supplied
      val ids = readCellState(spark, codeDirs).select(col("id")).distinct()
        .localCheckpoint()
      val rawSrc =
        if (source != null)
          source.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
        else {
          val rawDirs = historyDirs(fs, stateDir, "raw", upTo)
          require(rawDirs.nonEmpty,
            s"PQ re-shard under $stateDir: no source table supplied and " +
              "no raw/ sidecar found — pass the source table or run the " +
              "ingest with keepRaw = true")
          dedupRaw(pinnedRead(spark, rawDirs)).select("id", "vec")
        }
      val vecs = rawSrc.join(ids, Seq("id"))
        .localCheckpoint() // read by k-means iters + book train + encode
      val (nState, nJoined) = (ids.count(), vecs.count())
      require(nJoined == nState,
        s"PQ re-shard under $stateDir: ${nState - nJoined} of $nState " +
          "indexed ids are missing from the " +
          (if (source != null) "source table" else "raw/ sidecar") +
          " — cannot re-encode them; restore the rows or rebuild the index")
      val k =
        if (nCells > 0) nCells else Similarity.sqrtIvfParams(nJoined)._1
      if (!complete(centTarget)) {
        // train on an id-sampled subset of ~256 vectors per cell (the
        // standard IVF training budget): full-membership Lloyd's at
        // k ≈ √N costs O(N·√N·dim) per iteration — superlinear in the
        // corpus — while the sampled train is O(N·dim) and the recall
        // band is unchanged (the 20k- and 200k-vector ANN runs in
        // BASELINE.md's round-15 log trained on a 1-in-4 sample).
        // Assignment/encoding below still covers every vector.
        val sampleMod = math.max(1L, nJoined / (256L * k)).toInt
        val trained = Similarity.kmeansCentroids(vecs, "id", "vec", k,
          iters, sampleMod)
        trained.toSeq.toDF("cell_id", "centroid")
          .coalesce(1).write.mode("overwrite").parquet(centTarget)
      }
      val cents = pinnedRead(spark, Seq(centTarget))
        .select(col("cell_id"), col("centroid"))
        .as[(Long, Array[Double])].collect().sortBy(_._1)
      if (!complete(bookTarget))
        writeBooks(spark,
          Similarity.residualBooks(vecs, "id", "vec", m, ks, iters, cents),
          bookTarget)
      val books = readBooks(spark, Seq(bookTarget), m, ks)
      if (!complete(codeTarget))
        writeCellState(
          Similarity.encodeIvfPq(vecs, "id", "vec", cents, books, m, ks),
          codeTarget, cents.length)
    }
    // keepRaw sidecar: compact to the same floor BEFORE the GC below —
    // later re-shards keep their source-independence and the raw
    // listing stays O(interval) like every other substream
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$stateDir/raw")))
      compactCurationState(spark, stateDir, "raw", upTo, dedupRaw)
    // GC superseded state — best-effort, ONLY after the codes
    // generation landed (readers ignore everything it supersedes).
    // Listed from the roots, not from `codeDirs`: a retry that crashed
    // between publication and GC re-enters here with historyDirs
    // already floored AT the new generation, so the pre-publication
    // input list no longer names the superseded dirs.
    for (sub <- Seq("codes", "centroids", "books", "raw")) {
      val root = new org.apache.hadoop.fs.Path(s"$stateDir/$sub")
      if (fs.exists(root))
        fs.listStatus(root).toSeq.map(_.getPath)
          .filter { p =>
            val n = p.getName
            if (n.startsWith("batch_"))
              n.stripPrefix("batch_").toLongOption.exists(_ < upTo)
            else if (n.startsWith("compact_upto_"))
              n.stripPrefix("compact_upto_").toLongOption.exists(_ < upTo)
            else false
          }
          .foreach(p => fs.delete(p, true))
    }
    true
  }

  /** Query the stream-built PQ index: probe + residual-ADC over ONLY
    * the probed `cell_id=N/` state partitions (a collected probe set
    * pushed as a partition filter — the scan never touches non-probed
    * cells, spec-asserted), then exact-cosine rerank re-reading
    * candidate vectors from `corpus` by id — the
    * [[graft.llm.Similarity.ivfPqTopK]] serving shape over
    * materialized state.
    *
    * The derived rerank width (`rerank ≤ 0`) is a FRACTION of the rows
    * one query's probes scan; on a COARSE codebook (small m·log2(ks)
    * bits/vector) under heavy duplicate skew, many candidates tie at
    * the top ADC score and an exact twin can be evicted behind
    * equal-scored near-twins — widen `m`/`ks` (finer codes
    * discriminate) or pass an explicit `rerank` when exact-duplicate
    * retrieval matters more than bytes/vector.
    */
  def ivfPqIndexTopK(spark: org.apache.spark.sql.SparkSession,
                     stateDir: String, queries: DataFrame,
                     corpus: DataFrame, idCol: String, vecCol: String,
                     k: Int, nProbe: Int = 2, rerank: Int = -1): DataFrame = {
    import graft.llm.Similarity
    import spark.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
    // quantizers through the re-shard adoption gate: the newest
    // generation whose re-encoded codes landed, else the frozen
    // batch-0 training dirs — never a half-published generation
    val (centDirs, bookDirs) = ivfPqQuantizerDirs(fs, stateDir, Long.MaxValue)
    require(centDirs.nonEmpty, s"no IVF centroid state under $stateDir/centroids")
    require(bookDirs.nonEmpty, s"no PQ codebook state under $stateDir/books")
    val cents = pinnedRead(spark, centDirs)
      .select(col("cell_id"), col("centroid"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val dims = pinnedRead(spark, bookDirs)
      .agg(max(col("s")), max(col("c"))).head()
    val (m, ks) = (dims.getInt(0) + 1, dims.getInt(1) + 1)
    val books = readBooks(spark, bookDirs, m, ks)
    val codeDirs = historyDirs(fs, stateDir, "codes", Long.MaxValue)
    require(codeDirs.nonEmpty, s"no PQ code state under $stateDir/codes")
    // nProbe <= 0 derives the √-family width 2·√nCells from the BUILT
    // cell count — the serving side of sqrtIvfParams, so a re-sharded
    // index is probed at its design point without the caller knowing
    // the generation's nCells
    val effProbe =
      if (nProbe > 0) nProbe else Similarity.sqrtProbeFor(cents.length)
    val probed = queries
      .select(explode(Similarity.ivfProbeUdf(cents, effProbe)(col(vecCol)))
        .as("cell_id"))
      .distinct().as[Long].collect().toSeq
    val codes = readCellState(spark, codeDirs, Some(probed))
      .select(col("cell_id"), col("id"), col("code"))
    Similarity.probeEncodedCells(codes, queries, corpus, idCol, vecCol, k,
      effProbe, cents, books, m, ks, rerank)
  }

  /** STATEFUL embedding near-dup marking at ingest — SemDeDup's
    * semantics as a stream: each arriving vector is flagged iff an
    * EARLIER vector (history batch, or a lower id within its own
    * batch) lies within cosine `threshold` in its IVF cell — "don't
    * ingest an embedding of something already here". The candidate
    * rule is SAME-CELL ONLY (the SemDeDup confinement,
    * [[graft.llm.Similarity.semanticNearDupPairs]]): a near-dup pair
    * straddling a cell boundary is missed by design, exactly as in the
    * batch operator — identical vectors can never straddle (identical
    * assignment), so exact re-embeds are always caught. First-wins,
    * like the text marker (q9C): flagged vectors still enter the
    * state, so a chain through a flagged doc is caught.
    *
    * State under `stateDir` — the IVF-index layout verbatim
    * (`centroids/` frozen via [[ensureCentroids]], `cells/batch_<id>`
    * all-seen; [[compactIvfIndexState]] compacts it) plus
    * `flags/batch_<id>` `(id, n_dups, max_cos)`. Flags are the
    * per-batch OUTPUT feed, not probe state (the operator never reads
    * them back) — consumers tail new dirs and archive old ones
    * out-of-band, the same contract as the text marker's `flags/` and
    * the exact-dedup `dups/`. The frozen quantizer
    * keeps the candidate rule stable across the stream — a refresh
    * would silently change which pairs are comparable, so this ingest
    * deliberately has no refresh hook.
    *
    * Scale posture: per batch, history contributes ONE equi-join on
    * cell_id against the slim (cell_id, id, vec) state with the batch
    * side BROADCAST — history never shuffles; the within-batch pass is
    * batch-sized. Exact cosine runs only on same-cell candidates.
    */
  def startEmbedDedupIngest(stream: DataFrame, stateDir: String,
                            checkpointDir: String,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding",
                            nCells: Int = 16, iters: Int = 5,
                            threshold: Double = 0.95,
                            compactEvery: Int = 0,
                            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startForeachBatch(stream, checkpointDir, trigger) { (batch, batchId) =>
      if (onCadence(compactEvery, batchId))
        compactIvfIndexState(batch.sparkSession, stateDir, batchId)
      embedDedupBatch(batch, batchId, stateDir, idCol, vecCol, nCells,
        iters, threshold)
    }

  /** One micro-batch of the embedding-dedup ingest — split out so the
    * differential spec can drive it directly.
    */
  private[graft] def embedDedupBatch(batch: DataFrame, batchId: Long,
                                     stateDir: String, idCol: String,
                                     vecCol: String, nCells: Int,
                                     iters: Int, threshold: Double): Unit = {
    import graft.llm.Similarity
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
    val b = graft.llm.Dedup.scanParallel(batch, col(idCol)).localCheckpoint()
    val cents = ensureCentroids(b, batchId, stateDir, idCol, vecCol, nCells, iters)
    val assigned = b.select(
        Similarity.ivfAssignUdf(cents)(col(vecCol)).as("cell_id"),
        col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .localCheckpoint() // reused: within pass, cross probe, state dump
    val sim = Similarity.cosineNative(col("va"), col("vb"))
    // within-batch: same cell, earlier (lower) id wins
    val within = assigned.select(col("cell_id"), col("id").as("ida"), col("vec").as("va"))
      .join(assigned.select(col("cell_id"), col("id").as("idb"), col("vec").as("vb")),
        Seq("cell_id"))
      .where(col("ida") < col("idb"))
      .select(col("idb").as("id"), sim.as("cos"))
      .where(col("cos") >= threshold)
    // cross-batch: history pruned to the batch's OWN cells (a partition
    // filter over the cell_id=N/ state layout — at most nCells dirs,
    // typically far fewer than the accumulated state), batch side
    // broadcast
    val histDirs = historyDirs(fs, stateDir, "cells", batchId)
    val batchCells = assigned.select(col("cell_id")).distinct()
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSeq
    val cross =
      if (histDirs.isEmpty) within.limit(0)
      // the state schema is KNOWN here (it is `assigned`'s own shape) —
      // pass it so the per-batch history read never re-infers footers
      else readCellState(spark, histDirs, Some(batchCells),
          Some(assigned.schema))
        .select(col("cell_id"), col("vec").as("va"))
        .join(broadcast(assigned.select(col("cell_id"),
          col("id"), col("vec").as("vb"))), Seq("cell_id"))
        .select(col("id"), sim.as("cos"))
        .where(col("cos") >= threshold)
    val flags = within.unionByName(cross)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_dups"),
        graft.Portable.round(max(col("cos")), 4).as("max_cos"))
      .localCheckpoint()
    // two independent sinks (flags checkpointed; assigned is a pure
    // projection of the checkpointed batch) — concurrent (guide §2.6)
    graft.Par.settleAll(Seq(
      () => flags.write.mode("overwrite")
        .parquet(s"$stateDir/flags/batch_$batchId"),
      // all-seen: flagged vectors still join the state (chain coverage)
      () => writeCellState(assigned, s"$stateDir/cells/batch_$batchId", nCells)))
    ()
  }

  /** The centroid generation a reader at `batchId` must use: the
    * newest `_SUCCESS`-complete `centroids/compact_upto_<k>` refresh
    * generation with `k <= batchId` WHOSE CELL RE-ASSIGNMENT HAS
    * LANDED (`cells/compact_upto_<j>` complete for some `j >= k`) —
    * falling back to the original strictly-earlier `batch_<id>`
    * training dir. The re-assignment gate makes refresh adoption
    * atomic without a two-dir commit: a crash after the centroid
    * publication but before the cells generation leaves readers on the
    * OLD quantizer (whose assignments are still on disk — superseded
    * centroid dirs are GC'd only after the cells generation lands), so
    * probes and assignments never mix quantizers.
    */
  private[graft] def ivfCentroidDirs(fs: org.apache.hadoop.fs.FileSystem,
                                     stateDir: String,
                                     batchId: Long): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(s"$stateDir/centroids")
    if (!fs.exists(root)) return Seq.empty
    def complete(p: org.apache.hadoop.fs.Path): Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
    val entries = fs.listStatus(root).toSeq.map(_.getPath)
    val cellsRoot = new org.apache.hadoop.fs.Path(s"$stateDir/cells")
    val cellsFloor: Long =
      if (!fs.exists(cellsRoot)) 0L
      else fs.listStatus(cellsRoot).toSeq.map(_.getPath)
        .filter(p => p.getName.startsWith("compact_upto_") && complete(p))
        .flatMap(_.getName.stripPrefix("compact_upto_").toLongOption)
        .filter(_ <= batchId)
        .maxOption.getOrElse(0L)
    val adopted = entries
      .filter(p => p.getName.startsWith("compact_upto_") && complete(p))
      .flatMap(p => p.getName.stripPrefix("compact_upto_").toLongOption
        .filter(k => k <= batchId && k <= cellsFloor).map(k => (k, p.toString)))
      .maxByOption(_._1).map(_._2)
    adopted.map(Seq(_)).getOrElse(
      entries.filter(p => p.getName.startsWith("batch_") &&
        p.getName.stripPrefix("batch_").toLongOption.exists(_ < batchId))
        .map(_.toString))
  }

  /** Re-train the coarse quantizer over the state accumulated in
    * batches `[0, upTo)` and re-assign that state under it — the
    * drift remedy for the streamed IVF index, publishable mid-stream.
    *
    * Two `_SUCCESS`-gated publications, crash-safe in every prefix:
    *  1. `centroids/compact_upto_<upTo>` — the re-trained quantizer
    *     (skipped if already complete: a foreachBatch retry converges);
    *  2. `cells/compact_upto_<upTo>` — the accumulated vectors
    *     re-assigned under it (via [[compactCurationState]], which
    *     also GCs the superseded per-batch cell dirs);
    *  3. only then are superseded centroid dirs GC'd.
    * Readers ([[ivfCentroidDirs]]) adopt generation `upTo` only once
    * step 2 has landed, so a crash between 1 and 2 leaves them on the
    * old quantizer with its old assignments — consistent — and the
    * retry of batch `upTo` completes the refresh before assigning.
    *
    * Determinism: the re-train input is the accumulated state (a
    * deterministic set), k-means init is deterministic, and both
    * publications are idempotent — a retried refresh is a no-op.
    */
  def refreshIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      stateDir: String, upTo: Long,
                      nCells: Int, iters: Int,
                      trainSampleMod: Int = 1): Unit = {
    import graft.llm.Similarity
    import spark.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
    val cellDirs = historyDirs(fs, stateDir, "cells", upTo)
    if (cellDirs.isEmpty) return
    val centTarget = new org.apache.hadoop.fs.Path(
      s"$stateDir/centroids/compact_upto_$upTo")
    val centDone = fs.exists(new org.apache.hadoop.fs.Path(centTarget, "_SUCCESS"))
    // collision guard: a PLAIN cells compaction from an earlier run may
    // already occupy compact_upto_<upTo>. Publishing new centroids
    // would then adopt them against un-re-assigned cells (mixed
    // quantizers); skip this refresh — the old quantizer stays
    // consistent and the next boundary lands on a fresh floor.
    if (!centDone && fs.exists(new org.apache.hadoop.fs.Path(
        s"$stateDir/cells/compact_upto_$upTo/_SUCCESS"))) return
    if (!centDone) {
      val acc = readCellState(spark, cellDirs).select(col("id"), col("vec"))
      val trained = Similarity.kmeansCentroids(acc, "id", "vec", nCells,
        iters, trainSampleMod)
      trained.toSeq.toDF("cell_id", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(centTarget.toString)
    }
    val cents = pinnedRead(spark, Seq(centTarget.toString))
      .select(col("cell_id"), col("centroid"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    compactCurationState(spark, stateDir, "cells", upTo, df =>
      df.select(Similarity.ivfAssignUdf(cents)(col("vec")).as("cell_id"),
        col("id"), col("vec")), Seq("cell_id"))
    // centroid GC LAST: until the cells generation is complete, the old
    // quantizer must stay readable (see ivfCentroidDirs)
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$stateDir/centroids"))
      .map(_.getPath)
      .filter(p => p.getName != s"compact_upto_$upTo" &&
        (p.getName.startsWith("batch_") ||
          p.getName.stripPrefix("compact_upto_").toLongOption.exists(_ < upTo)))
      .foreach(p => fs.delete(p, true))
    ()
  }

  /** √N RE-SHARD of the streamed raw-vector IVF index — the
    * [[reshardIvfPqIndex]] remedy for the RAW family: re-train the
    * coarse quantizer at `nCells ≈ √N` over the membership accumulated
    * in batches `[0, upTo)` and re-assign it, so per-probe cell scans
    * stay Θ(√N) as the corpus grows instead of Θ(N / frozen-nCells)
    * (the first-batch-frozen cell count measured LINEAR at the 100×
    * decade for the PQ family — the raw family shares the layout and
    * the failure mode).
    *
    * Unlike the PQ re-shard, no source table is needed: the state
    * already holds raw vectors, so this is exactly [[refreshIvfIndex]]
    * with the cell count derived from the accumulated census
    * ([[graft.llm.Similarity.sqrtIvfParams]]) instead of frozen — the
    * same two `_SUCCESS`-gated publications, the same
    * [[ivfCentroidDirs]] adoption gate (a torn re-shard leaves readers
    * on the old quantizer), the same plain-compaction collision guard,
    * and the same idempotence on a foreachBatch retry. The census
    * count is footer-metadata work (parquet count pushdown), not a
    * data scan. Serving derives nProbe = 2·√nCells from the ADOPTED
    * generation when the caller passes ≤ 0 ([[ivfIndexTopK]]).
    *
    * Training is id-SAMPLED at ~256 vectors per cell (the
    * [[reshardIvfPqIndex]] budget): full-membership Lloyd's at
    * k ≈ √N costs O(N·√N·dim) PER ITERATION — superlinear in the
    * corpus — while the sampled train is O(N·dim) with the recall
    * band unchanged. The re-assignment still covers every vector
    * (one O(N·√N·dim) pass, the inherent flat-quantizer assignment
    * cost, amortized over `reshardEvery` batches).
    */
  def reshardIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      stateDir: String, upTo: Long,
                      iters: Int = 5, nCells: Int = 0): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
    val cellDirs = historyDirs(fs, stateDir, "cells", upTo)
    if (cellDirs.isEmpty) return
    val n = readCellState(spark, cellDirs).count()
    val cells =
      if (nCells > 0) nCells
      else graft.llm.Similarity.sqrtIvfParams(n)._1
    val sampleMod = math.max(1L, n / (256L * cells)).toInt
    refreshIvfIndex(spark, stateDir, upTo, cells, iters, sampleMod)
  }

  // ------------- curation-state compaction (WAL-rotate analog) ------- //

  /** History inputs for micro-batch `batchId` of a curation stream:
    * the newest `_SUCCESS`-complete `compact_upto_<k>` generation with
    * `k <= batchId` (it holds batches `[0, k)` merged — strictly
    * earlier even for a retry of batch `k` itself) plus the per-batch
    * dirs `[k, batchId)` above the floor. Torn compactions (no
    * `_SUCCESS`) and stale batch dirs below an adopted floor are
    * ignored, so a crash at ANY point of [[compactCurationState]]
    * leaves every reader exact.
    */
  private def historyDirs(fs: org.apache.hadoop.fs.FileSystem,
                          stateDir: String, sub: String,
                          batchId: Long): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(s"$stateDir/$sub")
    if (!fs.exists(root)) return Seq.empty
    val entries = fs.listStatus(root).toSeq.map(_.getPath)
    val compacts = entries
      .filter(_.getName.startsWith("compact_upto_"))
      .flatMap { p =>
        p.getName.stripPrefix("compact_upto_").toLongOption
          .filter(k => k <= batchId &&
            fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
          .map(k => (k, p.toString))
      }
    val (floor, compactDir) = compacts
      .maxByOption(_._1).map { case (k, p) => (k, Seq(p)) }
      .getOrElse((0L, Seq.empty[String]))
    compactDir ++ entries
      .filter(p => p.getName.startsWith("batch_") &&
        p.getName.stripPrefix("batch_").toLongOption
          .exists(j => j >= floor && j < batchId))
      .map(_.toString)
  }

  /** Compact one state substream's batches `[0, upTo)` into a single
    * `compact_upto_<upTo>` generation — the streaming-curation analog
    * of the store's journal rollup (reference precedent: WAL rotate +
    * group flush, `wal/wal.go:81-135`): without it, a long-lived
    * ingest's history listing and small-file count grow per batch
    * forever; with it they are O(compaction interval).
    *
    * Crash-atomic: the merged generation is written first (readers
    * accept it only once its `_SUCCESS` lands); superseded inputs are
    * GC'd after, best-effort — a crash anywhere leaves either the old
    * floor or the new one fully readable, never a mix. Idempotent: an
    * existing complete generation at `upTo` makes the call a no-op, so
    * a foreachBatch retry that re-triggers compaction converges.
    * Single-writer (call from the ingest or between batches) —
    * the per-batch state writes themselves never touch compacted dirs.
    *
    * Ordering constraint: never compact past the stream's CURRENT
    * batch (the `compactEvery` wiring uses `upTo = batchId` of the
    * in-flight batch). Streaming offsets are monotonic — a retry only
    * ever targets the current batch — so every floor a reader can
    * need satisfies `k <= batchId` and is still on disk; compacting
    * ahead of the offset log would break that guarantee.
    */
  private[graft] def compactCurationState(spark: org.apache.spark.sql.SparkSession,
                                          stateDir: String, sub: String,
                                          upTo: Long,
                                          merge: DataFrame => DataFrame,
                                          partitionCols: Seq[String] = Nil): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
    val target = new org.apache.hadoop.fs.Path(
      s"$stateDir/$sub/compact_upto_$upTo")
    if (fs.exists(new org.apache.hadoop.fs.Path(target, "_SUCCESS"))) return
    val inputs = historyDirs(fs, stateDir, sub, upTo)
    if (inputs.isEmpty) return
    // Partitioned substreams (the cell-keyed ANN state is the only
    // one) go through readCellState: per-dir reads (sibling partitioned
    // dirs can't share a multi-root read) with cell_id normalized to
    // LONG in the user schema — so a legacy FLAT per-batch dir (cell_id
    // a long data column, pre-partitioning layout) and a partitioned
    // cell_id=N/ dir compact identically, no implicit union coercion.
    require(partitionCols.isEmpty || partitionCols == Seq("cell_id"),
      s"unsupported partitioned curation-state layout: $partitionCols")
    val input =
      if (partitionCols.isEmpty) pinnedRead(spark, inputs)
      else readCellState(spark, inputs)
    val merged = merge(input)
    // partitioned substreams keep their layout through compaction; the
    // rewrite is the BIG cell-state shuffle, so it takes the same
    // within-cell salt as the per-batch writes (cluster-sized
    // parallelism, files/cell bounded) — nCells from the on-disk
    // cell_id=N/ census, free off the listings already done
    val sized =
      if (partitionCols.isEmpty) merged
      else {
        val nCells = inputs.flatMap(d =>
          fs.listStatus(new org.apache.hadoop.fs.Path(d)).toSeq
            .map(_.getPath.getName).filter(_.startsWith("cell_id=")))
          .distinct.size
        saltedByCell(merged, nCells)
      }
    val writer = sized.write.mode("overwrite")
    (if (partitionCols.isEmpty) writer else writer.partitionBy(partitionCols: _*))
      .parquet(target.toString)
    // GC superseded inputs — best-effort: readers already ignore them
    inputs.foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    ()
  }

  /** Compact the decontaminating ingest's gram state up to (excluding)
    * batch `upTo`: the merged generation is the DISTINCT union of the
    * per-batch gram tables — byte-equivalent history for the bloom
    * build and the exact verify.
    */
  def compactDecontaminationState(spark: org.apache.spark.sql.SparkSession,
                                  stateDir: String, upTo: Long): Unit =
    compactCurationState(spark, stateDir, "grams", upTo, _.distinct())

  /** Compact the near-dup ingest's band + text state up to (excluding)
    * batch `upTo`. Bands merge by distinct (ids are batch-unique, so
    * this is a pure small-file rewrite); the verify-side text table
    * concatenates unchanged.
    */
  def compactNearDupState(spark: org.apache.spark.sql.SparkSession,
                          stateDir: String, upTo: Long): Unit = {
    compactCurationState(spark, stateDir, "bands", upTo, _.distinct())
    compactCurationState(spark, stateDir, "all", upTo, identity)
  }

  /** Compact the drift monitor's histogram state up to (excluding)
    * batch `upTo`: per-batch histograms SUM into one nBuckets-row
    * table — the reader re-sums, so the fold is associative and the
    * compacted history is value-identical.
    */
  def compactDriftState(spark: org.apache.spark.sql.SparkSession,
                        stateDir: String, upTo: Long): Unit =
    compactCurationState(spark, stateDir, "hist", upTo,
      _.groupBy(col("bucket")).agg(sum(col("cnt")).as("cnt")))

  /** Compact the exact-dedup ingest's digest state up to (excluding)
    * batch `upTo`: per-batch digest tables fold by DISTINCT — the
    * reader only tests membership, so the fold is value-identical.
    */
  def compactExactDedupState(spark: org.apache.spark.sql.SparkSession,
                             stateDir: String, upTo: Long): Unit =
    compactCurationState(spark, stateDir, "hashes", upTo, _.distinct())

  /** Compact the HLL-distinct ingest's sketch state up to (excluding)
    * batch `upTo`: per-batch sketches fold by `hll_union_agg` per key.
    * Union keeps the accuracy class; regrouping the fold can move an
    * estimate within the sketch's error band (see
    * [[startHllDistinctIngest]]), which the spec gates.
    */
  def compactHllState(spark: org.apache.spark.sql.SparkSession,
                      stateDir: String, upTo: Long): Unit =
    compactCurationState(spark, stateDir, "sketches", upTo,
      _.groupBy(col("key")).agg(hll_union_agg(col("sketch")).as("sketch")))

  /** The newest `_SUCCESS`-complete centroid generation `<= upTo`
    * WITHOUT the cells-re-assignment gate — what a compaction must
    * assign under (adopted or not: re-assigning under a half-landed
    * refresh COMPLETES it); readers keep using the gated
    * [[ivfCentroidDirs]].
    */
  private def publishedCentroidDirs(fs: org.apache.hadoop.fs.FileSystem,
                                    stateDir: String,
                                    upTo: Long): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(s"$stateDir/centroids")
    if (!fs.exists(root)) return Seq.empty
    val entries = fs.listStatus(root).toSeq.map(_.getPath)
    entries
      .filter(p => p.getName.startsWith("compact_upto_") &&
        fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
      .flatMap(p => p.getName.stripPrefix("compact_upto_").toLongOption
        .filter(_ <= upTo).map(k => (k, p.toString)))
      .maxByOption(_._1).map(t => Seq(t._2))
      .getOrElse(entries.filter(p => p.getName.startsWith("batch_") &&
        p.getName.stripPrefix("batch_").toLongOption.exists(_ < upTo))
        .map(_.toString))
  }

  /** Compact the IVF-index ingest's cell state up to (excluding) batch
    * `upTo` — by RE-ASSIGNING the accumulated vectors under the newest
    * PUBLISHED centroid generation (not an identity concat): if an
    * externally-triggered [[refreshIvfIndex]] crashed after its
    * centroid publication but before its cells re-assignment and was
    * never retried, a plain identity compaction would raise the cells
    * floor past that orphaned generation and [[ivfCentroidDirs]] would
    * adopt it against never-re-assigned cells — probes pruning the
    * wrong cells forever. Re-assignment makes any complete cells floor
    * consistent with the newest centroid generation at or below it,
    * healing the orphan instead of activating it. When no refresh has
    * ever run this is a no-op re-projection of the same assignments.
    */
  def compactIvfIndexState(spark: org.apache.spark.sql.SparkSession,
                           stateDir: String, upTo: Long): Unit = {
    import graft.llm.Similarity
    import spark.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
    val centDirs = publishedCentroidDirs(fs, stateDir, upTo)
    if (centDirs.isEmpty)
      compactCurationState(spark, stateDir, "cells", upTo, identity,
        Seq("cell_id"))
    else {
      val cents = pinnedRead(spark, centDirs)
        .select(col("cell_id"), col("centroid"))
        .as[(Long, Array[Double])].collect().sortBy(_._1)
      compactCurationState(spark, stateDir, "cells", upTo, df =>
        df.select(Similarity.ivfAssignUdf(cents)(col("vec")).as("cell_id"),
          col("id"), col("vec")), Seq("cell_id"))
    }
    compactIvfQstats(spark, stateDir, upTo)
  }

  /** Compact the drift-trigger's quality history up to (excluding)
    * batch `upTo`: the trigger reads only the n-weighted mean, so the
    * per-batch rows fold to ONE row carrying (Σn, Σn·mean/Σn) — the
    * weighted mean is preserved exactly up to one fp divide/remultiply,
    * and the threshold compare is insensitive to that ulp. Without
    * this, a drift-triggered index lists one 1-row qstats dir per batch
    * forever — the linear small-file growth every other substream
    * already compacts away.
    */
  private def compactIvfQstats(spark: org.apache.spark.sql.SparkSession,
                               stateDir: String, upTo: Long): Unit =
    compactCurationState(spark, stateDir, "qstats", upTo, df =>
      df.agg(max(col("batch_id")).as("batch_id"),
        sum(col("n")).as("n"),
        (sum(col("n") * col("mean_best_cos")) / sum(col("n")))
          .as("mean_best_cos"),
        max(col("hist_mean")).as("hist_mean"),
        max(col("refreshed")).as("refreshed")))

  /** Compact the quota ingest's per-source totals up to (excluding)
    * batch `upTo`: per-batch (key, tokens) rows SUM into one
    * O(sources)-row table — the reader re-sums, so the fold is
    * associative and the compacted history is value-identical.
    */
  def compactQuotaState(spark: org.apache.spark.sql.SparkSession,
                        stateDir: String, upTo: Long): Unit =
    compactCurationState(spark, stateDir, "totals", upTo,
      _.groupBy(col("key")).agg(sum(col("tokens")).as("tokens")))

  /** Streaming session windows: events sessionized by inactivity gap,
    * per user (SURVEY.md §2.3 extension row; batch analog is
    * `TimeSeries.sessionize`). Append mode emits a session once the
    * watermark passes its close.
    */
  def streamingSessions(events: DataFrame, gap: String = "30 minutes",
                        lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("total_value"))

  /** Custom-state streaming (SURVEY.md §2.3 last row): running OHLCV per
    * series via `flatMapGroupsWithState` — a candle is held as
    * per-key state while its bucket is live and EMITTED the moment a
    * tick from a later bucket arrives for that key, independent of
    * watermark delay (windowed aggregation can only emit on watermark
    * advance). State is one small struct per series — bounded by series
    * cardinality, not event volume.
    */
  def runningCandles(ticks: org.apache.spark.sql.Dataset[Tick],
                     widthSec: Long): org.apache.spark.sql.Dataset[CandleOut] = {
    import ticks.sparkSession.implicits._
    ticks
      .groupByKey(t => (t.market, t.code))
      .flatMapGroupsWithState[CandleAcc, CandleOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        case ((market, code), it, state) =>
          // In-memory sort of ONE key's ticks from ONE micro-batch —
          // bounded by trigger interval × per-series arrival rate, not
          // by stream length. A series hot enough to overflow a single
          // executor's heap within one trigger needs a shorter trigger
          // (or the windowed-aggregation path, which partial-aggregates).
          val sorted = it.toSeq.sortBy(t => (t.ts.getTime, t.price))
          var acc = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer[CandleOut]()
          sorted.foreach { t =>
            val sec = math.floorDiv(t.ts.getTime, 1000L)
            val bucket = math.floorDiv(sec, widthSec) * widthSec
            if (acc == null || bucket > acc.bucket) {
              if (acc != null)
                out += CandleOut(market, code, new java.sql.Timestamp(acc.bucket * 1000L),
                  widthSec.toInt, acc.open, acc.high, acc.low, acc.close, acc.volume)
              acc = CandleAcc(bucket, t.price, t.price, t.price, t.price, t.qty)
            } else if (bucket == acc.bucket) {
              acc = acc.copy(high = math.max(acc.high, t.price),
                low = math.min(acc.low, t.price), close = t.price,
                volume = acc.volume + t.qty)
            }
            // bucket < acc.bucket: late tick for an already-emitted candle
            // — routed to the batch backfill path (store.upsert accepts
            // arbitrary lateness), not merged into live state.
          }
          if (acc != null) state.update(acc)
          out.iterator
      }
  }

  final case class Tick(market: String, code: String,
                        ts: java.sql.Timestamp, price: Double, qty: Double)
  final case class CandleAcc(bucket: Long, open: Double, high: Double,
                             low: Double, close: Double, volume: Double)
  final case class CandleOut(market: String, code: String,
                             ts: java.sql.Timestamp, candle_length: Int,
                             open: Double, high: Double, low: Double,
                             close: Double, volume: Double)

  /** Stream–stream interval join (SURVEY.md §2.3 extension): enrich one
    * event stream with another's rows at most `spanSec` seconds older,
    * per key — e.g. trades with their preceding quotes. Both sides carry
    * watermarks and the join condition bounds both time columns, so
    * Spark can evict state: each side buffers only `spanSec + lateness`
    * of data per key, never the whole stream (the property that makes
    * this viable on unbounded inputs). Inner join in append mode emits
    * exactly the batch join's rows once both sides have arrived.
    *
    * Sides must not share non-key column names (alias before calling);
    * the right key columns are dropped from the output.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                   leftTs: String, rightTs: String, spanSec: Long,
                   lateness: String = "1 minute"): DataFrame = {
    val l = left.withWatermark(leftTs, lateness)
    val r = right.withWatermark(rightTs, lateness)
    val time = r(rightTs).between(
      l(leftTs) - expr(s"INTERVAL $spanSec SECONDS"), l(leftTs))
    val cond = keys.map(k => l(k) === r(k)).foldLeft(time)(_ && _)
    keys.foldLeft(l.join(r, cond, "inner"))((df, k) => df.drop(r(k)))
  }

  /** Stream–static enrichment join (SURVEY.md §2.3 extension): join a
    * stream against a static dimension table. The static side is
    * broadcast (dimension tables are small by definition), so the
    * streaming side never shuffles — each micro-batch plans a
    * broadcast-hash join, the only viable shape for per-event dimension
    * enrichment on an unbounded stream. Left join keeps events with no
    * dimension row (`unknown` handling stays with the caller).
    */
  def enrichWithStatic(stream: DataFrame, dim: DataFrame,
                       keys: Seq[String]): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), keys, "left")

  /** Streaming OHLCV aggregation: ticks → tumbling-window candles with a
    * watermark (append mode emits each candle once its window closes).
    */
  def streamingCandles(ticks: DataFrame, widthSec: Int,
                       lateness: String = "10 minutes"): DataFrame =
    ticks
      .withWatermark("ts", lateness)
      .groupBy(
        col("market"), col("code"),
        window(col("ts"), s"$widthSec seconds").as("w"))
      .agg(
        min_by(col("price"), col("ts")).as("open"),
        max("price").as("high"),
        min("price").as("low"),
        max_by(col("price"), col("ts")).as("close"),
        sum("qty").as("volume"))
      .select(col("market"), col("code"),
        col("w.start").as("ts"), lit(widthSec).as("candle_length"),
        col("open"), col("high"), col("low"), col("close"), col("volume"))
}
