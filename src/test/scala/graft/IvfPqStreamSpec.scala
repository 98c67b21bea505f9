package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.llm.Similarity
import graft.streaming.Ingest

/** The 100 TB posture of the STREAM-BUILT ANN state (SURVEY.md §2.5,
  * round-10): cell-partitioned state dirs so probes prune at the file
  * level, and the byte-coded PQ variant whose state stores m-byte
  * residual codes instead of raw vectors (reference precedent: the
  * page store's partition-pruned point reads, `candle/store.go` year
  * split — the same "address state by its probe key" discipline).
  */
class IvfPqStreamSpec extends SparkSpec {
  import spark.implicits._

  /** 4 tight direction clusters in 8 dims; ids interleave clusters so
    * every micro-batch slice sees all of them.
    */
  private def vec(id: Long): Seq[Float] = {
    val c = (id % 4).toInt
    (0 until 8).map { j =>
      val base = if (j % 4 == c) 1f else 0f
      base + 0.01f * (((id * 13 + j * 7) % 9) - 4)
    }
  }

  private def batchDf(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, vec(i))).toDF("vec_id", "embedding")

  /** Every FileSourceScan in an executed plan, descending through AQE
    * wrappers and materialized query stages (plain `collect` stops at
    * their leaf boundary).
    */
  private def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = {
    val here = p match {
      case s: FileSourceScanExec => Seq(s)
      case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
      case q: QueryStageExec => fileScans(q.plan)
      case _ => Seq.empty
    }
    here ++ p.children.flatMap(fileScans) ++ p.subqueries.flatMap(fileScans)
  }

  private def parquetFilesUnder(dir: java.io.File): Seq[java.io.File] =
    if (!dir.exists()) Seq.empty
    else {
      val (dirs, files) = dir.listFiles().toSeq.partition(_.isDirectory)
      files.filter(f => f.getName.endsWith(".parquet") && f.length() > 0) ++
        dirs.flatMap(parquetFilesUnder)
    }

  test("probed-cell pruning: ivfIndexTopK's state scans carry a cell_id " +
      "partition filter and read ONLY the probed cell's files") {
    val stateDir = tmpDir("ivf-prune")
    val batches = (0L until 240L).grouped(80).toSeq
    for ((b, i) <- batches.zipWithIndex)
      Ingest.ivfIndexBatch(batchDf(b), i.toLong, stateDir,
        "vec_id", "embedding", nCells = 4, iters = 4)
    val cents = spark.read.parquet(s"$stateDir/centroids/batch_0")
      .select(col("cell_id"), col("centroid"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val queries = batchDf(Seq(1000L)) // cluster 0-aligned probe
    val res = Ingest.ivfIndexTopK(spark, stateDir, queries,
      "vec_id", "embedding", k = 5, nProbe = 1)
    assert(res.collect().length == 5)
    // expected: exactly the files under the probed cell's partition
    // dirs, across all three batch dirs
    val probed = queries
      .select(explode(Similarity.ivfProbeUdf(cents, 1)(col("embedding"))).as("c"))
      .as[Long].collect().toSet
    assert(probed.size == 1, s"nProbe=1 must probe one cell: $probed")
    val allFiles = parquetFilesUnder(new java.io.File(s"$stateDir/cells"))
    val probedFiles = allFiles.filter(f =>
      probed.exists(p => f.getPath.contains(s"cell_id=$p/")))
    assert(probedFiles.nonEmpty && probedFiles.size < allFiles.size,
      s"fixture degenerate: ${probedFiles.size}/${allFiles.size} files probed")
    val scans = fileScans(res.queryExecution.executedPlan)
      .filter(_.metadata.getOrElse("Location", "").contains("/cells/"))
    assert(scans.nonEmpty, "no cells-state FileSourceScan found in the plan")
    scans.foreach { s =>
      val pf = s.metadata.getOrElse("PartitionFilters", "")
      assert(pf.contains("cell_id"),
        s"cell_id partition filter not pushed to the state scan: $pf")
    }
    val scanned = scans.map(_.metrics("numFiles").value).sum
    assert(scanned == probedFiles.size.toLong,
      s"probe scanned $scanned files, expected ONLY the ${probedFiles.size} " +
        s"probed-cell files (state total ${allFiles.size})")
  }

  test("streamed PQ index: codes byte-identical to the batch encoding " +
      "under the frozen quantizers at every boundary; compaction + retry " +
      "exact; state rows are (cell_id, id, m-byte code) only") {
    val m = 4; val ks = 16
    val stateDir = tmpDir("pqidx")
    val batches = (0L until 240L).grouped(80).toSeq
    def readQuantizers(): (Array[(Long, Array[Double])], Array[Array[Array[Double]]]) = {
      val cents = spark.read.parquet(s"$stateDir/centroids/batch_0")
        .select(col("cell_id"), col("centroid"))
        .as[(Long, Array[Double])].collect().sortBy(_._1)
      val rows = spark.read.parquet(s"$stateDir/books/batch_0")
        .select(col("s"), col("c"), col("vals"))
        .as[(Int, Int, Array[Double])].collect()
      val books = Array.ofDim[Array[Double]](m, ks)
      rows.foreach { case (s, c, v) => books(s)(c) = v }
      (cents, books)
    }
    def assertCensus(upTo: Int): Unit = {
      val (cents, books) = readQuantizers()
      val streamed = Ingest.ivfPqCodeState(spark, stateDir)
        .select(col("cell_id"), col("id"), col("code"))
      val expect = Similarity.encodeIvfPq(
        batchDf(batches.take(upTo + 1).flatten), "vec_id", "embedding",
        cents, books, m, ks)
      val diff = streamed.exceptAll(expect)
        .unionAll(expect.exceptAll(streamed)).count()
      assert(diff == 0L, s"boundary $upTo: $diff code rows diverge")
    }
    for ((b, i) <- batches.zipWithIndex) {
      Ingest.ivfPqIndexBatch(batchDf(b), i.toLong, stateDir,
        "vec_id", "embedding", nCells = 4, iters = 4, m = m, ks = ks)
      assertCensus(i)
    }
    // slim state: only (id, code) in the files + the cell_id dir key,
    // code exactly m bytes
    val state = Ingest.ivfPqCodeState(spark, stateDir)
    assert(state.columns.toSet == Set("cell_id", "id", "code"),
      state.columns.mkString(","))
    val lens = state.agg(min(length(col("code"))), max(length(col("code")))).head()
    assert(lens.getInt(0) == m && lens.getInt(1) == m,
      s"codes must be exactly $m bytes: $lens")
    // compaction keeps the layout + stays exact; boundary-batch retry
    // converges
    Ingest.compactIvfPqIndexState(spark, stateDir, 2L)
    assert(new java.io.File(s"$stateDir/codes/compact_upto_2").listFiles()
      .exists(_.getName.startsWith("cell_id=")),
      "compacted codes generation lost the cell_id=N/ layout")
    Ingest.ivfPqIndexBatch(batchDf(batches(2)), 2L, stateDir,
      "vec_id", "embedding", nCells = 4, iters = 4, m = m, ks = ks)
    assertCensus(2)
    // serving: probes prune (partition filter) and exact rerank from
    // the SOURCE recovers the clustered neighbors
    val corpus = batchDf(batches.flatten)
    val queries = batchDf(Seq(1000L, 1001L))
    // rerank widened past the cell population: this fixture's residuals
    // are near-ties the 4×16 codebook cannot order, so a narrower ADC
    // heap would drop true neighbors arbitrarily — recall QUALITY under
    // the derived width is q9Z's gate on the real corpus; this spec
    // gates the serving plumbing (prune → ADC → exact rerank)
    val got = Ingest.ivfPqIndexTopK(spark, stateDir, queries, corpus,
      "vec_id", "embedding", k = 10, nProbe = 1, rerank = 100)
    got.localCheckpoint()
    // tie-tolerant recall: this fixture's clusters are near-ties at
    // round-4 cosine, so id-sets are ambiguous — assert every returned
    // neighbor scores at least the query's exact 10th-best cosine
    // (got.score IS the exact cosine: the rerank is exact by design)
    val exact = Similarity.bruteForceTopK(corpus, queries,
      "vec_id", "embedding", k = 10)
    val floor10 = exact.groupBy("query_id").agg(min(col("score")).as("s10"))
    val genuine = got.join(floor10, Seq("query_id"))
      .where(col("score") >= col("s10")).count()
    assert(genuine == 20,
      s"PQ stream top-10 below the exact 10th-best cosine: $genuine/20")
    val scans = fileScans(got.queryExecution.executedPlan)
      .filter(_.metadata.getOrElse("Location", "").contains("/codes/"))
    assert(scans.nonEmpty && scans.forall(
      _.metadata.getOrElse("PartitionFilters", "").contains("cell_id")),
      "cell_id partition filter not pushed to the codes-state scan")
  }

  test("mixed-layout compaction: a LEGACY flat per-batch dir (cell_id a " +
      "long data column) and partitioned cell_id=N/ dirs compact into one " +
      "identical partitioned generation") {
    val stateDir = tmpDir("ivf-mixed")
    // batch 0 via the normal path (trains + freezes the centroids) …
    Ingest.ivfIndexBatch(batchDf(0L until 80L), 0L, stateDir,
      "vec_id", "embedding", nCells = 4, iters = 4)
    // … then rewritten to the PRE-round-10 FLAT layout: one unpartitioned
    // parquet dir whose cell_id is a LONG data column
    val legacy = Ingest.readCellState(spark, Seq(s"$stateDir/cells/batch_0"))
      .select(col("cell_id"), col("id"), col("vec")).collect()
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/cells/batch_0"), true)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(legacy.toSeq.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cell_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("vec",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType)))))
      .coalesce(1).write.parquet(s"$stateDir/cells/batch_0")
    assert(!new java.io.File(s"$stateDir/cells/batch_0").listFiles()
      .exists(_.getName.startsWith("cell_id=")), "fixture must be FLAT")
    // batch 1 lands partitioned — the state is now mixed-layout
    Ingest.ivfIndexBatch(batchDf(80L until 160L), 1L, stateDir,
      "vec_id", "embedding", nCells = 4, iters = 4)
    def census(): Set[(Long, Long)] =
      Ingest.ivfCellState(spark, stateDir)
        .select(col("cell_id"), col("id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = census()
    assert(before.size == 160, s"${before.size}")
    Ingest.compactIvfIndexState(spark, stateDir, 2L)
    assert(new java.io.File(s"$stateDir/cells/compact_upto_2").listFiles()
      .exists(_.getName.startsWith("cell_id=")),
      "compacted generation lost the cell_id=N/ layout")
    assert(census() == before,
      "mixed-layout compaction changed the (cell_id, id) census")
    // probes over the compacted state still answer and still prune
    val res = Ingest.ivfIndexTopK(spark, stateDir, batchDf(Seq(1000L)),
      "vec_id", "embedding", k = 5, nProbe = 1)
    assert(res.collect().length == 5)
    val scans = fileScans(res.queryExecution.executedPlan)
      .filter(_.metadata.getOrElse("Location", "").contains("/cells/"))
    assert(scans.nonEmpty && scans.forall(
      _.metadata.getOrElse("PartitionFilters", "").contains("cell_id")))
  }

  // ------------------------- re-shard generation ------------------- //
  // Subspace drift (the StreamingSpec q9X fixture): phase A lives in
  // dims (0,1) — two clusters; phase B (a new encoder/domain) lives in
  // dims (2,3) with only id-noise in the old dims, so the frozen coarse
  // quantizer routes phase-B vectors by their NOISE components.
  private def jitD(id: Long, mm: Int): Float =
    (((id * 7 + mm * 13) % 11) - 5) * 0.011f
  private def aVec(id: Long): Seq[Float] =
    if (id % 2 == 0) Seq(1f + jitD(id, 1), jitD(id, 2), 0f, 0f)
    else Seq(jitD(id, 3), 1f + jitD(id, 4), 0f, 0f)
  private def bVec(id: Long): Seq[Float] =
    if (id % 2 == 0)
      Seq(jitD(id, 1) * 0.3f, jitD(id, 2) * 0.3f, 1f + jitD(id, 5), jitD(id, 6))
    else
      Seq(jitD(id, 3) * 0.3f, jitD(id, 4) * 0.3f, jitD(id, 7), 1f + jitD(id, 8))
  private def driftBatches: Seq[Seq[(Long, Seq[Float])]] = {
    val phaseA = (0L until 60L).map(i => (i, aVec(i)))
    val phaseB = (60L until 120L).map(i => (i, bVec(i)))
    Seq(phaseA.take(30), phaseA.drop(30), phaseB.take(30), phaseB.drop(30))
  }

  private def pqRecall(stateDir: String, corpus: DataFrame,
                       queries: DataFrame,
                       truth: Map[Long, Set[Long]]): Double = {
    val got = Ingest.ivfPqIndexTopK(spark, stateDir, queries, corpus,
        "vec_id", "embedding", k = 10, nProbe = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    truth.map { case (q, t) =>
      got.getOrElse(q, Set.empty).count(t).toDouble / t.size
    }.sum / truth.size
  }

  test("PQ re-shard: planted drift sinks the frozen quantizer's recall; " +
      "the √N re-shard generation restores it; post-re-shard batches " +
      "encode under the adopted quantizers; boundary retry converges") {
    val m = 4; val ks = 16
    val batches = driftBatches
    val all = batches.flatten.toDF("vec_id", "embedding")
    val queries = batches(2).take(10).toDF("vec_id", "embedding")
    val truth = Similarity
      .bruteForceTopK(all, queries, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // frozen run: both quantizers trained on batch 0, never re-sharded
    val frozen = tmpDir("pq-frozen")
    for ((b, i) <- batches.zipWithIndex)
      Ingest.ivfPqIndexBatch(b.toDF("vec_id", "embedding"), i.toLong,
        frozen, "vec_id", "embedding", nCells = 4, iters = 4, m = m, ks = ks)
    // re-sharded run: identical stream, re-shard before batch 3 (the
    // writer's reshardEvery wiring, driven directly)
    val reshard = tmpDir("pq-reshard")
    for ((b, i) <- batches.zipWithIndex) {
      if (i == 3) {
        val src = batches.take(3).flatten.toDF("vec_id", "embedding")
        assert(Ingest.reshardIvfPqIndex(spark, reshard, src,
          "vec_id", "embedding", upTo = 3L, iters = 4))
      }
      Ingest.ivfPqIndexBatch(b.toDF("vec_id", "embedding"), i.toLong,
        reshard, "vec_id", "embedding", nCells = 4, iters = 4, m = m, ks = ks)
    }
    val rFrozen = pqRecall(frozen, all, queries, truth)
    val rReshard = pqRecall(reshard, all, queries, truth)
    assert(rFrozen < 0.8, f"planted drift did not sink frozen recall: $rFrozen%.3f")
    assert(rReshard >= 0.9,
      f"re-shard did not restore recall: $rReshard%.3f (frozen $rFrozen%.3f)")
    // the adopted generation is the re-shard, at the derived √N cell
    // count; superseded training dirs are GC'd
    val centNames = new java.io.File(s"$reshard/centroids").listFiles()
      .map(_.getName).toSet
    assert(centNames == Set("compact_upto_3"), centNames.toString)
    val bookNames = new java.io.File(s"$reshard/books").listFiles()
      .map(_.getName).toSet
    assert(bookNames == Set("compact_upto_3"), bookNames.toString)
    val cents = spark.read.parquet(s"$reshard/centroids/compact_upto_3")
      .select(col("cell_id"), col("centroid"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    assert(cents.length == Similarity.sqrtIvfParams(90)._1,
      s"re-shard cell count ${cents.length} is not the √N derivation")
    // the WHOLE state (re-encoded [0,3) + incrementally-encoded batch 3)
    // is byte-identical to the batch encoding under the adopted
    // quantizers — one generation, no mixing
    val rows = spark.read.parquet(s"$reshard/books/compact_upto_3")
      .select(col("s"), col("c"), col("vals"))
      .as[(Int, Int, Array[Double])].collect()
    val books = Array.ofDim[Array[Double]](m, ks)
    rows.foreach { case (s, c, v) => books(s)(c) = v }
    val streamed = Ingest.ivfPqCodeState(spark, reshard)
      .select(col("cell_id"), col("id"), col("code"))
    val expect = Similarity.encodeIvfPq(all, "vec_id", "embedding",
      cents, books, m, ks)
    assert(streamed.exceptAll(expect)
      .unionAll(expect.exceptAll(streamed)).count() == 0L,
      "post-re-shard state diverges from the adopted-generation encoding")
    // boundary retry converges: re-running the re-shard is a no-op and
    // the boundary batch re-encodes identically
    val before = streamed.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getAs[Array[Byte]](2).toSeq)).toSet
    assert(Ingest.reshardIvfPqIndex(spark, reshard,
      batches.take(3).flatten.toDF("vec_id", "embedding"),
      "vec_id", "embedding", upTo = 3L, iters = 4))
    Ingest.ivfPqIndexBatch(batches(3).toDF("vec_id", "embedding"), 3L,
      reshard, "vec_id", "embedding", nCells = 4, iters = 4, m = m, ks = ks)
    val after = Ingest.ivfPqCodeState(spark, reshard)
      .select(col("cell_id"), col("id"), col("code")).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getAs[Array[Byte]](2).toSeq)).toSet
    assert(after == before, "re-shard boundary retry changed the state")
  }

  test("PQ re-shard WITHOUT the source table: the keepRaw sidecar " +
      "re-encodes from state (the one external dependency removed), " +
      "compacts to the re-shard floor, and a sidecar-less null-source " +
      "re-shard fails loudly") {
    val m = 4; val ks = 16
    val batches = driftBatches
    val all = batches.flatten.toDF("vec_id", "embedding")
    val queries = batches(2).take(10).toDF("vec_id", "embedding")
    val truth = Similarity
      .bruteForceTopK(all, queries, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val stateDir = tmpDir("pq-keepraw")
    for ((b, i) <- batches.zipWithIndex) {
      if (i == 3)
        // NO source table: the re-encode reads the index's own sidecar
        assert(Ingest.reshardIvfPqIndex(spark, stateDir, null,
          "vec_id", "embedding", upTo = 3L, iters = 4))
      Ingest.ivfPqIndexBatch(b.toDF("vec_id", "embedding"), i.toLong,
        stateDir, "vec_id", "embedding", nCells = 4, iters = 4,
        m = m, ks = ks, keepRaw = true)
    }
    val r = pqRecall(stateDir, all, queries, truth)
    assert(r >= 0.9, f"sidecar re-shard did not restore recall: $r%.3f")
    // the sidecar compacted at the re-shard floor; superseded batch
    // dirs GC'd — listings stay O(interval) like every substream
    val rawNames = new java.io.File(s"$stateDir/raw").listFiles()
      .map(_.getName).toSet
    assert(rawNames == Set("compact_upto_3", "batch_3"), rawNames.toString)
    assert(spark.read.parquet(s"$stateDir/raw/compact_upto_3",
        s"$stateDir/raw/batch_3")
      .select("id").distinct().count() == 120L,
      "the sidecar must still cover every indexed id")
    // a RE-INGESTED id surfaces its NEWEST vector through the sidecar
    // (last-wins by batch stamp, matching what the source-table join
    // would read): plant id 0 again in batch 4 with a DIFFERENT vector
    // and replicate the re-shard's sidecar read
    def sidecarLatest(id: Long): (Long, Seq[Float]) = {
      val dirs = new java.io.File(s"$stateDir/raw").listFiles()
        .map(_.getPath).toSeq
      spark.read.parquet(dirs: _*)
        .groupBy("id")
        .agg(max_by(col("vec"), col("batch")).as("vec"),
          max(col("batch")).as("batch"))
        .where(col("id") === id)
        .select("batch", "vec").as[(Long, Seq[Float])].collect().head
    }
    assert(sidecarLatest(0L)._1 == 0L, "id 0 first arrived in batch 0")
    Ingest.ivfPqIndexBatch(Seq((0L, bVec(0L))).toDF("vec_id", "embedding"),
      4L, stateDir, "vec_id", "embedding", nCells = 4, iters = 4,
      m = m, ks = ks, keepRaw = true)
    val (stamp, vec) = sidecarLatest(0L)
    assert(stamp == 4L, s"re-ingested id must carry the newest stamp: $stamp")
    assert(vec == bVec(0L),
      "re-ingested id must surface the NEWEST vector, not an arbitrary one")
    // no sidecar + no source: loud, nothing half-done
    val bare = tmpDir("pq-keepraw-bare")
    for ((b, i) <- batches.take(2).zipWithIndex)
      Ingest.ivfPqIndexBatch(b.toDF("vec_id", "embedding"), i.toLong,
        bare, "vec_id", "embedding", nCells = 4, iters = 4, m = m, ks = ks)
    val e = intercept[IllegalArgumentException](
      Ingest.reshardIvfPqIndex(spark, bare, null,
        "vec_id", "embedding", upTo = 2L, iters = 4))
    assert(e.getMessage.contains("keepRaw"), e.getMessage)
    // the ingest-level require admits keepRaw in place of reshardWith
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Float])]
    Ingest.startIvfPqIndexIngest(mem.toDF().toDF("vec_id", "embedding"),
      bare, tmpDir("pq-keepraw-ckpt"), reshardEvery = 3, keepRaw = true,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      .stop()
  }

  test("torn re-shard is invisible at every crash prefix: centroids " +
      "alone, centroids+books — readers stay on the old quantizers; the " +
      "retry completes the generation from the published prefixes") {
    val m = 4; val ks = 16
    val batches = driftBatches
    val stateDir = tmpDir("pq-torn")
    for ((b, i) <- batches.take(3).zipWithIndex)
      Ingest.ivfPqIndexBatch(b.toDF("vec_id", "embedding"), i.toLong,
        stateDir, "vec_id", "embedding", nCells = 4, iters = 4, m = m, ks = ks)
    val corpus = batches.take(3).flatten.toDF("vec_id", "embedding")
    val queries = batches(2).take(10).toDF("vec_id", "embedding")
    def answers(): Set[(Long, Long)] =
      Ingest.ivfPqIndexTopK(spark, stateDir, queries, corpus,
          "vec_id", "embedding", k = 10, nProbe = 1)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pre = answers()
    // crash prefix 1: the re-trained centroid generation lands alone
    val cents3 = Similarity.kmeansCentroids(corpus, "vec_id", "embedding",
      nCells = 5, iters = 4)
    cents3.toSeq.toDF("cell_id", "centroid").coalesce(1)
      .write.parquet(s"$stateDir/centroids/compact_upto_3")
    assert(answers() == pre,
      "torn re-shard (centroids alone) changed reader answers")
    // crash prefix 2: the re-trained codebooks land too — codes still
    // haven't, so the generation must stay invisible
    val books3 = Similarity.residualBooks(corpus, "vec_id", "embedding",
      m, ks, 4, cents3.sortBy(_._1))
    books3.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (vals, c) => (s, c, vals) }
    }.toSeq.toDF("s", "c", "vals").coalesce(1)
      .write.parquet(s"$stateDir/books/compact_upto_3")
    assert(answers() == pre,
      "torn re-shard (centroids+books, no codes) changed reader answers")
    // the retry completes the generation FROM the published prefixes
    // (no retrain — the planted quantizers are adopted verbatim)
    assert(Ingest.reshardIvfPqIndex(spark, stateDir, corpus,
      "vec_id", "embedding", upTo = 3L, iters = 4))
    val centNames = new java.io.File(s"$stateDir/centroids").listFiles()
      .map(_.getName).toSet
    assert(centNames == Set("compact_upto_3"), centNames.toString)
    val adopted = spark.read.parquet(s"$stateDir/centroids/compact_upto_3")
      .select(col("cell_id"), col("centroid"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    assert(adopted.map(_._1).sameElements(cents3.sortBy(_._1).map(_._1)),
      "retry re-trained instead of adopting the published centroids")
    // the completed generation serves: every query still gets k rows
    assert(answers().groupBy(_._1).forall(_._2.size == 10))
  }

  test("abandoned re-shard rollback: a plain compaction deletes an " +
      "orphaned centroid/book generation instead of activating it over " +
      "un-re-encoded codes; collision guard refuses a re-shard onto a " +
      "plain floor; missing source ids fail loudly") {
    val m = 4; val ks = 16
    val batches = driftBatches
    val stateDir = tmpDir("pq-orphan")
    for ((b, i) <- batches.take(2).zipWithIndex)
      Ingest.ivfPqIndexBatch(b.toDF("vec_id", "embedding"), i.toLong,
        stateDir, "vec_id", "embedding", nCells = 4, iters = 4, m = m, ks = ks)
    val corpus = batches.take(2).flatten.toDF("vec_id", "embedding")
    val queries = corpus.where(col("vec_id") < 5)
    def answers(): Set[(Long, Long)] =
      Ingest.ivfPqIndexTopK(spark, stateDir, queries, corpus,
          "vec_id", "embedding", k = 5, nProbe = 1)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pre = answers()
    // orphan: centroids+books published at 2, codes never re-encoded,
    // re-shard never retried (abandoned)
    val orphanCents = Similarity.kmeansCentroids(corpus, "vec_id",
      "embedding", nCells = 3, iters = 2)
    orphanCents.toSeq.toDF("cell_id", "centroid").coalesce(1)
      .write.parquet(s"$stateDir/centroids/compact_upto_2")
    Similarity.residualBooks(corpus, "vec_id", "embedding", m, ks, 2,
        orphanCents.sortBy(_._1))
      .zipWithIndex.flatMap { case (book, s) =>
        book.zipWithIndex.map { case (vals, c) => (s, c, vals) }
      }.toSeq.toDF("s", "c", "vals").coalesce(1)
      .write.parquet(s"$stateDir/books/compact_upto_2")
    // a later plain compaction must ROLL THE ORPHAN BACK before raising
    // the codes floor past it — activating it would probe new-quantizer
    // cells over old-quantizer codes
    Ingest.compactIvfPqIndexState(spark, stateDir, 2L)
    assert(!new java.io.File(s"$stateDir/centroids/compact_upto_2").exists(),
      "plain compaction left the orphaned centroid generation in place")
    assert(!new java.io.File(s"$stateDir/books/compact_upto_2").exists(),
      "plain compaction left the orphaned codebook generation in place")
    assert(new java.io.File(s"$stateDir/codes/compact_upto_2/_SUCCESS").exists(),
      "plain compaction did not land the codes floor")
    assert(answers() == pre, "orphan rollback + plain compaction changed answers")
    // collision guard: the plain floor at 2 refuses a re-shard at 2
    assert(!Ingest.reshardIvfPqIndex(spark, stateDir, corpus,
      "vec_id", "embedding", upTo = 2L, iters = 2),
      "re-shard onto a plain-compaction floor must refuse")
    assert(!new java.io.File(s"$stateDir/centroids/compact_upto_2").exists(),
      "refused re-shard still published centroids")
    // a source missing indexed ids cannot re-encode them — loud refusal
    val e = intercept[IllegalArgumentException](
      Ingest.reshardIvfPqIndex(spark, stateDir,
        corpus.where(col("vec_id") % 2 === 0),
        "vec_id", "embedding", upTo = 3L, iters = 2))
    assert(e.getMessage.contains("missing from the source"), e.getMessage)
  }

  test("writer wiring: reshardEvery re-shards mid-stream through " +
      "foreachBatch and later micro-batches adopt the generation") {
    val m = 4; val ks = 16
    val batches = driftBatches
    val all = batches.flatten.toDF("vec_id", "embedding")
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Float])]
    val stateDir = tmpDir("pq-writer")
    val ckpt = tmpDir("pq-writer-ckpt")
    val q = Ingest.startIvfPqIndexIngest(
      mem.toDF.toDF("vec_id", "embedding"), stateDir, ckpt,
      nCells = 4, iters = 4, m = m, ks = ks,
      reshardEvery = 3, reshardWith = all,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    batches.foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    // the re-shard fired at batch 3: adopted generation on disk, frozen
    // training dirs GC'd, batch 3 encoded under it
    assert(new java.io.File(s"$stateDir/codes/compact_upto_3/_SUCCESS").exists())
    assert(new java.io.File(s"$stateDir/centroids").listFiles()
      .map(_.getName).toSet == Set("compact_upto_3"))
    val queries = batches(2).take(10).toDF("vec_id", "embedding")
    val truth = Similarity
      .bruteForceTopK(all, queries, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val r = pqRecall(stateDir, all, queries, truth)
    assert(r >= 0.9, f"writer-wired re-shard recall $r%.3f")
    // requireds: reshardEvery without a source is a loud config error
    val err = intercept[IllegalArgumentException](
      Ingest.startIvfPqIndexIngest(mem.toDF.toDF("vec_id", "embedding"),
        stateDir, ckpt, reshardEvery = 3))
    assert(err.getMessage.contains("reshardWith"), err.getMessage)
  }

  test("PQ state is an order-of-magnitude slimmer on disk than the raw-" +
      "vector state over the same 64-dim stream") {
    // 64-dim vectors (the testdata width): raw state carries 64 floats
    // + parquet framing per row; PQ state m=8 bytes + id. Assert the
    // honest on-disk ratio, not just the schema.
    def wideVec(id: Long): Seq[Float] = {
      val c = (id % 4).toInt
      (0 until 64).map { j =>
        val base = if (j % 4 == c) 1f else 0f
        // 64k-valued hash jitter: keeps the float leaves incompressible
        // (a coarse 9-value jitter dictionary-encodes to ~7 B/vector
        // and would understate the raw state honestly measured here)
        val h = (id * 2654435761L + j * 40503L) & 0xFFFFL
        base + (h.toFloat / 65536f - 0.5f) * 0.02f
      }
    }
    val df = (0L until 3000L).map(i => (i, wideVec(i))).toDF("vec_id", "embedding")
    val rawDir = tmpDir("state-raw"); val pqDir = tmpDir("state-pq")
    Ingest.ivfIndexBatch(df, 0L, rawDir, "vec_id", "embedding",
      nCells = 4, iters = 2)
    Ingest.ivfPqIndexBatch(df, 0L, pqDir, "vec_id", "embedding",
      nCells = 4, iters = 2, m = 8, ks = 64)
    def bytes(dir: String): Long =
      parquetFilesUnder(new java.io.File(dir)).map(_.length()).sum
    val raw = bytes(s"$rawDir/cells"); val pq = bytes(s"$pqDir/codes")
    assert(pq * 5 < raw,
      s"PQ state ($pq B) not slimmer than 1/5 of raw state ($raw B) " +
        "for 3000 64-dim vectors")
  }

  // ------------------------- quantizer cache ----------------------- //
  private def batchCodes(stateDir: String, i: Int): Set[(Long, Long, Seq[Byte])] =
    spark.read.parquet(s"$stateDir/codes/batch_$i")
      .select(col("cell_id").cast("long"), col("id"), col("code")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Array[Byte]](2).toSeq)).toSet

  test("quantizer cache: the batch after an adopted re-shard encodes as with " +
      "the cache cleared, not under the cached frozen quantizers") {
    val m = 4; val ks = 16
    val batches = driftBatches
    def run(stateDir: String, i: Int): Unit =
      Ingest.ivfPqIndexBatch(batches(i).toDF("vec_id", "embedding"), i.toLong,
        stateDir, "vec_id", "embedding", nCells = 4, iters = 4, m = m, ks = ks)
    val frozen = tmpDir("pq-cache-frozen")
    (0 to 3).foreach(run(frozen, _))
    // batches 1 and 2 read batch 0's quantizers, so the cache holds them
    val stateDir = tmpDir("pq-cache-reshard")
    (0 to 2).foreach(run(stateDir, _))
    assert(Ingest.reshardIvfPqIndex(spark, stateDir,
      batches.take(3).flatten.toDF("vec_id", "embedding"),
      "vec_id", "embedding", upTo = 3L, iters = 4))
    run(stateDir, 3)
    val cached = batchCodes(stateDir, 3)
    Ingest.FrozenPq.clear()
    run(stateDir, 3)
    assert(cached == batchCodes(stateDir, 3), "the cache served a stale generation")
    assert(cached != batchCodes(frozen, 3),
      "the re-shard generation encodes like the frozen one: the check cannot tell")
  }

  test("quantizer cache: batch_0 quantizers rewritten by a retried first batch " +
      "are read again, not served stale") {
    val m = 4; val ks = 16
    val batches = driftBatches
    val stateDir = tmpDir("pq-cache-retry")
    def run(rows: Seq[(Long, Seq[Float])], i: Int): Unit =
      Ingest.ivfPqIndexBatch(rows.toDF("vec_id", "embedding"), i.toLong,
        stateDir, "vec_id", "embedding", nCells = 4, iters = 4, m = m, ks = ks)
    run(batches(0), 0)
    run(batches(1), 1) // caches batch 0's quantizers
    val first = batchCodes(stateDir, 1)
    // the retry rewrites centroids/batch_0 and books/batch_0; other
    // vectors make the rewrite visible in the codes
    run(batches(2), 0)
    run(batches(1), 1)
    val afterRetry = batchCodes(stateDir, 1)
    Ingest.FrozenPq.clear()
    run(batches(1), 1)
    assert(afterRetry == batchCodes(stateDir, 1), "the cache served the replaced quantizers")
    assert(afterRetry != first,
      "the rewritten quantizers encode like the first ones: the check cannot tell")
  }
}
