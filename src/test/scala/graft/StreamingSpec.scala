package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, expr, lit}
import org.apache.spark.sql.streaming.Trigger

import graft.model.Candle
import graft.store.CandleStore
import graft.streaming.Ingest

/** Streaming ingest semantics (SURVEY.md §2.3, fixture F6): micro-batched
  * upsert must converge to the same state as one batch upsert of the
  * concatenation — the Spark analog of the reference's committed-only WAL
  * replay (`wal/flusher.go:93-131`).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def c(code: String, t: String, o: Double): Candle =
    Candle("UPBIT", code, 60, ts(t), o, o + 1, o - 1, o + 0.5, 10.0, 0L)

  test("in-flight curation at ingest: hash split + stratified sample + " +
      "quality gate on a stream == the same projections in batch") {
    // The curation projections are stateless pure functions of each
    // row, so applying them under readStream must yield EXACTLY the
    // batch assignment — the property that lets a pipeline curate at
    // ingest and re-derive the same decisions offline.
    implicit val sqlCtx = spark.sqlContext
    val docs = (0L until 120L).map(i =>
      (i, if (i % 2 == 0) "en" else "de",
        (0 until 8).map(j => s"w${(i * 31 + j) % 90}").mkString(" ")))
    val stream = MemoryStream[(Long, String, String)]
    def curate(df: org.apache.spark.sql.DataFrame) = {
      val split = graft.llm.Sampling.hashSplit(
        df.toDF("doc_id", "lang", "text"), "doc_id",
        Seq("train" -> 0.9, "val" -> 0.1))
      val sampled = graft.llm.Sampling.stratifiedSample(split, "doc_id",
        "lang", Map("de" -> 0.5), defaultRate = 1.0)
      sampled.withColumn("q",
        graft.llm.TextStats.qualityScore(org.apache.spark.sql.functions.col("text")))
        .where(org.apache.spark.sql.functions.col("q") > 0.0)
    }
    val query = curate(stream.toDF()).writeStream
      .format("memory").queryName("curate").outputMode("append").start()
    stream.addData(docs.take(60): _*)
    query.processAllAvailable()
    stream.addData(docs.drop(60): _*)
    query.processAllAvailable()
    query.stop()
    val streamed = spark.table("curate")
      .select("doc_id", "split").as[(Long, String)].collect().toSet
    val batch = curate(docs.toDF())
      .select("doc_id", "split").as[(Long, String)].collect().toSet
    assert(streamed == batch && batch.nonEmpty)
    // the sample dropped some de docs but kept every en doc
    val keptLangs = spark.table("curate").groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    assert(keptLangs("en") == 60L && keptLangs("de") < 60L)
  }

  test("stateful decontaminating ingest: streamed clean == exact batch " +
      "clean at every micro-batch boundary; retry idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val stateDir = tmpDir("decon-state")
    val ckpt = tmpDir("decon-ckpt")
    def doc(id: Long, words: Seq[String]) = (id, words.mkString(" "))
    val base = (0 until 8).map(j => s"w${j}")
    // batch 1: two clean docs; batch 2: one doc sharing a 3-gram run
    // with doc 0 (contaminated) + one clean; batch 3: one sharing with
    // batch 2's SURVIVOR (history accumulates), one clean
    val b1 = Seq(doc(1L, base), doc(2L, (10 until 18).map(j => s"x$j")))
    val b2 = Seq(doc(3L, Seq("z1", "z2") ++ base.take(3) ++ Seq("z3")),
      doc(4L, (20 until 28).map(j => s"y$j")))
    val b3 = Seq(doc(5L, Seq("q1") ++ (20 until 23).map(j => s"y$j") ++ Seq("q2")),
      doc(6L, (30 until 38).map(j => s"v$j")))
    val stream = MemoryStream[(Long, String)]
    val query = Ingest.startDecontaminatingIngest(
      stream.toDF().toDF("doc_id", "text"), stateDir, ckpt,
      shingleN = 3,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    // batch-side mirror: exact (non-bloom) decontamination folded over
    // the same micro-batches — the differential the operator must match
    var hist: Option[org.apache.spark.sql.DataFrame] = None
    var quarantined = Set.empty[Long]
    for (b <- Seq(b1, b2, b3)) {
      stream.addData(b: _*)
      query.processAllAvailable()
      val bdf = b.toDF("doc_id", "text")
      val flagged = hist match {
        case None => Set.empty[Long]
        case Some(h) => graft.llm.Dedup.decontaminate(bdf, h,
            "doc_id", "text", shingleN = 3)
          .select("doc_id").as[Long].collect().toSet
      }
      val surv = bdf.where(!col("doc_id").isin(flagged.toSeq: _*))
      hist = Some(hist.map(_.unionByName(surv)).getOrElse(surv)
        .localCheckpoint())
      quarantined ++= flagged
      // boundary differential: streamed survivor/quarantine state ==
      // the exact batch fold at THIS boundary
      val streamedDocs = spark.read.parquet(s"$stateDir/docs/batch_*")
        .select("doc_id").as[Long].collect().toSet
      val mirrorDocs = hist.get.select("doc_id").as[Long].collect().toSet
      assert(streamedDocs == mirrorDocs,
        s"survivors diverged: streamed=$streamedDocs mirror=$mirrorDocs")
      val streamedQuar = spark.read.parquet(s"$stateDir/quarantine/batch_*")
        .select("doc_id").as[Long].collect().toSet
      assert(streamedQuar == quarantined,
        s"quarantine diverged: streamed=$streamedQuar mirror=$quarantined")
    }
    query.stop()
    // the planted structure resolved as designed
    assert(quarantined == Set(3L, 5L))
    // n_contaminated counts DISTINCT shared grams (doc 3 shares exactly
    // one 3-gram: "w0 w1 w2")
    val nc = spark.read.parquet(s"$stateDir/quarantine/batch_*")
      .as[(Long, Long)].collect().toMap
    assert(nc(3L) == 1L && nc(5L) == 1L)
    // retry idempotence: re-running the LAST batch over the existing
    // state must converge to identical state (overwrite semantics +
    // strictly-earlier history reads)
    val lastBatch = new java.io.File(s"$stateDir/docs").listFiles()
      .map(_.getName.stripPrefix("batch_").toLong).max
    Ingest.curateBatch(b3.toDF("doc_id", "text"), lastBatch, stateDir,
      "doc_id", "text", 3, 0.001)
    val afterRetry = spark.read.parquet(s"$stateDir/docs/batch_*")
      .select("doc_id").as[Long].collect().toSet
    assert(afterRetry == hist.get.select("doc_id").as[Long].collect().toSet)
  }

  test("stateful near-dup ingest: streamed first-wins flags == batch " +
      "drop-later pair set at every micro-batch boundary; retry idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val stateDir = tmpDir("neardup-state")
    val ckpt = tmpDir("neardup-ckpt")
    def doc(id: Long, words: Seq[String]) = (id, words.mkString(" "))
    val base = (0 until 30).map(j => s"w$j") // 28 shingles: 1-word edit → J≈0.81
    // batch 1: doc 1 + an unrelated doc; batch 2: doc 3 = near-dup of
    // doc 1 (one word changed), doc 4 clean; batch 3: doc 5 = near-dup
    // of doc 3 (chains THROUGH a flagged doc — all-seen state, not
    // survivors-only), doc 6 = within-batch near-dup of doc 5, doc 7
    // clean. Ids are arrival-monotonic, so the batch drop-later set is
    // the differential.
    val b1 = Seq(doc(1L, base), doc(2L, (40 until 70).map(j => s"x$j")))
    val b2 = Seq(doc(3L, base.updated(15, "EDIT")), doc(4L, (80 until 110).map(j => s"y$j")))
    val b3 = Seq(doc(5L, base.updated(15, "EDIT").updated(25, "EDIT2")),
      doc(6L, base.updated(15, "EDIT").updated(25, "EDIT2").updated(0, "EDIT3")),
      doc(7L, (120 until 150).map(j => s"z$j")))
    val stream = MemoryStream[(Long, String)]
    val query = Ingest.startNearDupIngest(
      stream.toDF().toDF("doc_id", "text"), stateDir, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    var seen = Seq.empty[(Long, String)]
    for (b <- Seq(b1, b2, b3)) {
      stream.addData(b: _*)
      query.processAllAvailable()
      seen ++= b
      // boundary differential: streamed flags == the batch operator's
      // drop-later set over the WHOLE prefix (same LSH params)
      val mirror = graft.llm.Dedup.minhashNearDupPairs(
        seen.toDF("doc_id", "text"), "doc_id", "text")
        .groupBy(col("id_b")).count()
        .select("id_b", "count").as[(Long, Long)].collect().toMap
      val streamed = spark.read.parquet(s"$stateDir/flags/batch_*")
        .select("doc_id", "n_pairs").as[(Long, Long)].collect().toMap
      assert(streamed == mirror,
        s"flags diverged at prefix ${seen.map(_._1)}: streamed=$streamed mirror=$mirror")
    }
    query.stop()
    // planted structure: exactly the three later near-dups are flagged
    // (pair COUNTS depend on which lower-J pairs the deterministic LSH
    // admits — the differential above already pins them to the batch
    // operator, so here we assert the flag SET)
    val flags = spark.read.parquet(s"$stateDir/flags/batch_*")
      .select("doc_id", "n_pairs").as[(Long, Long)].collect().toMap
    assert(flags.keySet == Set(3L, 5L, 6L), s"got $flags")
    assert(flags(3L) == 1L) // doc 3's only earlier near-dup is doc 1
    // clean feed = everything minus the flagged later-arrivals
    val survivors = spark.read.parquet(s"$stateDir/docs/batch_*")
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(1L, 2L, 4L, 7L))
    // max_jaccard is the exact verified pair jaccard, rounded
    val mj = spark.read.parquet(s"$stateDir/flags/batch_*")
      .select("doc_id", "max_jaccard").as[(Long, Double)].collect().toMap
    assert(mj.values.forall(j => j >= 0.5 && j <= 1.0), s"got $mj")
    // retry idempotence: re-running the LAST batch over existing state
    // converges to identical flags (overwrite + strictly-earlier reads)
    val lastBatch = new java.io.File(s"$stateDir/flags").listFiles()
      .map(_.getName.stripPrefix("batch_").toLong).max
    Ingest.nearDupBatch(b3.toDF("doc_id", "text"), lastBatch, stateDir,
      "doc_id", "text", 3, 32, 8, 0.5)
    val afterRetry = spark.read.parquet(s"$stateDir/flags/batch_*")
      .select("doc_id", "n_pairs").as[(Long, Long)].collect().toMap
    assert(afterRetry == flags)
  }

  test("stateful drift-monitor ingest: streamed JSD == independent exact " +
      "fold at every boundary; drifted batch alarms; retry idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val stateDir = tmpDir("drift-state")
    val ckpt = tmpDir("drift-ckpt")
    def doc(id: Long, words: Seq[String]) = (id, words.mkString(" "))
    // batch 1: alpha-heavy; batch 2: the SAME vocabulary, mildly
    // reweighted (low JSD, no alarm); batch 3: all-new vocabulary
    // (JSD → ln 2, alarm)
    val b1 = Seq(doc(1L, Seq.fill(20)("alpha") ++ Seq.fill(10)("beta")),
      doc(2L, Seq.fill(10)("gamma")))
    val b2 = Seq(doc(3L,
      Seq.fill(18)("alpha") ++ Seq.fill(12)("beta") ++ Seq.fill(8)("gamma")))
    val b3 = Seq(doc(4L, (0 until 40).map(j => s"new$j")))
    // independent mirror: pure-Scala 60-bit md5 hash, histogram, JSD
    def bucketOf(w: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(w.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16) % 256L
    }
    def hist(b: Seq[(Long, String)]): Map[Long, Long] =
      b.flatMap(_._2.toLowerCase.split("\\s+")).map(bucketOf)
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    def jsd(pb: Map[Long, Long], qb: Map[Long, Long]): Double = {
      val (tp, tq) = (pb.values.sum.toDouble, qb.values.sum.toDouble)
      (pb.keySet ++ qb.keySet).toSeq.map { k =>
        val p = pb.getOrElse(k, 0L) / tp
        val q = qb.getOrElse(k, 0L) / tq
        (if (p > 0) p * math.log(2 * p / (p + q)) else 0.0) +
          (if (q > 0) q * math.log(2 * q / (p + q)) else 0.0)
      }.sum * 0.5
    }
    def round4(x: Double): Double = math.floor(x * 1e4 + 0.5) / 1e4
    val stream = MemoryStream[(Long, String)]
    // compactEvery = 1: every batch folds all earlier history into one
    // generation first — the differential below then ALSO proves the
    // auto-compaction path exact at every boundary
    val query = Ingest.startDriftMonitorIngest(
      stream.toDF().toDF("doc_id", "text"), stateDir, ckpt,
      compactEvery = 1,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    var history = Map.empty[Long, Long]
    val expected = scala.collection.mutable.Map.empty[Long, (Long, Long, Double, Boolean)]
    for ((b, i) <- Seq(b1, b2, b3).zipWithIndex) {
      stream.addData(b: _*)
      query.processAllAvailable()
      val hb = hist(b)
      val js = if (history.isEmpty) 0.0 else jsd(hb, history)
      expected(i.toLong) =
        (b.size.toLong, hb.values.sum, round4(js), i > 0 && js >= 0.1)
      history = (history.keySet ++ hb.keySet).iterator
        .map(k => k -> (history.getOrElse(k, 0L) + hb.getOrElse(k, 0L))).toMap
      // boundary differential: streamed drift report == the exact fold
      val streamed = spark.read.parquet(s"$stateDir/drift/batch_*")
        .select("batch_id", "n_docs", "n_grams", "js_div", "alarm")
        .as[(Long, Long, Long, Double, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      assert(streamed == expected.toMap,
        s"drift diverged at batch $i: streamed=$streamed expected=$expected")
    }
    query.stop()
    // planted structure: the reweighted batch stays quiet, the
    // new-vocabulary batch alarms
    assert(!expected(1L)._4 && expected(2L)._4)
    assert(expected(2L)._3 > 0.5) // disjoint support → JSD near ln 2
    // retry idempotence: re-running the LAST batch over existing state
    // converges (overwrite + strictly-earlier history reads)
    Ingest.driftBatch(b3.toDF("doc_id", "text"), 2L, stateDir,
      "text", 256L, 0.1)
    val afterRetry = spark.read.parquet(s"$stateDir/drift/batch_*")
      .select("batch_id", "js_div", "alarm")
      .as[(Long, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(afterRetry(2L) == ((expected(2L)._3, true)))
  }

  test("stateful quota ingest: streamed per-source token budget == " +
      "independent sequential fold at every boundary; one-batch stream == " +
      "batch tokenBudget; retry idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val stateDir = tmpDir("quota-state")
    val ckpt = tmpDir("quota-ckpt")
    // (doc_id, source, n_tokens): source a budget 50, b budget 25
    val budgets = Map("a" -> 50L, "b" -> 25L)
    val b1 = Seq((1L, "a", 15), (2L, "b", 8), (3L, "a", 20), (4L, "b", 9))
    val b2 = Seq((5L, "a", 10), (6L, "b", 5), (7L, "a", 12)) // a crosses 50 mid-batch
    val b3 = Seq((8L, "a", 1), (9L, "b", 2)) // a closed (cum counts dropped rows), b still open
    // independent mirror: md5 60-bit unit hash, then the arrival-order
    // fold — within a batch, per source, order by (hash, id); cum sums
    // ALL seen tokens; admit iff cum <= budget
    def uHash(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$id|budget".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16) % 10000L
    }
    val seen = scala.collection.mutable.Map.empty[String, Long]
    val expAdmitted = scala.collection.mutable.Map.empty[Long, Long] // id -> cum
    val expDropped = scala.collection.mutable.Set.empty[Long]
    def foldBatch(b: Seq[(Long, String, Int)]): Unit =
      b.groupBy(_._2).foreach { case (src, rows) =>
        var cum = seen.getOrElse(src, 0L)
        rows.sortBy(r => (uHash(r._1), r._1)).foreach { case (id, _, n) =>
          cum += n
          if (cum <= budgets(src)) expAdmitted(id) = cum else expDropped += id
        }
        seen(src) = cum
      }
    val stream = MemoryStream[(Long, String, Int)]
    // compactEvery = 1: every boundary also proves the totals
    // compaction exact under the same differential
    val query = Ingest.startQuotaIngest(
      stream.toDF().toDF("doc_id", "source", "n_tokens"), stateDir, ckpt,
      budgets = budgets, defaultBudget = 0L, compactEvery = 1,
      trigger = Trigger.ProcessingTime(0L))
    for ((b, i) <- Seq(b1, b2, b3).zipWithIndex) {
      stream.addData(b: _*)
      query.processAllAvailable()
      foldBatch(b)
      val admitted = spark.read.parquet(s"$stateDir/docs/batch_*")
        .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toMap
      val dropped = spark.read.parquet(s"$stateDir/dropped/batch_*")
        .select("doc_id").as[Long].collect().toSet
      assert(admitted == expAdmitted.toMap,
        s"admitted diverged at batch $i: $admitted vs $expAdmitted")
      assert(dropped == expDropped.toSet,
        s"dropped diverged at batch $i: $dropped vs $expDropped")
    }
    query.stop()
    // the planted structure: a closed by batch 2's overflow and stays
    // closed for a 1-token doc; b admits to the end
    assert(expDropped.contains(7L) || expDropped.contains(5L))
    assert(expDropped.contains(8L) && expAdmitted.contains(9L))
    // retry idempotence: re-running the LAST batch over existing state
    // converges (overwrite + strictly-earlier history reads)
    Ingest.quotaBatch(b3.toDF("doc_id", "source", "n_tokens"), 2L,
      stateDir, "doc_id", "source", "n_tokens", budgets, 0L, "budget")
    val afterRetry = spark.read.parquet(s"$stateDir/docs/batch_*")
      .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toMap
    assert(afterRetry == expAdmitted.toMap)
    // one-batch stream == the batch operator (same hash order, no
    // history): the parity anchor to Sampling.tokenBudget
    val oneDir = tmpDir("quota-one")
    val all = b1 ++ b2 ++ b3
    Ingest.quotaBatch(all.toDF("doc_id", "source", "n_tokens"), 0L,
      oneDir, "doc_id", "source", "n_tokens", budgets, 0L, "budget")
    val oneShot = spark.read.parquet(s"$oneDir/docs/batch_0")
      .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toMap
    val batchOp = graft.llm.Sampling.tokenBudget(
      all.toDF("doc_id", "source", "n_tokens"), "doc_id", "source",
      "n_tokens", budgets, defaultBudget = 0L)
      .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toMap
    assert(oneShot == batchOp && batchOp.nonEmpty)
  }

  test("torn compactions are invisible to every round-8 ingest stream: " +
      "quota totals, exact-dedup digests, IVF cells, HLL sketches") {
    import graft.streaming.Ingest
    import org.apache.spark.sql.functions.col
    // plant a _SUCCESS-less compact_upto_2 with GARBAGE content in each
    // stream's state substream after 2 real batches; batch 2 must read
    // the per-batch history unchanged (readers only adopt complete
    // generations), and a SUBSEQUENT real compaction converges
    def tear(stateDir: String, sub: String, garbage: org.apache.spark.sql.DataFrame): Unit = {
      garbage.write.parquet(s"$stateDir/$sub/compact_upto_2")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$stateDir/$sub/compact_upto_2/_SUCCESS"), false)
      ()
    }
    // --- quota ---
    val qDir = tmpDir("torn-quota")
    val qb = Seq(Seq((1L, "a", 30), (2L, "b", 5)), Seq((3L, "a", 30)),
      Seq((4L, "a", 1), (5L, "b", 1)))
    qb.take(2).zipWithIndex.foreach { case (b, i) =>
      Ingest.quotaBatch(b.toDF("doc_id", "source", "n_tokens"), i.toLong,
        qDir, "doc_id", "source", "n_tokens", Map("a" -> 50L, "b" -> 25L), 0L, "budget")
    }
    // garbage that WOULD change behavior if adopted: b jumps past its budget
    tear(qDir, "totals", Seq(("b", 999999L)).toDF("key", "tokens"))
    Ingest.quotaBatch(qb(2).toDF("doc_id", "source", "n_tokens"), 2L,
      qDir, "doc_id", "source", "n_tokens", Map("a" -> 50L, "b" -> 25L), 0L, "budget")
    // a=60 seen after batch 1 -> doc 4 drops; garbage would drop doc 5 too
    val qDropped = spark.read.parquet(s"$qDir/dropped/batch_*")
      .select("doc_id").as[Long].collect().toSet
    assert(qDropped == Set(3L, 4L), s"torn quota compaction leaked: $qDropped")
    Ingest.compactQuotaState(spark, qDir, 2L) // real compaction heals it
    Ingest.quotaBatch(qb(2).toDF("doc_id", "source", "n_tokens"), 2L,
      qDir, "doc_id", "source", "n_tokens", Map("a" -> 50L, "b" -> 25L), 0L, "budget")
    assert(spark.read.parquet(s"$qDir/dropped/batch_*")
      .select("doc_id").as[Long].collect().toSet == Set(3L, 4L))
    // --- exact dedup ---
    val eDir = tmpDir("torn-exdedup")
    val eb = Seq(Seq((1L, "aa bb")), Seq((2L, "cc dd")), Seq((3L, "aa bb"), (4L, "ee ff")))
    eb.take(2).zipWithIndex.foreach { case (b, i) =>
      Ingest.exactDedupBatch(b.toDF("doc_id", "text"), i.toLong, eDir, "doc_id", "text")
    }
    // garbage that WOULD drop doc 4 if adopted: the digest of "ee ff"
    tear(eDir, "hashes", Seq("ee ff").toDF("t")
      .select(org.apache.spark.sql.functions.sha2(
        org.apache.spark.sql.functions.lower(
          org.apache.spark.sql.functions.trim(col("t"))), 256).as("_digest")))
    Ingest.exactDedupBatch(eb(2).toDF("doc_id", "text"), 2L, eDir, "doc_id", "text")
    val eDropped = spark.read.parquet(s"$eDir/dups/batch_*")
      .select("doc_id").as[Long].collect().toSet
    assert(eDropped == Set(3L), s"torn dedup compaction leaked: $eDropped")
    // --- HLL ---
    val hDir = tmpDir("torn-hll")
    val hb = Seq(Seq((1L, "a", "w1 w2 w3")), Seq((2L, "a", "w3 w4")),
      Seq((3L, "a", "w5")))
    hb.take(2).zipWithIndex.foreach { case (b, i) =>
      Ingest.hllDistinctBatch(b.toDF("doc_id", "source", "text"), i.toLong,
        hDir, "text", "source", 12)
    }
    tear(hDir, "sketches", Seq(("a", Array[Byte](1, 2, 3))).toDF("key", "sketch"))
    Ingest.hllDistinctBatch(hb(2).toDF("doc_id", "source", "text"), 2L,
      hDir, "text", "source", 12)
    val hCount = spark.read.parquet(s"$hDir/counts/batch_2")
      .select("distinct_tokens").as[Long].head()
    assert(math.abs(hCount - 5L) <= 1L,
      s"torn HLL compaction corrupted the union: $hCount")
    // --- IVF cells ---
    val iDir = tmpDir("torn-ivf")
    val ib = (0L until 30L).map(i => (i, Seq((i % 3).toFloat, 1f))).grouped(10).toSeq
    ib.take(2).zipWithIndex.foreach { case (b, i) =>
      Ingest.ivfIndexBatch(b.toDF("vec_id", "embedding"), i.toLong, iDir,
        "vec_id", "embedding", nCells = 3, iters = 2)
    }
    tear(iDir, "cells", Seq((99L, 999L, Seq(9f, 9f))).toDF("cell_id", "id", "vec"))
    Ingest.ivfIndexBatch(ib(2).toDF("vec_id", "embedding"), 2L, iDir,
      "vec_id", "embedding", nCells = 3, iters = 2)
    val ids = Ingest.ivfIndexTopK(spark, iDir,
        ib.head.take(1).toDF("vec_id", "embedding"), "vec_id", "embedding",
        k = 40, nProbe = 3)
      .select("neighbor_id").as[Long].collect().toSet
    assert(!ids.contains(999L) && ids.size == 29,
      s"torn IVF compaction leaked garbage rows: ${ids.size} ids")
  }

  test("stateful HLL-distinct ingest: stream union tracks the one-shot " +
      "sketch and exact counts at every boundary; compaction stays in " +
      "band; retry idempotent") {
    import graft.streaming.Ingest
    import org.apache.spark.sql.functions.{hll_sketch_agg, hll_sketch_estimate, explode, col, lit}
    val stateDir = tmpDir("hll-state")
    // vocab overlaps across batches: shared tokens must count once
    def doc(id: Long, src: String, words: Seq[String]) = (id, src, words.mkString(" "))
    val b1 = Seq(doc(1L, "a", (0 until 300).map(i => s"w$i")),
      doc(2L, "b", (0 until 50).map(i => s"x$i")))
    val b2 = Seq(doc(3L, "a", (200 until 500).map(i => s"w$i"))) // 100 overlap
    val b3 = Seq(doc(4L, "b", (0 until 80).map(i => s"x$i")),    // 50 overlap
      doc(5L, "a", Seq("w0", "w1", "zz1")))                      // mostly seen
    val prefix = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
    for ((b, i) <- Seq(b1, b2, b3).zipWithIndex) {
      Ingest.hllDistinctBatch(b.toDF("doc_id", "source", "text"), i.toLong,
        stateDir, "text", "source", 12)
      prefix ++= b
      // boundary differential: the running stream estimate tracks the
      // ONE-SHOT sketch over the whole prefix (union keeps the
      // accuracy class; promotion during union may nudge a register)
      val streamed = spark.read.parquet(s"$stateDir/counts/batch_$i")
        .select("key", "distinct_tokens")
        .as[(String, Long)].collect().toMap
      val oneShot = prefix.toSeq.toDF("doc_id", "source", "text")
        .select(col("source").as("key"),
          explode(graft.llm.TextStats.tokens(col("text"))).as("_w"))
        .groupBy(col("key"))
        .agg(hll_sketch_estimate(hll_sketch_agg(col("_w"), 12)).as("est"))
        .as[(String, Long)].collect().toMap
      def near(a: Long, b: Long) = math.abs(a - b) <= math.max(1L, (0.02 * b).toLong)
      assert(streamed.keySet == oneShot.keySet &&
        streamed.forall { case (k, v) => near(v, oneShot(k)) },
        s"batch $i: $streamed vs $oneShot")
      val exact = prefix.toSeq.groupBy(_._2).map { case (k, rows) =>
        k -> rows.flatMap(_._3.split(" ")).distinct.size.toLong
      }
      assert(streamed.forall { case (k, v) => near(v, exact(k)) },
        s"batch $i: $streamed vs exact $exact")
    }
    // compaction regroups the union fold; the report stays in band
    val before = spark.read.parquet(s"$stateDir/counts/batch_2")
      .as[(String, Long)].collect().toMap
    Ingest.compactHllState(spark, stateDir, 2L)
    Ingest.hllDistinctBatch(b3.toDF("doc_id", "source", "text"), 2L,
      stateDir, "text", "source", 12) // retry reads through the floor
    val after = spark.read.parquet(s"$stateDir/counts/batch_2")
      .as[(String, Long)].collect().toMap
    assert(after.keySet == before.keySet && after.forall { case (k, v) =>
      math.abs(v - before(k)) <= math.max(1L, (0.02 * before(k)).toLong) },
      s"$after vs $before")
    val names = new java.io.File(s"$stateDir/sketches").listFiles().map(_.getName).toSet
    assert(names.contains("compact_upto_2") && !names.contains("batch_0"), names.toString)
  }

  test("stateful exact-dedup ingest: first-wins by (batch, id) at every " +
      "boundary; digest compaction exact; retry idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val stateDir = tmpDir("exdedup-state")
    val ckpt = tmpDir("exdedup-ckpt")
    // batch 1: two distinct docs + a DOUBLE-SPACED near-copy of doc 1
    // (id 3 — exact dedup must NOT drop it: trim+lower does not
    // collapse inner whitespace); batch 2: a cross-batch copy (id 4 =
    // doc 2's text, edge-whitespace-padded — normalization must catch
    // it) + a fresh doc; batch 3: a copy of the batch-2 fresh doc and
    // a copy of doc 1's text (id 7)
    val b1 = Seq((1L, "alpha beta"), (2L, "gamma delta"), (3L, "Alpha  Beta".toLowerCase))
    val b2 = Seq((4L, "  gamma delta "), (5L, "epsilon zeta"))
    val b3 = Seq((6L, "epsilon zeta"), (7L, "alpha beta"), (8L, "eta theta"))
    // NOTE: doc 3's text "alpha  beta" (double space) normalizes to a
    // DIFFERENT digest than "alpha beta" under sha2(lower(trim())) —
    // mirror the operator exactly with a trim+lower fold
    def norm(t: String) = t.trim.toLowerCase
    val stream = MemoryStream[(Long, String)]
    val query = Ingest.startExactDedupIngest(
      stream.toDF().toDF("doc_id", "text"), stateDir, ckpt,
      compactEvery = 1, trigger = Trigger.ProcessingTime(0L))
    val seen = scala.collection.mutable.Set.empty[String]
    val expDropped = scala.collection.mutable.Set.empty[Long]
    for ((b, i) <- Seq(b1, b2, b3).zipWithIndex) {
      stream.addData(b: _*)
      query.processAllAvailable()
      b.groupBy(r => norm(r._2)).foreach { case (nt, rows) =>
        val sorted = rows.sortBy(_._1)
        val winner = if (seen(nt)) None else Some(sorted.head._1)
        sorted.foreach { case (id, _) =>
          if (!winner.contains(id)) expDropped += id
        }
        seen += nt
      }
      val dropped = spark.read.parquet(s"$stateDir/dups/batch_*")
        .select("doc_id").as[Long].collect().toSet
      assert(dropped == expDropped.toSet,
        s"batch $i: dropped=$dropped expected=$expDropped")
    }
    query.stop()
    // planted resolution: 4 (cross-batch after trim), 6 (cross-batch),
    // 7 (copy of doc 1's text); the double-spaced near-copy 3 survives
    assert(expDropped == Set(4L, 6L, 7L), expDropped.toString)
    val survivors = spark.read.parquet(s"$stateDir/docs/batch_*")
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(1L, 2L, 3L, 5L, 8L))
    // retry of the last batch converges
    Ingest.exactDedupBatch(b3.toDF("doc_id", "text"), 2L, stateDir,
      "doc_id", "text")
    val afterRetry = spark.read.parquet(s"$stateDir/dups/batch_*")
      .select("doc_id").as[Long].collect().toSet
    assert(afterRetry == expDropped.toSet)
  }

  test("exact-dedup ingest: a digest spanning TWO uncompacted history " +
      "batches flags a later copy ONCE, and compaction is value-identical") {
    // Regression: hashes/ records ALL batch digests (including blocked
    // copies), so a duplicate text seen in batches 0 AND 1 leaves its
    // digest in two history dirs; the blocked-probe must dedup or the
    // flag LEFT join fans out and dups/batch_2 logs the drop twice —
    // only until compaction distincts the state.
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Ingest
    val stateDir = tmpDir("exdedup-fanout")
    val batches = Seq(
      Seq((1L, "same text"), (2L, "other one")),
      Seq((3L, "same text"), (4L, "third doc")), // dup of b0 -> digest now in hashes/batch_0 AND batch_1
      Seq((5L, "same text"), (6L, "fresh doc")))
    batches.zipWithIndex.foreach { case (b, i) =>
      Ingest.exactDedupBatch(b.toDF("doc_id", "text"), i.toLong, stateDir,
        "doc_id", "text")
    }
    val dups2 = spark.read.parquet(s"$stateDir/dups/batch_2")
      .select("doc_id").as[Long].collect().toSeq
    assert(dups2 == Seq(5L),
      s"doc 5 must be flagged exactly once, got $dups2")
    val preCompact = spark.read.parquet(s"$stateDir/dups/batch_*")
      .select("doc_id").as[Long].collect().sorted.toSeq
    // compact history then retry batch 2: values must not change
    Ingest.compactExactDedupState(spark, stateDir, 2L)
    Ingest.exactDedupBatch(batches(2).toDF("doc_id", "text"), 2L, stateDir,
      "doc_id", "text")
    val postCompact = spark.read.parquet(s"$stateDir/dups/batch_*")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(postCompact == preCompact,
      s"compaction changed dup values: $preCompact -> $postCompact")
    assert(preCompact == Seq(3L, 5L), preCompact.toString)
  }

  test("drift-monitor ingest: zero-gram history dirs and an all-empty " +
      "history yield js_div 0, not an NPE") {
    // Regression: a non-empty batch whose docs tokenize to NO grams
    // still writes an (empty) hist dir; sum over it is NULL.
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Ingest
    val stateDir = tmpDir("drift-empty-hist")
    // batch 0: null-text docs -> explode over a null token array ->
    // zero gram rows -> an EMPTY hist dir (but a non-empty batch)
    Ingest.driftBatch(
      Seq((1L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String]))
        .toDF("doc_id", "text"),
      0L, stateDir, "text", nBuckets = 64, alarmAt = 0.5)
    // batch 1 has real grams; its only history is the empty dir
    Ingest.driftBatch(Seq((3L, "alpha beta")).toDF("doc_id", "text"),
      1L, stateDir, "text", nBuckets = 64, alarmAt = 0.5)
    val r = spark.read.parquet(s"$stateDir/drift/batch_1")
      .select("js_div", "alarm").head()
    assert(r.getDouble(0) == 0.0 && !r.getBoolean(1),
      s"empty history must read as no-history: $r")
  }

  test("stateful IVF-index ingest: centroids freeze after the first batch, " +
      "stream-built index answers == batch index, compaction + retry exact") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Ingest
    val stateDir = tmpDir("ivfidx-state")
    // three clusters; arrivals interleave so every batch touches all
    def v(id: Long, cx: Float, cy: Float): (Long, Seq[Float]) =
      (id, Seq(cx + (id % 5) * 0.01f, cy + (id % 7) * 0.01f))
    val all = (0L until 90L).map { i =>
      val c = i % 3
      v(i, if (c == 0) 1f else if (c == 1) -1f else 0f,
        if (c == 2) 1f else 0.1f * c)
    }
    val batches = all.grouped(30).toSeq
    for ((b, i) <- batches.zipWithIndex) {
      Ingest.ivfIndexBatch(b.toDF("vec_id", "embedding"), i.toLong,
        stateDir, "vec_id", "embedding", nCells = 3, iters = 4)
      // compact cells mid-stream (before batch 2)
      if (i == 1) Ingest.compactIvfIndexState(spark, stateDir, 2L)
    }
    // exactly ONE centroid generation: training happened once, on batch 0
    val centDirs = new java.io.File(s"$stateDir/centroids").listFiles().map(_.getName)
    assert(centDirs.toSeq == Seq("batch_0"), centDirs.toSeq.toString)
    val cents = spark.read.parquet(s"$stateDir/centroids/batch_0")
      .select("cell_id", "centroid")
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    assert(cents.length == 3)
    // differential: stream-index answers == the batch IVF plan over the
    // full corpus with the SAME centroids
    val queries = all.take(9).toDF("vec_id", "embedding")
    val fromStream = Ingest.ivfIndexTopK(spark, stateDir, queries,
        "vec_id", "embedding", k = 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val fromBatch = graft.llm.Similarity.ivfWithCentroids(
        all.toDF("vec_id", "embedding"), queries,
        "vec_id", "embedding", k = 5, nProbe = 2, cents)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(fromStream == fromBatch && fromBatch.nonEmpty)
    // retry of the LAST batch converges (overwrite + strictly-earlier
    // reads; centroids stay frozen)
    Ingest.ivfIndexBatch(batches(2).toDF("vec_id", "embedding"), 2L,
      stateDir, "vec_id", "embedding", nCells = 3, iters = 4)
    assert(new java.io.File(s"$stateDir/centroids").listFiles().length == 1)
    val afterRetry = Ingest.ivfIndexTopK(spark, stateDir, queries,
        "vec_id", "embedding", k = 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(afterRetry == fromStream)
  }

  test("near-dup reconciliation: on a hub topology, first-wins keeps the " +
      "mutually-dissimilar spokes, batch CC keeps one — the report " +
      "quantifies the divergence from the accumulated state alone") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Ingest
    // base text of 21 tokens; variant(p) swaps ONE token (same length,
    // so keep-best quality ties and the keep-min policy decides).
    // J(variant, base) = 16/22 ≈ 0.727; J(variant_i, variant_j) =
    // 13/25 = 0.52 — so at threshold 0.6 the spokes are near-dups of
    // the HUB but not of each other.
    val base = (0 until 21).map(i => f"tok$i%02d").mkString(" ")
    def variant(p: Int) =
      (0 until 21).map(i => if (i == p) f"alt$p%02d" else f"tok$i%02d").mkString(" ")
    val stateDir = tmpDir("neardup-hub")
    // spokes arrive FIRST (mutually dissimilar -> all unflagged), the
    // hub arrives later and is flagged against each of them
    Ingest.nearDupBatch(
      Seq((1L, variant(3)), (2L, variant(9)), (3L, variant(15)),
        (4L, "completely different words here entirely"))
        .toDF("doc_id", "text"),
      0L, stateDir, "doc_id", "text", shingleN = 3, k = 32, bands = 8,
      threshold = 0.6)
    Ingest.nearDupBatch(
      Seq((9L, base), (10L, "another unrelated document text"))
        .toDF("doc_id", "text"),
      1L, stateDir, "doc_id", "text", shingleN = 3, k = 32, bands = 8,
      threshold = 0.6)
    val flagged = spark.read.parquet(s"$stateDir/flags/batch_*")
      .select("doc_id").as[Long].collect().toSet
    assert(flagged == Set(9L), s"streamed first-wins must flag only the hub: $flagged")
    val rec = Ingest.reclusterNearDupState(spark, stateDir, threshold = 0.6)
      .select("id", "stream_keep", "batch_keep")
      .as[(Long, Boolean, Boolean)].collect().sortBy(_._1).toSeq
    // streamed keeps every spoke; batch CC folds {1,2,3,9} into ONE
    // component and keep-best (ties -> keep-min) keeps only doc 1
    assert(rec == Seq(
      (1L, true, true), (2L, true, false), (3L, true, false),
      (4L, true, true), (9L, false, false), (10L, true, true)),
      rec.toString)
    val divergent = rec.count(r => r._2 != r._3)
    assert(divergent == 2, s"hub divergence must be exactly the 2 extra spokes: $divergent")
  }

  test("near-dup RE-CLUSTER generation: a planted hub's spokes converge " +
      "to the CC keep-best decision once the flags generation lands; " +
      "later batches keep first-wins against the untouched probe state; " +
      "retry idempotent, torn generation invisible") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Ingest
    // the reconciliation test's hub fixture: spokes 1,2,3 first
    // (mutually dissimilar at 0.6), hub 9 later
    val base = (0 until 21).map(i => f"tok$i%02d").mkString(" ")
    def variant(p: Int) =
      (0 until 21).map(i => if (i == p) f"alt$p%02d" else f"tok$i%02d").mkString(" ")
    val stateDir = tmpDir("neardup-recluster")
    def drive(rows: Seq[(Long, String)], id: Long): Unit =
      Ingest.nearDupBatch(rows.toDF("doc_id", "text"), id, stateDir,
        "doc_id", "text", shingleN = 3, k = 32, bands = 8, threshold = 0.6)
    drive(Seq((1L, variant(3)), (2L, variant(9)), (3L, variant(15)),
      (4L, "completely different words here entirely")), 0L)
    drive(Seq((9L, base), (10L, "another unrelated document text")), 1L)
    // streamed verdicts: only the late hub is flagged
    def flaggedIds(): Set[Long] =
      Ingest.nearDupFlags(spark, stateDir)
        .select("doc_id").as[Long].collect().toSet
    assert(flaggedIds() == Set(9L))
    // torn generation (no _SUCCESS) is invisible to the floors-aware read
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
    val torn = new org.apache.hadoop.fs.Path(s"$stateDir/flags/compact_upto_2")
    fs.mkdirs(torn)
    Seq((999L, 1L, 0.9)).toDF("doc_id", "n_pairs", "max_jaccard")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$stateDir/flags/compact_upto_2/_part")
    assert(flaggedIds() == Set(9L), "torn generation leaked into the read")
    fs.delete(torn, true)
    // the re-cluster generation re-states [0, 2) under CC + keep-best:
    // component {1,2,3,9}, quality ties -> keep-min keeps doc 1 — the
    // spokes' verdicts CONVERGE to the batch decision
    assert(Ingest.reclusterNearDupFlags(spark, stateDir, upTo = 2L,
      threshold = 0.6))
    assert(flaggedIds() == Set(2L, 3L, 9L),
      s"re-cluster must flag the non-winning component members: ${flaggedIds()}")
    // superseded per-batch verdict dirs are GC'd; the generation carries
    // recomputed pair stats
    val flagEntries = new java.io.File(s"$stateDir/flags").listFiles()
      .map(_.getName).toSet
    assert(flagEntries == Set("compact_upto_2"), flagEntries.toString)
    val stats = Ingest.nearDupFlags(spark, stateDir)
      .select("doc_id", "n_pairs").as[(Long, Long)].collect().toMap
    assert(stats(9L) == 3L, s"hub pairs with all 3 spokes: $stats")
    // retry converges (idempotent short-circuit)
    assert(Ingest.reclusterNearDupFlags(spark, stateDir, upTo = 2L,
      threshold = 0.6))
    assert(flaggedIds() == Set(2L, 3L, 9L))
    // a LATER batch still flags first-wins against the untouched
    // bands/all probe state: a near-dup of spoke 1 arriving now is
    // flagged even though the re-cluster kept doc 1
    drive(Seq((20L, variant(3))), 2L)
    assert(flaggedIds().contains(20L),
      "post-generation arrival must keep first-wins flagging")
    // the q9W report reads the ADOPTED verdicts: stream_keep now equals
    // batch_keep for the re-stated history (divergence only for the new
    // arrival topology, which CC also flags -> fully converged here)
    val rec = Ingest.reclusterNearDupState(spark, stateDir, threshold = 0.6)
      .select("id", "stream_keep", "batch_keep")
      .as[(Long, Boolean, Boolean)].collect()
    assert(rec.forall(r => r._2 == r._3),
      s"adopted generation left divergence: ${rec.filter(r => r._2 != r._3).toSeq}")
  }

  test("IVF centroid refresh: a planted mid-stream drift sinks the frozen " +
      "quantizer's recall; the refreshed generation restores it; " +
      "stationary answers and retry determinism preserved") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Ingest
    // Subspace drift (assignment is cosine): phase A lives in dims
    // (0,1) — two clusters; phase B (a NEW ENCODER / domain) lives in
    // dims (2,3) with only id-noise in the old dims. Frozen centroids
    // span only the old subspace, so a phase-B vector's cell is decided
    // by its NOISE components — every new cluster scatters across all
    // cells and nProbe=1 probes see a slice of it.
    def jit(id: Long, m: Int): Float = (((id * 7 + m * 13) % 11) - 5) * 0.011f
    def aVec(id: Long): Seq[Float] =
      if (id % 2 == 0) Seq(1f + jit(id, 1), jit(id, 2), 0f, 0f)
      else Seq(jit(id, 3), 1f + jit(id, 4), 0f, 0f)
    def bVec(id: Long): Seq[Float] =
      if (id % 2 == 0) Seq(jit(id, 1) * 0.3f, jit(id, 2) * 0.3f, 1f + jit(id, 5), jit(id, 6))
      else Seq(jit(id, 3) * 0.3f, jit(id, 4) * 0.3f, jit(id, 7), 1f + jit(id, 8))
    val phaseA = (0L until 60L).map(i => (i, aVec(i)))
    val phaseB = (60L until 120L).map(i => (i, bVec(i)))
    val batches = Seq(phaseA.take(30), phaseA.drop(30),
      phaseB.take(30), phaseB.drop(30))
    val all = (phaseA ++ phaseB).toDF("vec_id", "embedding")
    val queries = phaseB.take(10).toDF("vec_id", "embedding")
    val truth = graft.llm.Similarity
      .bruteForceTopK(all, queries, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recall(stateDir: String): Double = {
      val got = Ingest.ivfIndexTopK(spark, stateDir, queries,
          "vec_id", "embedding", k = 10, nProbe = 1)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty).count(t).toDouble / t.size
      }.sum / truth.size
    }
    // frozen run: centroids trained on batch 0, never refreshed
    val frozen = tmpDir("ivf-frozen")
    for ((b, i) <- batches.zipWithIndex)
      Ingest.ivfIndexBatch(b.toDF("vec_id", "embedding"), i.toLong,
        frozen, "vec_id", "embedding", nCells = 4, iters = 4)
    // refreshed run: identical stream, re-train before batch 3 (the
    // writer's refreshEvery=3 wiring)
    val refreshed = tmpDir("ivf-refreshed")
    for ((b, i) <- batches.zipWithIndex) {
      if (i == 3) Ingest.refreshIvfIndex(spark, refreshed, 3L, nCells = 4, iters = 4)
      Ingest.ivfIndexBatch(b.toDF("vec_id", "embedding"), i.toLong,
        refreshed, "vec_id", "embedding", nCells = 4, iters = 4)
    }
    val rFrozen = recall(frozen)
    val rRefreshed = recall(refreshed)
    assert(rFrozen < 0.8, f"planted drift did not sink the frozen recall: $rFrozen%.3f")
    assert(rRefreshed >= 0.9,
      f"refresh did not restore recall: $rRefreshed%.3f (frozen $rFrozen%.3f)")
    // the adopted generation is the refresh; superseded dirs are GC'd
    val centNames = new java.io.File(s"$refreshed/centroids").listFiles().map(_.getName).toSet
    assert(centNames == Set("compact_upto_3"), centNames.toString)
    // retry of the refresh boundary batch converges (refresh no-ops,
    // assignments identical)
    val before = spark.read.parquet(s"$refreshed/cells/batch_3")
      .selectExpr("cast(cell_id as long)", "id", "vec")
      .as[(Long, Long, Seq[Float])].collect().sortBy(_._2).toSeq
    Ingest.refreshIvfIndex(spark, refreshed, 3L, nCells = 4, iters = 4)
    Ingest.ivfIndexBatch(batches(3).toDF("vec_id", "embedding"), 3L,
      refreshed, "vec_id", "embedding", nCells = 4, iters = 4)
    val after = spark.read.parquet(s"$refreshed/cells/batch_3")
      .selectExpr("cast(cell_id as long)", "id", "vec")
      .as[(Long, Long, Seq[Float])].collect().sortBy(_._2).toSeq
    assert(after == before, "refresh-boundary retry changed assignments")
    // crash between the centroid publication and the cell re-assignment:
    // readers must stay on the OLD quantizer (old dirs still readable)
    val crashed = tmpDir("ivf-crash")
    for ((b, i) <- batches.take(3).zipWithIndex)
      Ingest.ivfIndexBatch(b.toDF("vec_id", "embedding"), i.toLong,
        crashed, "vec_id", "embedding", nCells = 4, iters = 4)
    val preCrash = Ingest.ivfIndexTopK(spark, crashed, queries,
        "vec_id", "embedding", k = 10, nProbe = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // simulate the torn refresh: centroids generation lands, cells don't
    val accDirs = Seq(s"$crashed/cells/batch_0", s"$crashed/cells/batch_1",
        s"$crashed/cells/batch_2")
      .map(spark.read.parquet(_)).reduce(_ unionByName _)
      .select("id", "vec")
    graft.llm.Similarity.kmeansCentroids(accDirs, "id", "vec", 4, 4)
      .toSeq.toDF("cell_id", "centroid")
      .coalesce(1).write.parquet(s"$crashed/centroids/compact_upto_3")
    val postCrash = Ingest.ivfIndexTopK(spark, crashed, queries,
        "vec_id", "embedding", k = 10, nProbe = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(postCrash == preCrash,
      "torn refresh (centroids without re-assignment) changed reader answers")
  }

  test("raw-IVF √N re-shard: nCells derived from the accumulated census; " +
      "whole state re-assigned under the adopted generation; retry " +
      "idempotent; refresh/reshard boundary conflict refused") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Ingest
    import graft.llm.Similarity
    // 90 accumulated vectors at the boundary → √N derivation = 5 cells,
    // distinct from the frozen nCells=4 (proves the census is consulted)
    def vec(id: Long): Seq[Float] = {
      val m = (id % 3).toInt
      Seq.tabulate(4)(j => (if (j == m) 1f else 0f) +
        (((id * 7 + j * 13) % 11) - 5) * 0.011f)
    }
    val rows = (0L until 120L).map(i => (i, vec(i)))
    val batches = rows.grouped(30).toSeq
    val state = tmpDir("ivf-reshard")
    for ((b, i) <- batches.zipWithIndex) {
      if (i == 3) Ingest.reshardIvfIndex(spark, state, 3L, iters = 4)
      Ingest.ivfIndexBatch(b.toDF("vec_id", "embedding"), i.toLong,
        state, "vec_id", "embedding", nCells = 4, iters = 4)
    }
    val expectedCells = Similarity.sqrtIvfParams(90L)._1
    assert(expectedCells != 4, "fixture must distinguish derived from frozen")
    val centNames = new java.io.File(s"$state/centroids")
      .listFiles().map(_.getName).toSet
    assert(centNames == Set("compact_upto_3"),
      s"re-shard generation not adopted / frozen dir not GC'd: $centNames")
    val cents = spark.read.parquet(s"$state/centroids/compact_upto_3")
      .select(col("cell_id"), col("centroid"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    assert(cents.length == expectedCells,
      s"nCells ${cents.length} != √N derivation $expectedCells")
    // whole state — re-assigned [0,3) plus incrementally-assigned batch
    // 3 — matches the batch assignment under the adopted quantizer
    val all = rows.toDF("vec_id", "embedding")
    val streamed = Ingest.ivfCellState(spark, state)
      .select(col("cell_id"), col("id"))
    val batchAssigned = all.select(
      Similarity.ivfAssignUdf(cents)(col("embedding")).as("cell_id"),
      col("vec_id").cast("long").as("id"))
    assert(streamed.exceptAll(batchAssigned)
      .unionAll(batchAssigned.exceptAll(streamed)).count() == 0L,
      "re-sharded state diverges from batch assignment under the " +
        "adopted quantizer")
    // derived-probe serving answers against the adopted generation
    val queries = rows.take(5).toDF("vec_id", "embedding")
    val got = Ingest.ivfIndexTopK(spark, state, queries,
        "vec_id", "embedding", k = 5, nProbe = 0)
      .groupBy(col("query_id")).agg(count(lit(1)).as("n")).collect()
    assert(got.length == 5 && got.forall(_.getLong(1) == 5L),
      "derived-probe serving returned short top-k")
    // retry of the boundary converges: re-shard no-ops, assignments same
    val before = spark.read.parquet(s"$state/cells/batch_3")
      .selectExpr("cast(cell_id as long)", "id").as[(Long, Long)]
      .collect().sortBy(_._2).toSeq
    Ingest.reshardIvfIndex(spark, state, 3L, iters = 4)
    Ingest.ivfIndexBatch(batches(3).toDF("vec_id", "embedding"), 3L,
      state, "vec_id", "embedding", nCells = 4, iters = 4)
    val after = spark.read.parquet(s"$state/cells/batch_3")
      .selectExpr("cast(cell_id as long)", "id").as[(Long, Long)]
      .collect().sortBy(_._2).toSeq
    assert(after == before, "re-shard boundary retry changed assignments")
    // the ingest refuses the ambiguous double-boundary configuration
    val ex = intercept[IllegalArgumentException] {
      Ingest.startIvfIndexIngest(
        spark.readStream.schema(all.schema).parquet(tmpDir("ivf-none")),
        tmpDir("ivf-conf"), tmpDir("ivf-ckpt"),
        refreshEvery = 2, reshardEvery = 2)
    }
    assert(ex.getMessage.contains("reshardEvery"), ex.getMessage)
  }

  test("stateful embedding-dedup ingest: streamed first-wins flags == " +
      "sequential same-cell fold; chain through a flagged vector caught; " +
      "compaction + retry exact") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Ingest
    val tau = 0.999
    def vecAt(deg: Double): Seq[Float] = {
      val t = math.toRadians(deg)
      Seq(math.cos(t).toFloat, math.sin(t).toFloat)
    }
    // three direction clusters (0/30/60 deg), mates 4 deg apart
    // (cos 4 deg = 0.9976 < tau — mates never flag); planted near-dups
    // at +0.05 deg (cos ~ 0.9999996 >= tau)
    val batches: Seq[Seq[(Long, Double)]] = Seq(
      Seq((0L, 0.0), (1L, 4.0), (2L, 8.0), (3L, 8.05), // 3 ~ 2 within-batch
        (10L, 30.0), (11L, 34.0), (20L, 60.0), (21L, 64.0)),
      Seq((30L, 12.0), (31L, 38.0), (32L, 4.05)),      // 32 ~ 1 cross-batch
      Seq((40L, 68.0), (41L, 4.08), (42L, 0.0)))       // 41 ~ 32(flagged)+1; 42 == 0 exactly
    val stateDir = tmpDir("embdedup-state")
    def drive(i: Int): Unit =
      Ingest.embedDedupBatch(
        batches(i).map { case (id, d) => (id, vecAt(d)) }.toDF("vec_id", "embedding"),
        i.toLong, stateDir, "vec_id", "embedding", nCells = 3, iters = 4,
        threshold = tau)
    // independent sequential mirror of the fold: same-cell (from the
    // operator's own stored assignment), earlier-(batch, id)-wins,
    // plain-double cosine
    def mirror(upTo: Int): Set[Long] = {
      val cells = graft.streaming.Ingest.ivfCellState(spark, stateDir)
        .select("id", "cell_id").as[(Long, Long)].collect().toMap
      val seen = scala.collection.mutable.ArrayBuffer[(Long, Seq[Float])]()
      val flagged = scala.collection.mutable.Set[Long]()
      for (i <- 0 to upTo; (id, d) <- batches(i).sortBy(_._1)) {
        val v = vecAt(d)
        def cos(a: Seq[Float], b: Seq[Float]): Double = {
          val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
          dot / (math.sqrt(a.map(x => x.toDouble * x).sum) *
            math.sqrt(b.map(x => x.toDouble * x).sum))
        }
        if (seen.exists { case (pid, pv) =>
          cells(pid) == cells(id) && cos(pv, v) >= tau }) flagged += id
        seen += ((id, v))
      }
      flagged.toSet
    }
    for (i <- batches.indices) {
      drive(i)
      val got = spark.read.parquet(s"$stateDir/flags/batch_*")
        .select("id").as[Long].collect().toSet
      assert(got == mirror(i), s"batch $i: flags $got != mirror ${mirror(i)}")
    }
    val finalFlags = spark.read.parquet(s"$stateDir/flags/batch_*")
      .select("id", "max_cos").as[(Long, Double)].collect().toMap
    // the planted resolution: within-batch (3), cross-batch (32),
    // chain THROUGH the flagged 32 (41), exact twin (42, cos 1.0)
    assert(finalFlags.keySet == Set(3L, 32L, 41L, 42L), finalFlags.toString)
    assert(finalFlags(42L) == 1.0, s"exact twin must flag at cos 1.0: ${finalFlags(42L)}")
    // compaction + retry of the last batch converge
    Ingest.compactIvfIndexState(spark, stateDir, 2L)
    drive(2)
    assert(spark.read.parquet(s"$stateDir/flags/batch_*")
      .select("id").as[Long].collect().toSet == Set(3L, 32L, 41L, 42L))
  }

  test("orphaned centroid generation: a later plain compaction HEALS it " +
      "(re-assigns under it) instead of activating it against stale cells") {
    // Regression: the reader gate accepts gen k once ANY cells floor
    // j >= k is complete. An identity compaction after an external
    // refresh crashed between its two publications would raise the
    // floor past the orphan and adopt new centroids against
    // never-re-assigned cells; compaction now re-assigns under the
    // newest PUBLISHED generation, completing the orphaned refresh.
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Ingest
    def v(id: Long): (Long, Seq[Float]) = {
      val c = id % 3
      (id, Seq(if (c == 0) 1f else if (c == 1) -1f else 0f,
        (if (c == 2) 1f else 0.1f * c) + (id % 5) * 0.01f))
    }
    val all = (0L until 90L).map(v)
    val stateDir = tmpDir("ivf-orphan")
    for ((b, i) <- all.grouped(30).toSeq.zipWithIndex)
      Ingest.ivfIndexBatch(b.toDF("vec_id", "embedding"), i.toLong,
        stateDir, "vec_id", "embedding", nCells = 3, iters = 4)
    // orphan: centroids/compact_upto_2 lands, its cells re-assignment
    // never does (external refresh crashed; never retried)
    val acc = Seq(s"$stateDir/cells/batch_0", s"$stateDir/cells/batch_1")
      .map(spark.read.parquet(_)).reduce(_ unionByName _)
      .select("id", "vec")
    val newCents = graft.llm.Similarity.kmeansCentroids(acc, "id", "vec", 3, 4)
    newCents.toSeq.toDF("cell_id", "centroid")
      .coalesce(1).write.parquet(s"$stateDir/centroids/compact_upto_2")
    // a plain compaction boundary at batch 3
    Ingest.compactIvfIndexState(spark, stateDir, 3L)
    // readers now adopt gen 2 — and the cells must be assigned UNDER it
    val answers = Ingest.ivfIndexTopK(spark,
        stateDir, all.take(9).toDF("vec_id", "embedding"),
        "vec_id", "embedding", k = 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val expected = graft.llm.Similarity.ivfWithCentroids(
        all.toDF("vec_id", "embedding"), all.take(9).toDF("vec_id", "embedding"),
        "vec_id", "embedding", k = 5, nProbe = 2, newCents)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(answers == expected && expected.nonEmpty,
      "healed state must answer exactly as the batch index under the orphaned generation")
  }

  test("drift-TRIGGERED IVF refresh: quantization-quality drop arms the " +
      "trigger, healing lands once the state contains the drift, " +
      "stationary streams never refresh") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Ingest
    // subspace-drift fixture (cf. the manual-refresh spec), with ONE
    // drifted cluster so the healed 4-cell quantizer clearly owns it
    def jit(id: Long, m: Int): Float = (((id * 7 + m * 13) % 11) - 5) * 0.011f
    def aVec(id: Long): Seq[Float] =
      if (id % 2 == 0) Seq(1f + jit(id, 1), jit(id, 2), 0f, 0f)
      else Seq(jit(id, 3), 1f + jit(id, 4), 0f, 0f)
    def bVec(id: Long): Seq[Float] =
      Seq(jit(id, 1) * 0.3f, jit(id, 2) * 0.3f, 1f + jit(id, 5), jit(id, 6))
    val phaseA = (0L until 60L).map(i => (i, aVec(i)))
    val phaseB = (60L until 150L).map(i => (i, bVec(i)))
    val batches = Seq(phaseA.take(30), phaseA.drop(30),
      phaseB.take(30), phaseB.slice(30, 60), phaseB.drop(60))
    def driveBatch(dir: String, b: Seq[(Long, Seq[Float])], i: Int): Unit = {
      Ingest.driftTriggeredRefresh(b.toDF("vec_id", "embedding"), i.toLong,
        dir, "embedding", nCells = 4, iters = 4, factor = 0.9)
      Ingest.ivfIndexBatch(b.toDF("vec_id", "embedding"), i.toLong, dir,
        "vec_id", "embedding", nCells = 4, iters = 4)
    }
    val drifted = tmpDir("ivf-autodrift")
    for ((b, i) <- batches.zipWithIndex) driveBatch(drifted, b, i)
    val stats = spark.read.parquet(s"$drifted/qstats/batch_*")
      .select("batch_id", "mean_best_cos", "refreshed")
      .as[(Long, Double, Boolean)].collect().sortBy(_._1)
    // batch 1: healthy, no history baseline yet -> never refreshes;
    // the trigger fires on drift onset (batch 2) and stays armed until
    // a refresh trains on state CONTAINING the drift; the final batch
    // is quiet again (healed)
    assert(stats.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(!stats.head._3, "healthy batch 1 must not refresh")
    assert(stats(1)._3, "drift onset (batch 2) must trigger a refresh")
    assert(!stats.last._3,
      s"healed stream must go quiet by the final batch: ${stats.mkString(", ")}")
    assert(stats.last._2 > 0.9,
      f"final batch must assign at high quality under the healed quantizer: ${stats.last._2}%.3f")
    // recall on drifted queries restored by the self-triggered refreshes
    val all = (phaseA ++ phaseB).toDF("vec_id", "embedding")
    val queries = phaseB.take(10).toDF("vec_id", "embedding")
    val truth = graft.llm.Similarity
      .bruteForceTopK(all, queries, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = Ingest.ivfIndexTopK(spark, drifted, queries,
        "vec_id", "embedding", k = 10, nProbe = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = truth.map { case (q, t) =>
      got.getOrElse(q, Set.empty).count(t).toDouble / t.size }.sum / truth.size
    assert(recall >= 0.9, f"self-healed recall: $recall%.3f")
    // retry of a triggering batch converges (idempotent refresh + stats)
    val statsBefore = spark.read.parquet(s"$drifted/qstats/batch_3").collect().toSeq
    driveBatch(drifted, batches(3), 3)
    assert(spark.read.parquet(s"$drifted/qstats/batch_3").collect().toSeq == statsBefore)
    // stationary control: same wiring, no drift -> zero refreshes
    val quiet = tmpDir("ivf-quiet")
    val stationary = (0L until 150L).map(i => (i, aVec(i))).grouped(30).toSeq
    for ((b, i) <- stationary.zipWithIndex) driveBatch(quiet, b, i)
    val quietRefreshes = spark.read.parquet(s"$quiet/qstats/batch_*")
      .where("refreshed").count()
    assert(quietRefreshes == 0L, s"stationary stream refreshed $quietRefreshes times")
    assert(new java.io.File(s"$quiet/centroids").listFiles().map(_.getName).toSeq
      == Seq("batch_0"))
    // qstats history folds on the compaction boundary: the n-weighted
    // mean the trigger reads is preserved, the listing is O(interval)
    def wmean(): Double = {
      val F = org.apache.spark.sql.functions
      val r = spark.read.parquet(s"$quiet/qstats/*")
        .agg(F.sum(F.col("n") * F.col("mean_best_cos")), F.sum(F.col("n"))).head()
      r.getDouble(0) / r.getLong(1)
    }
    val before = wmean()
    Ingest.compactIvfIndexState(spark, quiet, 5L)
    val names = new java.io.File(s"$quiet/qstats").listFiles().map(_.getName).toSet
    assert(names == Set("compact_upto_5"), names.toString)
    assert(math.abs(wmean() - before) < 1e-12,
      s"qstats compaction moved the weighted mean: $before -> ${wmean()}")
  }

  test("curation-state compaction: drift history folds to one generation, " +
      "reports stay exact; torn compaction ignored; retry converges") {
    import org.apache.spark.sql.functions.col
    def doc(id: Long, words: Seq[String]) = (id, words.mkString(" "))
    val batches = Seq(
      Seq(doc(1L, Seq.fill(12)("alpha") ++ Seq.fill(6)("beta"))),
      Seq(doc(2L, Seq.fill(8)("beta") ++ Seq.fill(8)("gamma"))),
      Seq(doc(3L, Seq.fill(10)("alpha") ++ Seq.fill(5)("delta"))),
      Seq(doc(4L, (0 until 20).map(j => s"new$j"))))
    val plain = tmpDir("drift-plain")
    val compacted = tmpDir("drift-compact")
    def reports(dir: String) = spark.read.parquet(s"$dir/drift/batch_*")
      .select("batch_id", "n_docs", "n_grams", "js_div", "alarm")
      .as[(Long, Long, Long, Double, Boolean)].collect().sortBy(_._1).toSeq
    for ((b, i) <- batches.zipWithIndex) {
      val bdf = b.toDF("doc_id", "text")
      Ingest.driftBatch(bdf, i.toLong, plain, "text", 256L, 0.1)
      // compact B's history right before batch 2 — batches [0, 2) fold
      if (i == 2) Ingest.compactDriftState(spark, compacted, 2L)
      // …and plant a TORN compaction (no _SUCCESS) with garbage
      // content right before batch 3 — readers must ignore it
      if (i == 3) {
        Seq((0L, 999999L)).toDF("bucket", "cnt").write
          .parquet(s"$compacted/hist/compact_upto_3")
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(compacted),
          spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(
          s"$compacted/hist/compact_upto_3/_SUCCESS"), false)
      }
      Ingest.driftBatch(bdf, i.toLong, compacted, "text", 256L, 0.1)
      assert(reports(compacted) == reports(plain),
        s"compaction changed the drift fold at batch $i")
    }
    // the generation adopted: merged dirs are GC'd, the floor file set
    // is O(1) regardless of batch count
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(compacted), spark.sparkContext.hadoopConfiguration)
    val histNames = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$compacted/hist"))
      .map(_.getPath.getName).toSet
    assert(histNames.contains("compact_upto_2"), histNames.toString)
    assert(!histNames.contains("batch_0") && !histNames.contains("batch_1"),
      s"merged batch dirs must be GC'd: $histNames")
    // a retry of the compaction call is a no-op; a retry of the last
    // batch reads through the generation and converges
    Ingest.compactDriftState(spark, compacted, 2L)
    Ingest.driftBatch(batches(3).toDF("doc_id", "text"), 3L, compacted,
      "text", 256L, 0.1)
    assert(reports(compacted) == reports(plain))
  }

  test("curation-state compaction: decon grams and near-dup bands match " +
      "across a compaction boundary") {
    import org.apache.spark.sql.functions.col
    def doc(id: Long, words: Seq[String]) = (id, words.mkString(" "))
    val base = (0 until 30).map(j => s"w$j")
    // --- decon: batch 2's contamination source lives BELOW the floor
    val dState = tmpDir("decon-compact")
    Ingest.curateBatch(Seq(doc(1L, base)).toDF("doc_id", "text"), 0L,
      dState, "doc_id", "text", 3, 0.001)
    Ingest.curateBatch(Seq(doc(2L, (40 until 70).map(j => s"x$j")))
      .toDF("doc_id", "text"), 1L, dState, "doc_id", "text", 3, 0.001)
    Ingest.compactDecontaminationState(spark, dState, 2L)
    Ingest.curateBatch(Seq(doc(3L, Seq("z1") ++ base.take(3) ++ Seq("z2")),
      doc(4L, (80 until 110).map(j => s"y$j"))).toDF("doc_id", "text"), 2L,
      dState, "doc_id", "text", 3, 0.001)
    val quarantined = spark.read.parquet(s"$dState/quarantine/batch_*")
      .select("doc_id").as[Long].collect().toSet
    assert(quarantined == Set(3L),
      s"gram match through the compacted generation lost: $quarantined")
    // --- near-dup: the flagged pair crosses the compaction boundary
    val nState = tmpDir("neardup-compact")
    Ingest.nearDupBatch(Seq(doc(1L, base),
      doc(2L, (40 until 70).map(j => s"x$j"))).toDF("doc_id", "text"), 0L,
      nState, "doc_id", "text", 3, 32, 8, 0.5)
    Ingest.compactNearDupState(spark, nState, 1L)
    Ingest.nearDupBatch(Seq(doc(3L, base.updated(15, "EDIT")))
      .toDF("doc_id", "text"), 1L, nState, "doc_id", "text", 3, 32, 8, 0.5)
    val flags = spark.read.parquet(s"$nState/flags/batch_*")
      .select("doc_id", "n_pairs").as[(Long, Long)].collect().toMap
    assert(flags == Map(3L -> 1L),
      s"band match through the compacted generation lost: $flags")
  }

  test("compactEvery through a running stream: decontaminating, near-dup, " +
      "HLL, IVF, IVF-PQ and embed-dedup ingests compact at batch 2 and " +
      "publish the same feed as an uncompacted run") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.{DataFrame, Encoder}
    import org.apache.spark.sql.streaming.StreamingQuery
    type Start = (DataFrame, String, String, Int, Trigger) => StreamingQuery
    // three micro-batches (ids 0, 1, 2): compactEvery = 2 folds batches
    // 0 and 1 into compact_upto_2 before batch 2, whose verdicts then
    // read that history through the floor
    def run[T: Encoder](batches: Seq[Seq[T]], cols: Seq[String],
                        start: Start)(compactEvery: Int): String = {
      val stateDir = tmpDir("wired-compact")
      val mem = MemoryStream[T]
      val q = start(mem.toDF().toDF(cols: _*), stateDir,
        tmpDir("wired-compact-ckpt"), compactEvery, Trigger.ProcessingTime(0L))
      try batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      finally q.stop()
      stateDir
    }
    def rows(label: String, df: DataFrame): Set[String] =
      df.collect().map(r => s"$label $r").toSet
    def perBatch(stateDir: String, sub: String, cols: String*): Set[String] =
      rows(sub, spark.read.parquet(s"$stateDir/$sub/batch_*").selectExpr(cols: _*))
    def sameFeed(feed: String => Set[String])(got: String, want: String): Unit = {
      val (g, w) = (feed(got), feed(want))
      assert(w.nonEmpty && g == w, s"compacted $g != uncompacted $w")
    }

    def words(p: String, r: Range) = r.map(j => s"$p$j")
    val base = words("w", 0 until 30)
    // batch 1 near-copies batch 0's doc 1; batch 2 shares a 5-gram run
    // with doc 1 (id 5) and repeats doc 2 verbatim (id 6)
    val docs: Seq[Seq[(Long, String)]] = Seq(
      Seq((1L, base), (2L, words("x", 40 until 70))),
      Seq((3L, base.updated(15, "EDIT")), (4L, words("y", 80 until 110))),
      Seq((5L, Seq("z1") ++ base.take(5) ++ Seq("z2")),
        (6L, words("x", 40 until 70)), (7L, words("v", 120 until 150))))
      .map(_.map { case (id, ws) => (id, ws.mkString(" ")) })
    val sourced = docs.map(_.map { case (id, t) =>
      (id, if (id % 2 == 1) "a" else "b", t) })
    // three direction clusters in 8 dims; batch 2 adds exact twins
    // (id + 100) of ten batch-0 vectors
    def vec(id: Long): Seq[Float] = {
      val c = (id % 3).toInt
      (0 until 8).map(j =>
        (if (j % 3 == c) 1f else 0f) + ((id * 7 + j * 3) % 11) * 0.01f)
    }
    val vecs: Seq[Seq[(Long, Seq[Float])]] = Seq(
      (0L until 30L).map(i => (i, vec(i))),
      (30L until 60L).map(i => (i, vec(i))),
      (60L until 80L).map(i => (i, vec(i))) ++
        (0L until 10L).map(i => (100L + i, vec(i))))
    val docCols = Seq("doc_id", "text")
    val vecCols = Seq("vec_id", "embedding")

    case class Wiring(name: String, sub: String, run: Int => String,
                      same: (String, String) => Unit)
    val wirings = Seq(
      Wiring("decontaminating", "grams",
        run(docs, docCols, (s, st, ck, ce, t) => Ingest
          .startDecontaminatingIngest(s, st, ck, trigger = t, compactEvery = ce)),
        sameFeed(d => perBatch(d, "docs", "doc_id") ++
          perBatch(d, "quarantine", "doc_id", "n_contaminated"))),
      Wiring("near-dup", "bands",
        run(docs, docCols, (s, st, ck, ce, t) => Ingest
          .startNearDupIngest(s, st, ck, compactEvery = ce, trigger = t)),
        sameFeed(d => rows("flags", Ingest.nearDupFlags(spark, d)) ++
          perBatch(d, "docs", "doc_id"))),
      Wiring("HLL", "sketches",
        run(sourced, Seq("doc_id", "source", "text"), (s, st, ck, ce, t) =>
          Ingest.startHllDistinctIngest(s, st, ck, trigger = t, compactEvery = ce)),
        { (got, want) =>
          // union regrouping keeps the accuracy class, not bit-identity:
          // the band of the HLL compaction spec above
          def counts(d: String) = spark.read.parquet(s"$d/counts/batch_2")
            .select("key", "distinct_tokens").as[(String, Long)].collect().toMap
          val (g, w) = (counts(got), counts(want))
          assert(w.nonEmpty && g.keySet == w.keySet && g.forall { case (k, v) =>
            math.abs(v - w(k)) <= math.max(1L, (0.02 * w(k)).toLong) },
            s"compacted $g vs uncompacted $w")
        }),
      Wiring("IVF", "cells",
        run(vecs, vecCols, (s, st, ck, ce, t) => Ingest.startIvfIndexIngest(
          s, st, ck, nCells = 3, iters = 4, trigger = t, compactEvery = ce)),
        sameFeed(d => rows("cells",
          Ingest.ivfCellState(spark, d).select("cell_id", "id")))),
      Wiring("IVF-PQ", "codes",
        run(vecs, vecCols, (s, st, ck, ce, t) => Ingest.startIvfPqIndexIngest(
          s, st, ck, nCells = 3, iters = 4, m = 4, ks = 16,
          compactEvery = ce, trigger = t)),
        sameFeed(d => rows("codes", Ingest.ivfPqCodeState(spark, d)
          .selectExpr("cell_id", "id", "hex(code)")))),
      Wiring("embed-dedup", "cells",
        run(vecs, vecCols, (s, st, ck, ce, t) => Ingest.startEmbedDedupIngest(
          s, st, ck, nCells = 3, iters = 4, threshold = 0.999,
          compactEvery = ce, trigger = t)),
        sameFeed(d => perBatch(d, "flags", "id", "n_dups", "max_cos"))))

    for (w <- wirings) withClue(s"${w.name}: ") {
      val compacted = w.run(2)
      val plain = w.run(0)
      def generation(d: String) =
        new java.io.File(s"$d/${w.sub}/compact_upto_2/_SUCCESS").exists()
      assert(generation(compacted), "compactEvery = 2 left no compact_upto_2")
      assert(!generation(plain), "compactEvery = 0 compacted")
      w.same(compacted, plain)
    }
  }

  test("stream-static enrichment join == batch join, static side broadcast") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(("BTC", "Bitcoin"), ("ETH", "Ether")).toDF("code", "name")
    val rows = Seq(c("BTC", "2022-01-01 10:00:00", 1),
      c("ETH", "2022-01-01 10:01:00", 2), c("DOGE", "2022-01-01 10:02:00", 3))
    val stream = MemoryStream[Candle]
    val joined = Ingest.enrichWithStatic(stream.toDF(), dim, Seq("code"))
    val sink = new scala.collection.mutable.ArrayBuffer[(String, String)]()
    val query = joined.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // (the batch handed to foreachBatch re-plans from the already-
        // joined rows, so the join plan is asserted batch-side below)
        sink ++= batch.select("code", "name").collect()
          .map(r => (r.getString(0), Option(r.getString(1)).getOrElse("∅")))
        ()
      }.start()
    stream.addData(rows); query.processAllAvailable(); query.stop()
    assert(sink.toSet == Set(("BTC", "Bitcoin"), ("ETH", "Ether"), ("DOGE", "∅")))
    // the same operator on a batch frame must plan a broadcast join —
    // the per-micro-batch plan uses the same join strategy
    val batchPlan = Ingest.enrichWithStatic(rows.toDF(), dim, Seq("code"))
      .queryExecution.executedPlan.toString
    assert(batchPlan.contains("BroadcastHashJoin"),
      s"stream-static enrichment must broadcast the dim:\n$batchPlan")
  }

  test("micro-batched foreachBatch upsert == batch upsert of concatenation") {
    implicit val sqlCtx = spark.sqlContext
    val b1 = Seq(c("BTC", "2022-01-01 10:00:00", 1), c("BTC", "2022-01-01 10:01:00", 2))
    val b2 = Seq(c("BTC", "2022-01-01 10:01:00", 20), c("ETH", "2021-06-01 00:00:00", 5))
    val b3 = Seq(c("BTC", "2022-01-01 09:00:00", 0.5)) // late row, accepted

    val streamed = CandleStore(spark, tmpDir("st-stream") + "/t")
    val stream = MemoryStream[Candle]
    val query = Ingest.startUpsertIngest(stream.toDF(), streamed, tmpDir("st-ckpt"),
      trigger = Trigger.ProcessingTime(0))
    Seq(b1, b2, b3).foreach { b => stream.addData(b); query.processAllAvailable() }
    query.stop()

    val batch = CandleStore(spark, tmpDir("st-batch") + "/t")
    batch.upsert(b1.toDF()); batch.upsert(b2.toDF()); batch.upsert(b3.toDF())

    val a = streamed.scan().orderBy("code", "ts").collect().toSeq
    val b = batch.scan().orderBy("code", "ts").collect().toSeq
    assert(a == b)
    // the foreachBatch write must run with micros timestamps on the
    // batch's CLONED session, or footer-metadata reads silently degrade
    assert(streamed.footerStats("UPBIT", "BTC", 60, 2022).isDefined,
      "streaming-ingested files must carry usable ts statistics")
    // last-wins across micro-batches
    assert(streamed.scan().where($"ts" === ts("2022-01-01 10:01:00"))
      .select("open").as[Double].head() == 20.0)
  }

  test("versioned streaming ingest: one commit per micro-batch, as-of mid-stream states match") {
    implicit val sqlCtx = spark.sqlContext
    val b1 = Seq(c("BTC", "2022-01-01 10:00:00", 1), c("BTC", "2022-01-01 10:01:00", 2))
    val b2 = Seq(c("BTC", "2022-01-01 10:01:00", 20), c("ETH", "2021-06-01 00:00:00", 5))
    val b3 = Seq(c("BTC", "2022-01-01 10:00:00", 100))

    val vst = graft.store.VersionedCandleStore(spark, tmpDir("st-vstream") + "/v")
    val stream = MemoryStream[Candle]
    val query = Ingest.startVersionedIngest(stream.toDF(), vst, tmpDir("st-vckpt"),
      trigger = Trigger.ProcessingTime(0))
    Seq(b1, b2, b3).foreach { b => stream.addData(b); query.processAllAvailable() }
    query.stop()

    // 3 micro-batches == 3 journaled transactions
    assert(vst.latestTxId == 3L)
    assert(vst.txLog().where($"kind" === "commit").count() == 3)

    // mid-stream as-of states equal the batch-store states after the
    // same prefix of upserts
    def opens(df: org.apache.spark.sql.DataFrame): Map[(String, Timestamp), Double] =
      df.select("code", "ts", "open").collect()
        .map(r => (r.getString(0), r.getTimestamp(1)) -> r.getDouble(2)).toMap
    val batch = CandleStore(spark, tmpDir("st-vbatch") + "/t")
    batch.upsert(b1.toDF())
    assert(opens(vst.scanAsOf(1L)) == opens(batch.scan()))
    batch.upsert(b2.toDF())
    assert(opens(vst.scanAsOf(2L)) == opens(batch.scan()))
    batch.upsert(b3.toDF())
    assert(opens(vst.scan()) == opens(batch.scan()))
  }

  test("versioned ingest with in-loop view auto-refresh: the view equals " +
      "a full recompute at EVERY micro-batch boundary without an external " +
      "driver, and a racing reserve-then-journal committer repairs " +
      "through the gap-run protocol") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, count, lit, round, sum}
    val vst = graft.store.VersionedCandleStore(spark, tmpDir("st-avr") + "/v")
    val view = new graft.store.IncrementalView(spark, tmpDir("st-avr-view"),
      vst, Seq("code" -> col("code")),
      Seq(count(lit(1)).as("n"), round(sum(col("volume")), 4).as("vol")))
    def full() = vst.scan().groupBy("code")
      .agg(count(lit(1)).as("n"), round(sum(col("volume")), 4).as("vol"))
      .collect().map(_.mkString("|")).toSet
    def viewRows() = view.read().select("code", "n", "vol")
      .collect().map(_.mkString("|")).toSet

    val stream = MemoryStream[Candle]
    val ckptDir = tmpDir("st-avr-ckpt")
    val query = Ingest.startVersionedIngest(stream.toDF(), vst,
      ckptDir, Trigger.ProcessingTime(0), views = Seq(view))
    stream.addData(Seq(c("BTC", "2022-01-01 10:00:00", 1),
      c("ETH", "2021-06-01 00:00:00", 5)))
    query.processAllAvailable()
    assert(viewRows() == full(), "in-loop refresh after batch 0")
    // a SLOW committer reserves a tx but journals it LATE — the next
    // in-loop refresh records the gap run instead of skipping it forever
    val (lateTx, written) = vst.prepareDataCommit(
      Seq(c("SOL", "2022-02-01 00:00:00", 9)).toDF(), None)
    stream.addData(Seq(c("BTC", "2022-01-01 10:00:00", 2))) // higher tx
    query.processAllAvailable()
    assert(viewRows() == full(), "in-loop refresh with an open gap")
    vst.finalizeDataCommit(lateTx, written, None, None) // journals late
    // a _refresh.lock left by a HARD-KILLED prior incarnation of THIS
    // stream (stamped with this checkpoint's owner token) must not
    // wedge the restarted stream: the writer proves staleness by the
    // stamp, breaks it, and retries
    val lockPath = java.nio.file.Paths.get(view.path, "_refresh.lock")
    java.nio.file.Files.write(lockPath,
      s"graft-stream:$ckptDir".getBytes("UTF-8"))
    stream.addData(Seq(c("ADA", "2022-03-01 00:00:00", 3)))
    query.processAllAvailable()
    query.stop()
    assert(!java.nio.file.Files.exists(lockPath),
      "the own-stamped stale lock must be broken, not left to wedge every retry")
    assert(viewRows() == full(),
      "the next in-loop refresh must repair the late tx via the gap run")
    assert(view.read().where(col("code") === "SOL").count() == 1,
      "the late committer's group must be in the auto-refreshed view")
    // a FOREIGN lock (another stream's stamp, or an unstamped manual
    // refresh()) is possibly LIVE: the batch must fail LOUDLY instead
    // of silently deleting it — the concurrent-refresh GC race the
    // lock exists to prevent
    java.nio.file.Files.write(lockPath,
      "graft-stream:someone-else".getBytes("UTF-8"))
    val restarted = Ingest.startVersionedIngest(stream.toDF(), vst,
      ckptDir, Trigger.ProcessingTime(0), views = Seq(view))
    stream.addData(Seq(c("XRP", "2022-04-01 00:00:00", 4)))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      restarted.processAllAvailable()
    }
    restarted.stop()
    assert(e.getMessage.contains("does not own") ||
      Option(e.getCause).exists(_.getMessage.contains("does not own")),
      s"foreign lock must fail loudly, got: ${e.getMessage}")
    assert(java.nio.file.Files.exists(lockPath),
      "the foreign lock must SURVIVE — never silently deleted")
    // the operator resolves it (breakStaleLock) and the stream recovers
    assert(view.breakStaleLock())
    val resumed = Ingest.startVersionedIngest(stream.toDF(), vst,
      ckptDir, Trigger.ProcessingTime(0), views = Seq(view))
    resumed.processAllAvailable()
    resumed.stop()
    assert(viewRows() == full(), "recovery after the operator breaks the lock")
    assert(view.read().where(col("code") === "XRP").count() == 1)
  }

  test("view-as-stream differential: a tail consumer applying " +
      "changesSinceGeneration at every micro-batch boundary stays equal " +
      "to read() — upserts, new groups, and a tombstoned group's delete " +
      "all flow through the view's own feed") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, count, lit, round, sum}
    val vst = graft.store.VersionedCandleStore(spark, tmpDir("st-vas") + "/v")
    val view = new graft.store.IncrementalView(spark, tmpDir("st-vas-view"),
      vst, Seq("code" -> col("code")),
      Seq(count(lit(1)).as("n"), round(sum(col("volume")), 4).as("vol")))
    def rowsOf(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("code", "n", "vol").collect().map(_.mkString("|")).toSet
    val stream = MemoryStream[Candle]
    val query = Ingest.startVersionedIngest(stream.toDF(), vst,
      tmpDir("st-vas-ckpt"), Trigger.ProcessingTime(0), views = Seq(view))
    var heldGen: Option[(Long, Long)] = None
    var copy: Set[String] = Set.empty
    // the tail protocol: diff from the held generation, drop touched
    // groups, union the upserts — never a full re-read after the seed
    def advance(): Unit = {
      val gen = view.generation().get
      heldGen match {
        case None => copy = rowsOf(view.read()) // the one-time seed
        case Some((t, r)) =>
          val feed = view.changesSinceGeneration(t, r)
          val touched = feed.select("code").distinct()
            .collect().map(_.getString(0)).toSet
          copy = copy.filterNot(s => touched.contains(s.split('|')(0))) ++
            rowsOf(feed.where(col("_view_change_kind") === "upsert"))
      }
      heldGen = Some(gen)
      assert(copy == rowsOf(view.read()),
        s"tail copy diverged from the view at generation $gen")
    }
    def step(data: Seq[Candle]): Unit = {
      stream.addData(data); query.processAllAvailable(); advance()
    }
    step(Seq(c("BTC", "2022-01-01 10:00:00", 1),
      c("ETH", "2021-06-01 00:00:00", 5)))
    step(Seq(c("BTC", "2022-01-01 10:00:00", 2))) // update: vol changes
    step(Seq(c("SOL", "2023-03-01 00:00:00", 7))) // new group
    // a tombstone delete lands out-of-band; the next batch's in-loop
    // refresh folds it in and the feed carries the group's delete
    vst.delete(Seq(("UPBIT", "ETH", 60, ts("2021-06-01 00:00:00")))
      .toDF("market", "code", "candle_length", "ts"))
    stream.addData(Seq(c("ADA", "2022-05-01 00:00:00", 3)))
    query.processAllAvailable()
    val feed = view.changesSinceGeneration(heldGen.get._1, heldGen.get._2)
    assert(feed.where(col("_view_change_kind") === "delete")
      .select("code").collect().map(_.getString(0)).toSet == Set("ETH"),
      "the tombstoned group must arrive as a delete row")
    advance()
    query.stop()
    assert(!copy.exists(_.startsWith("ETH|")))
  }

  test("graft-view streaming source: batch 0 self-seeds the full view, " +
      "every later micro-batch is exactly one generation diff (== the " +
      "hand-polled changesBetween at that boundary), a repair rev lands " +
      "as its own batch, and the apply protocol keeps a copy equal to " +
      "read() throughout") {
    import org.apache.spark.sql.functions.col
    val vst = graft.store.VersionedCandleStore(spark, tmpDir("st-gvs") + "/v")
    val viewDir = tmpDir("st-gvs-view") + "/view"
    val view = graft.store.IncrementalView.create(spark, viewDir, vst,
      Seq("code" -> "code"),
      Seq("count(1) AS n", "round(sum(volume), 4) AS vol"))
    vst.commit(Seq(c("BTC", "2022-01-01 10:00:00", 1),
      c("ETH", "2021-06-01 00:00:00", 5)).toDF())              // tx 1
    assert(view.refresh() == 1L)                               // gen_1
    def norm(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("_view_change_kind", "code", "n", "vol")
        .collect().map(_.mkString("|")).toSet
    def viewRows(): Set[String] =
      view.read().select("code", "n", "vol")
        .collect().map(_.mkString("|")).toSet
    val batches = scala.collection.concurrent.TrieMap[Long, Set[String]]()
    val ckpt = tmpDir("st-gvs-ckpt")
    def start() = spark.readStream.format("graft-view").load(viewDir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        batches.put(id, norm(df)); ()
      }
      .start()
    val q = start()
    q.processAllAvailable()
    // batch 0 = the self-seed: the full adopted view as upsert rows
    assert(batches(0L) == viewRows().map(r => s"upsert|$r"),
      s"self-seed batch, got ${batches(0L)}")
    // the tail copy applies the documented protocol per batch: drop the
    // feed's group keys, union the upserts
    var copy: Set[String] = Set.empty
    def apply(batch: Set[String]): Unit = {
      val touched = batch.map(_.split('|')(1))
      copy = copy.filterNot(s => touched.contains(s.split('|')(0))) ++
        batch.collect { case s if s.startsWith("upsert|") =>
          s.stripPrefix("upsert|") }
      assert(copy == viewRows(), s"tail copy diverged, got $copy")
    }
    apply(batches(0L))
    // an update + a new group → gen_2; the streamed batch must equal
    // the hand-polled diff of exactly that boundary
    vst.commit(Seq(c("BTC", "2022-01-01 10:00:00", 2),
      c("SOL", "2023-03-01 00:00:00", 7)).toDF())              // tx 2
    assert(view.refresh() == 2L)
    q.processAllAvailable()
    assert(batches(1L) == norm(view.changesBetween(1L, 0L, 2L, 0L)),
      "batch 1 != the hand-polled generation diff")
    apply(batches(1L))
    // a tombstoned group → its delete row flows through the stream
    vst.delete(Seq(("UPBIT", "ETH", 60, ts("2021-06-01 00:00:00")))
      .toDF("market", "code", "candle_length", "ts"))          // tx 3
    assert(view.refresh() == 3L)
    q.processAllAvailable()
    assert(batches(2L).contains("delete|ETH|1|10.0"), batches(2L))
    apply(batches(2L))
    // a REPAIR REV mid-stream: a slow committer reserves tx 4, tx 5
    // commits past it, the refresh records the gap (gen_5); the late
    // finalize then repairs at the SAME watermark (gen_5_r1) — the
    // stream's (tx, rev) offsets deliver it as its own batch, which a
    // watermark-keyed tail would have silently skipped
    val (lateTx, written) = vst.prepareDataCommit(
      Seq(c("ADA", "2022-05-01 00:00:00", 3)).toDF(), None)    // tx 4 reserved
    vst.commit(Seq(c("XRP", "2022-06-01 00:00:00", 4)).toDF()) // tx 5
    assert(view.refresh() == 5L)
    q.processAllAvailable()
    apply(batches(3L))
    vst.finalizeDataCommit(lateTx, written, None, None)        // tx 4 LATE
    assert(view.refresh() == 5L)                               // gen_5_r1
    assert(view.generation() == Some((5L, 1L)))
    q.processAllAvailable()
    assert(batches(4L) == norm(view.changesBetween(5L, 0L, 5L, 1L)),
      "the repair batch != the hand-polled repair diff")
    assert(batches(4L).exists(_.startsWith("upsert|ADA|")), batches(4L))
    apply(batches(4L))
    q.stop()
    // restart from the checkpoint across ONE refresh: the recorded
    // offset's generation is still retained (one hop), so the tail
    // resumes with exactly the missed diff — no re-seed
    vst.commit(Seq(c("DOT", "2022-07-01 00:00:00", 6)).toDF()) // tx 6
    assert(view.refresh() == 6L)
    val q2 = start()
    q2.processAllAvailable()
    assert(batches(5L) == norm(view.changesBetween(5L, 1L, 6L, 0L)),
      "the restart batch != the missed boundary's diff")
    apply(batches(5L))
    q2.stop()
  }

  test("graft-view stream refusals: a checkpointed offset whose " +
      "generation was GC'd (two refreshes behind) fails LOUDLY with the " +
      "re-seed message; sinceRev without sinceTx refuses at load; " +
      "sinceTx tails from the held generation without a seed batch") {
    import org.apache.spark.sql.functions.col
    val vst = graft.store.VersionedCandleStore(spark, tmpDir("st-gvr") + "/v")
    val viewDir = tmpDir("st-gvr-view") + "/view"
    val view = graft.store.IncrementalView.create(spark, viewDir, vst,
      Seq("code" -> "code"), Seq("count(1) AS n"))
    vst.commit(Seq(c("BTC", "2022-01-01 10:00:00", 1)).toDF()) // tx 1
    assert(view.refresh() == 1L)
    val ckpt = tmpDir("st-gvr-ckpt")
    val batches = scala.collection.concurrent.TrieMap[Long, Set[String]]()
    def start() = spark.readStream.format("graft-view").load(viewDir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        batches.put(id,
          df.select("_view_change_kind", "code").collect()
            .map(_.mkString("|")).toSet); ()
      }
      .start()
    val q = start()
    q.processAllAvailable(); q.stop()
    assert(batches(0L) == Set("upsert|BTC"))
    // two refreshes while the tail is down — the checkpointed gen_1 is
    // GC'd (one-hop retention) and the restart must refuse, not serve
    // a wrong diff
    vst.commit(Seq(c("ETH", "2021-06-01 00:00:00", 5)).toDF()) // tx 2
    assert(view.refresh() == 2L)
    vst.commit(Seq(c("SOL", "2023-03-01 00:00:00", 7)).toDF()) // tx 3
    assert(view.refresh() == 3L)
    val q2 = start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    assert(e.getMessage.contains("not retained") ||
      Option(e.getCause).exists(_.getMessage.contains("not retained")),
      s"GC'd offset must fail with the re-seed message, got: ${e.getMessage}")
    // re-seed: a consumer that already HOLDS a generation starts with
    // sinceTx/sinceRev and gets exactly the diff, no seed batch
    val held = view.generation().get
    vst.commit(Seq(c("ADA", "2022-05-01 00:00:00", 3)).toDF()) // tx 4
    assert(view.refresh() == 4L)
    val batches2 = scala.collection.concurrent.TrieMap[Long, Set[String]]()
    val q3 = spark.readStream.format("graft-view")
      .option("sinceTx", held._1).option("sinceRev", held._2).load(viewDir)
      .writeStream.option("checkpointLocation", tmpDir("st-gvr-ckpt2"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        batches2.put(id,
          df.select("_view_change_kind", "code").collect()
            .map(_.mkString("|")).toSet); ()
      }
      .start()
    q3.processAllAvailable(); q3.stop()
    assert(batches2(0L) == Set("upsert|ADA"),
      s"the held-generation tail must get exactly the diff, got $batches2")
    // option validation fails synchronously at load()
    intercept[IllegalArgumentException](spark.readStream
      .format("graft-view").option("sinceRev", "1").load(viewDir))
  }

  test("pre-image streaming tail: every micro-batch (a, b] equals the " +
      "batch changesSincePre(a, b) — window-start pre-images per batch, " +
      "so content-derived state maintains from the stream alone") {
    val vst = graft.store.VersionedCandleStore(spark, tmpDir("st-pre") + "/v")
    vst.commit(Seq(c("BTC", "2022-01-01 10:00:00", 1),
      c("ETH", "2021-06-01 00:00:00", 5)).toDF())             // tx 1
    vst.commit(Seq(c("BTC", "2022-01-01 10:00:00", 2)).toDF()) // tx 2 update
    vst.delete(Seq(("UPBIT", "ETH", 60, ts("2021-06-01 00:00:00")))
      .toDF("market", "code", "candle_length", "ts"))          // tx 3 tombstone
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("code", "open", "tx_id", "_deleted", "_change_kind")
        .collect().map(_.mkString("|")).toSet
    val batches = scala.collection.concurrent.TrieMap[Long, Set[String]]()
    val q = spark.readStream.format("graft-vstore")
      .option("preImage", "true").option("maxTxsPerBatch", "1").load(vst.path)
      .writeStream
      .option("checkpointLocation", tmpDir("st-pre-ckpt"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        batches.put(id, norm(df)); ()
      }
      .start()
    q.processAllAvailable(); q.stop()
    assert(batches.keySet == Set(0L, 1L, 2L), batches.keySet)
    // the differential: with maxTxsPerBatch=1 and txs 1..3, batch i is
    // exactly the window (i, i+1] — its streamed frame must equal the
    // batch pre-image feed of that same window at every boundary
    (0 to 2).foreach { i =>
      assert(batches(i.toLong) == norm(vst.changesSincePre(i.toLong, i + 1L)),
        s"batch $i != changesSincePre($i, ${i + 1})")
    }
    // batch 1's pre-image (BTC as of tx 1) and batch 2's (ETH as of
    // tx 2) are window-START images — spot-check the semantics
    assert(batches(1L).exists(r => r.startsWith("BTC|1.0|1|") &&
      r.endsWith("preimage")), batches(1L))
    assert(batches(2L).exists(r => r.startsWith("ETH|5.0|1|") &&
      r.endsWith("preimage")), batches(2L))
    // changesSincePre is a batch-reader option on readStream: refused
    intercept[IllegalArgumentException](spark.readStream
      .format("graft-vstore").option("changesSincePre", "1").load(vst.path))
  }

  test("streaming change-feed tail: offsets are tx ids, exactly-once across restart, pacing") {
    val vst = graft.store.VersionedCandleStore(spark, tmpDir("st-cdf") + "/v")
    vst.commit(Seq(c("BTC", "2022-01-01 10:00:00", 1)).toDF())
    vst.commit(Seq(c("BTC", "2022-01-01 10:00:00", 2),
      c("ETH", "2021-06-01 00:00:00", 5)).toDF())
    vst.commit(Seq(c("SOL", "2023-03-01 00:00:00", 7)).toDF())
    // a RECOVERABLE sink (parquet) so the restart leg resumes from the
    // checkpointed tx offset instead of starting over
    val ckpt = tmpDir("st-cdf-ckpt")
    val outDir = tmpDir("st-cdf-out")
    def tailToParquet() = {
      val q = spark.readStream.format("graft-vstore").load(vst.path)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable(); q.stop()
      spark.read.parquet(outDir).select("code", "open", "tx_id")
        .as[(String, Double, Long)].collect().toSet
    }
    // the full unfolded history, tx-stamped — both BTC versions present
    assert(tailToParquet() == Set(("BTC", 1.0, 1L), ("BTC", 2.0, 2L),
      ("ETH", 5.0, 2L), ("SOL", 7.0, 3L)))
    // two more commits; restarting from the same checkpoint delivers
    // ONLY the new txs (offsets are tx ids in the checkpoint WAL) —
    // cumulative output has each row exactly once
    vst.commit(Seq(c("ADA", "2022-05-01 00:00:00", 9)).toDF())
    vst.commit(Seq(c("DOT", "2022-06-01 00:00:00", 11)).toDF())
    assert(tailToParquet() == Set(("BTC", 1.0, 1L), ("BTC", 2.0, 2L),
      ("ETH", 5.0, 2L), ("SOL", 7.0, 3L), ("ADA", 9.0, 4L), ("DOT", 11.0, 5L)))
    assert(spark.read.parquet(outDir).count() == 6, "restart duplicated rows")
    // pacing: a fresh tail with maxTxsPerBatch=1 splits the 5 txs into
    // ≥5 micro-batches (one tx per offset step)
    val ckpt2 = tmpDir("st-cdf-ckpt2")
    val q3 = spark.readStream.format("graft-vstore").option("maxTxsPerBatch", "1")
      .load(vst.path).writeStream.format("memory").queryName("cdf3")
      .option("checkpointLocation", ckpt2).start()
    q3.processAllAvailable()
    val batches = q3.recentProgress.count(_.numInputRows > 0)
    q3.stop()
    assert(spark.table("cdf3").count() == 6) // all 6 unfolded rows
    assert(batches >= 5, s"pacing produced only $batches micro-batches")
  }

  test("change-feed tail fails loudly on an out-of-order committer; option guards at load()") {
    val vst = graft.store.VersionedCandleStore(spark, tmpDir("st-cdf-ooo") + "/v")
    vst.commit(Seq(c("BTC", "2022-01-01 10:00:00", 1)).toDF())
    vst.commit(Seq(c("ETH", "2021-06-01 00:00:00", 5)).toDF())
    // a slow concurrent committer reserved tx 3 but hasn't journaled;
    // tx 4 (journal-only) lands first — the emitted offset passes 3
    vst.writeJournalRow(4L, 0L, ts("2024-05-01 10:00:00"), "commit", None)
    val q = spark.readStream.format("graft-vstore").load(vst.path)
      .writeStream.format("memory").queryName("cdfooo")
      .option("checkpointLocation", tmpDir("st-cdf-ooo-ckpt")).start()
    q.processAllAvailable()
    assert(spark.table("cdfooo").count() == 2) // txs 1, 2 (4 carried no rows)
    // …now tx 3 journals BELOW the already-emitted offset: the source
    // must kill the query loudly, never silently skip the tx
    vst.writeJournalRow(3L, 0L, ts("2024-05-01 10:01:00"), "commit", None)
    val ex = intercept[Exception] { q.processAllAvailable() }
    assert(ex.getMessage != null &&
      (ex.getMessage.contains("single-serialized-committer") ||
        Option(ex.getCause).exists(_.getMessage.contains("single-serialized-committer"))),
      s"expected the out-of-order guard, got: ${ex.getMessage}")
    q.stop()
    // option misuse fails synchronously at load(), not on the stream thread
    intercept[IllegalArgumentException](spark.readStream.format("graft-vstore")
      .option("maxTxsPerBatch", "0").load(vst.path))
    intercept[IllegalArgumentException](spark.readStream.format("graft-vstore")
      .option("changesSince", "1").option("changesUntil", "2").load(vst.path))
  }

  test("journal rollup racing a slow change-feed tail: exactly-once across many rotations") {
    // rollup interval (5) ≪ commit count (~130): the tail's unabsorbed
    // window repeatedly rotates into checkpoint files (tails deleted one
    // rollup behind) WHILE the paced reader is still below them — the
    // reader must keep delivering every tx exactly once, never wedge,
    // and never fail (rollup moves no squash floor; only compact does).
    val vst = graft.store.VersionedCandleStore(
      spark, tmpDir("st-cdf-roll") + "/v", checkpointEvery = 5)
    vst.commit(Seq(c("BTC", "2022-01-01 10:00:00", 1)).toDF()) // tx 1
    val q = spark.readStream.format("graft-vstore")
      .option("maxTxsPerBatch", "7").load(vst.path)
      .writeStream.format("memory").queryName("cdfroll")
      .option("checkpointLocation", tmpDir("st-cdf-roll-ckpt")).start()
    q.processAllAvailable()
    var nextTx = 2L
    var expected = Set(("BTC", 1.0, 1L))
    (1 to 4).foreach { round =>
      // a burst of row-less journal commits (the ~525k-commits/year
      // shape driven journal-only, as the scale specs do) …
      (1 to 30).foreach { _ =>
        vst.writeJournalRow(nextTx, 0L, ts("2024-05-01 10:00:00"), "commit", None)
        nextTx += 1
      }
      // … force a rotation mid-burst (the opportunistic path only runs
      // inside commit()), then land one real commit the sink can see
      vst.checkpointJournal()
      vst.commit(Seq(c("ETH", "2021-06-01 00:00:00", round.toDouble)).toDF())
      expected += (("ETH", round.toDouble, nextTx))
      nextTx += 1
      q.processAllAvailable()
    }
    q.stop()
    assert(vst.latestTxId == nextTx - 1)
    val got = spark.table("cdfroll").select("code", "open", "tx_id")
      .as[(String, Double, Long)].collect()
    assert(got.length == got.toSet.size, "rollup race duplicated a delivery")
    assert(got.toSet == expected,
      s"delivered ${got.toSet.size} rows, expected ${expected.size}")
  }

  test("late commit visible ONLY through a rollup checkpoint is still detected") {
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    // Drive the source directly (a live query polls continuously and
    // would see the late TAIL before any rollup; this pins the
    // checkpoint-only path): the journal view reads new checkpoints
    // with a novelty predicate — ids above the watermark OR inside a
    // known gap run — and a late id surfacing only via the (cumulative)
    // checkpoint must match the gap branch, not be pruned with the
    // already-observed rows.
    val vst = graft.store.VersionedCandleStore(spark, tmpDir("st-cdf-cproll") + "/v")
    vst.commit(Seq(c("BTC", "2022-01-01 10:00:00", 1)).toDF())  // tx 1
    vst.commit(Seq(c("ETH", "2021-06-01 00:00:00", 5)).toDF())  // tx 2
    val src = new graft.sources.VStoreStreamSource(
      spark.sqlContext, vst.path, 0L, None)
    assert(src.getOffset.map(_.json.trim) == Some("2"))
    src.getBatch(None, LongOffset(2L))                    // delivered ≤ 2
    // a slow concurrent committer reserved tx 3; tx 4 journals first
    vst.writeJournalRow(4L, 0L, ts("2024-05-01 10:00:00"), "commit", None)
    assert(src.getOffset.map(_.json.trim) == Some("4"))
    src.getBatch(Some(LongOffset(2L)), LongOffset(4L))    // delivered ≤ 4; gap {3}
    // …now tx 3 journals late, and TWO rollups run before the reader
    // polls again: the second deletes tx 3's tail (absorbed by the
    // first), so the only trace of the violation is inside the
    // cumulative checkpoint file
    vst.writeJournalRow(3L, 0L, ts("2024-05-01 10:01:00"), "commit", None)
    vst.checkpointJournal()
    vst.writeJournalRow(5L, 0L, ts("2024-05-01 10:02:00"), "commit", None)
    vst.checkpointJournal()
    val tailNames = new java.io.File(vst.path + "/txlog").listFiles()
      .map(_.getName).filter(_.startsWith("tx-"))
    assert(!tailNames.exists(_.contains("3-commit")),
      s"precondition: tx 3's tail must be rolled up and deleted, got ${tailNames.toSeq}")
    val ex = intercept[IllegalStateException] { src.getOffset }
    assert(ex.getMessage.contains("single-serialized-committer")
      && ex.getMessage.contains("tx 3"),
      s"expected the checkpoint-path late-commit guard, got: ${ex.getMessage}")
  }

  test("compact() squashing past a slow tail's next offset kills the query loudly") {
    val vst = graft.store.VersionedCandleStore(spark, tmpDir("st-cdf-sq") + "/v")
    vst.commit(Seq(c("BTC", "2022-01-01 10:00:00", 1)).toDF())  // tx 1
    vst.commit(Seq(c("BTC", "2022-01-01 10:00:00", 2)).toDF())  // tx 2
    // pace 1 tx/batch, deliver everything committed so far, then STOP —
    // a live query would race the commits below and advance past them
    val ckpt = tmpDir("st-cdf-sq-ckpt")
    val outDir = tmpDir("st-cdf-sq-out")
    // parquet sink: recoverable from the checkpoint (memory is not)
    val q = spark.readStream.format("graft-vstore")
      .option("maxTxsPerBatch", "1").load(vst.path)
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable(); q.stop()
    assert(spark.read.parquet(outDir).count() == 2)
    // while the tail is down, two more commits land and compact()
    // squashes per-tx history up to tx 4: the resumed reader's next
    // window (2, 3] starts below the squash floor, whose history no
    // longer exists — the stream must die loudly (silent resume would
    // skip the squashed interleaving), same posture as the batch
    // changesSince guard.
    vst.commit(Seq(c("BTC", "2022-01-01 10:00:00", 3)).toDF())  // tx 3
    vst.commit(Seq(c("ETH", "2021-06-01 00:00:00", 5)).toDF())  // tx 4
    assert(vst.compact() == 4L)
    val ex = intercept[Exception] {
      val q2 = spark.readStream.format("graft-vstore")
        .option("maxTxsPerBatch", "1").load(vst.path)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).start()
      try q2.processAllAvailable() finally q2.stop()
    }
    def mentions(t: Throwable): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .exists(e => e.getMessage != null && e.getMessage.contains("compact"))
    assert(mentions(ex), s"expected the squash-floor guard, got: ${ex.getMessage}")
  }

  test("late-row counter tallies rows a watermark would have dropped") {
    implicit val sqlCtx = spark.sqlContext
    val store = CandleStore(spark, tmpDir("st-late") + "/t")
    val counter = Ingest.lateRowCounter(spark)
    val before = counter.value
    val stream = MemoryStream[Candle]
    // horizon 1h: the 09:00 row is 2h behind the batch max (11:00)
    val query = Ingest.startUpsertIngest(stream.toDF(), store, tmpDir("st-late-ckpt"),
      trigger = Trigger.ProcessingTime(0), lateHorizonSec = Some(3600L))
    stream.addData(Seq(
      c("BTC", "2022-01-01 11:00:00", 1),
      c("BTC", "2022-01-01 10:30:00", 2),  // within horizon: not late
      c("BTC", "2022-01-01 09:00:00", 3))) // late
    query.processAllAvailable()
    query.stop()
    assert(counter.value - before == 1, s"expected 1 late row, counter=${counter.value - before}")
    // metrics only: the late row is still ingested
    assert(store.scan().count() == 3)
  }

  test("streaming tumbling-window candles emit closed windows (watermark/append)") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, String, Timestamp, Double, Double)]
    val df = stream.toDF().toDF("market", "code", "ts", "price", "qty")
    val out = Ingest.streamingCandles(df, widthSec = 60, lateness = "0 seconds")
    val query = out.writeStream.format("memory").queryName("cndl")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    stream.addData(("U", "BTC", ts("2022-01-01 10:00:05"), 100.0, 1.0),
      ("U", "BTC", ts("2022-01-01 10:00:40"), 110.0, 2.0))
    query.processAllAvailable()
    // advance event time past the window so it closes
    stream.addData(("U", "BTC", ts("2022-01-01 10:02:00"), 120.0, 1.0))
    query.processAllAvailable()
    val rows = spark.table("cndl")
      .select("ts", "open", "high", "low", "close", "volume", "candle_length")
      .as[(Timestamp, Double, Double, Double, Double, Double, Int)].collect()
    query.stop()
    assert(rows.toSeq == Seq((ts("2022-01-01 10:00:00"), 100.0, 110.0, 100.0, 110.0, 3.0, 60)))
  }

  test("checkpoint restart is idempotent: re-running over a consumed source is a no-op") {
    // The reference replays only committed WAL txs on recovery
    // (`wal/flusher.go:93-131`); the Spark analog is the checkpointed
    // offset log — a restarted AvailableNow query over already-consumed
    // files must process nothing and leave the store unchanged.
    val srcDir = tmpDir("st-restart-src")
    Seq(c("BTC", "2022-01-01 10:00:00", 1), c("BTC", "2022-01-01 10:01:00", 2))
      .toDF().write.mode("overwrite").parquet(srcDir)
    val store = CandleStore(spark, tmpDir("st-restart") + "/t")
    val ckpt = tmpDir("st-restart-ckpt")
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(spark.read.parquet(srcDir).schema).parquet(srcDir)
      val q = Ingest.startUpsertIngest(stream, store, ckpt,
        trigger = Trigger.AvailableNow())
      q.awaitTermination()
    }
    runOnce()
    val state1 = store.scan().orderBy("code", "ts").collect().toSeq
    runOnce() // "restart" over the same checkpoint: nothing new to do
    assert(store.scan().orderBy("code", "ts").collect().toSeq == state1)
    assert(store.scan().count() == 2)
  }

  test("streaming session windows close after the gap passes the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, Double)]
    val df = stream.toDF().toDF("user_id", "ts", "value")
    val out = Ingest.streamingSessions(df, gap = "10 minutes", lateness = "0 seconds")
    val query = out.writeStream.format("memory").queryName("sess")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    stream.addData((1L, ts("2022-01-01 10:00:00"), 1.0), (1L, ts("2022-01-01 10:05:00"), 2.0))
    query.processAllAvailable()
    stream.addData((1L, ts("2022-01-01 11:00:00"), 9.0)) // advances watermark, closes session
    query.processAllAvailable()
    val rows = spark.table("sess")
      .select("user_id", "session_start", "session_end", "n_events", "total_value")
      .as[(Long, Timestamp, Timestamp, Long, Double)].collect()
    query.stop()
    assert(rows.toSeq == Seq((1L, ts("2022-01-01 10:00:00"), ts("2022-01-01 10:15:00"), 2L, 3.0)))
  }

  test("runningCandles (flatMapGroupsWithState) emits a candle when its bucket closes") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ingest.Tick]
    val out = Ingest.runningCandles(stream.toDS(), widthSec = 60)
    val query = out.writeStream.format("memory").queryName("runc")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    stream.addData(
      Ingest.Tick("U", "BTC", ts("2022-01-01 10:00:05"), 100.0, 1.0),
      Ingest.Tick("U", "BTC", ts("2022-01-01 10:00:40"), 90.0, 2.0))
    query.processAllAvailable()
    assert(spark.table("runc").count() == 0, "bucket still live -> nothing emitted")
    stream.addData(Ingest.Tick("U", "BTC", ts("2022-01-01 10:01:10"), 95.0, 1.0))
    query.processAllAvailable()
    val rows = spark.table("runc")
      .select("ts", "open", "high", "low", "close", "volume")
      .as[(Timestamp, Double, Double, Double, Double, Double)].collect()
    query.stop()
    assert(rows.toSeq ==
      Seq((ts("2022-01-01 10:00:00"), 100.0, 100.0, 90.0, 90.0, 3.0)),
      s"got ${rows.toSeq}")
  }

  test("streaming dedup with watermark drops duplicate keys within the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Candle]
    val out = Ingest.dedupWithWatermark(stream.toDF(), "1 hour")
    val query = out.writeStream.format("memory").queryName("ddp")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    stream.addData(c("BTC", "2022-01-01 10:00:00", 1), c("BTC", "2022-01-01 10:00:00", 2))
    query.processAllAvailable()
    stream.addData(c("BTC", "2022-01-01 10:00:00", 3)) // dup across batches
    query.processAllAvailable()
    assert(spark.table("ddp").count() == 1)
    query.stop()
  }

  test("stream-stream interval join emits exactly the batch join's rows") {
    implicit val sqlCtx = spark.sqlContext
    val trades = MemoryStream[(String, java.sql.Timestamp, Double)]
    val quotes = MemoryStream[(String, java.sql.Timestamp, Double)]
    val tDf = trades.toDF.toDF("code", "trade_ts", "price")
    val qDf = quotes.toDF.toDF("code", "quote_ts", "bid")
    val joined = graft.streaming.Ingest.intervalJoin(
      tDf, qDf, Seq("code"), "trade_ts", "quote_ts", spanSec = 5)
    val query = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    // quotes at :00/:04/:10; trades at :03/:05/:12 — the 5s window keeps
    // (:03←:00), (:05←:00,:04), (:12←:10); cross-key rows never match.
    quotes.addData(("BTC", ts("2022-01-01 10:00:00"), 99.0),
      ("BTC", ts("2022-01-01 10:00:04"), 99.5),
      ("ETH", ts("2022-01-01 10:00:04"), 5.0))
    trades.addData(("BTC", ts("2022-01-01 10:00:03"), 100.0))
    query.processAllAvailable()
    quotes.addData(("BTC", ts("2022-01-01 10:00:10"), 98.0))
    trades.addData(("BTC", ts("2022-01-01 10:00:05"), 101.0),
      ("BTC", ts("2022-01-01 10:00:12"), 102.0))
    query.processAllAvailable()
    query.stop()
    val got = spark.table("ssj").select("code", "trade_ts", "price", "quote_ts", "bid")
      .orderBy("trade_ts", "quote_ts").collect().toSeq
    // batch differential over the full inputs
    val bt = Seq(("BTC", ts("2022-01-01 10:00:03"), 100.0),
      ("BTC", ts("2022-01-01 10:00:05"), 101.0),
      ("BTC", ts("2022-01-01 10:00:12"), 102.0)).toDF("code", "trade_ts", "price")
    val bq = Seq(("BTC", ts("2022-01-01 10:00:00"), 99.0),
      ("BTC", ts("2022-01-01 10:00:04"), 99.5),
      ("ETH", ts("2022-01-01 10:00:04"), 5.0),
      ("BTC", ts("2022-01-01 10:00:10"), 98.0)).toDF("code", "quote_ts", "bid")
    val expected = bt.join(bq, bt("code") === bq("code") &&
        bq("quote_ts").between(bt("trade_ts") - expr("INTERVAL 5 SECONDS"), bt("trade_ts")))
      .drop(bq("code"))
      .select("code", "trade_ts", "price", "quote_ts", "bid")
      .orderBy("trade_ts", "quote_ts").collect().toSeq
    assert(expected.nonEmpty && got == expected)
  }
}
