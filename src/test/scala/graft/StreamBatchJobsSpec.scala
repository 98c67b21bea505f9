package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.streaming.Ingest

/** Spark jobs per micro-batch of the three curation bodies, each driven
  * directly on a one-file batch (the shape a file-source micro-batch
  * hands `foreachBatch`) after two earlier batches of history. Every job
  * is a fixed cost per batch: planning, scheduling and the gaps between
  * them on the driver.
  */
class StreamBatchJobsSpec extends SparkSpec {

  private val PerBatch = 250

  /** Twelve words drawn by `seed`. */
  private def text(seed: Long): String = {
    val r = new scala.util.Random(seed)
    Seq.fill(12)(s"w${r.nextInt(500)}").mkString(" ")
  }

  /** Batch `j`'s documents: from the second batch on, every tenth is an
    * exact copy of a first-batch document (edge whitespace and case
    * changed), and every tenth from the fifth a near copy (last word
    * changed) of one.
    */
  private def docLines(j: Int): Seq[String] = (0 until PerBatch).map { i =>
    val id = j * 1000L + i
    val t =
      if (j > 0 && i % 10 == 0) s"  ${text(i).toUpperCase} "
      else if (j > 0 && i % 10 == 5) text(i).split(' ').dropRight(1).mkString(" ") + " zz"
      else text(id)
    s"""{"doc_id":$id,"text":"$t"}"""
  }

  private def vecLines(j: Int): Seq[String] = {
    val ids = if (j == 0) 0 until 60 else (60 + (j - 1) * 20) until (60 + j * 20)
    ids.map { i =>
      val r = new scala.util.Random(i)
      val c = i % 4
      val v = (0 until 16).map(d => (if (d % 4 == c) 1.0 else 0.0) + 0.05 * r.nextGaussian())
      s"""{"vec_id":$i,"embedding":[${v.mkString(",")}]}"""
    }
  }

  /** `lines` as ONE json file under `dir`, read back as a batch. */
  private def oneFile(dir: String, schema: String, lines: Seq[String]): DataFrame = {
    val d = Files.createDirectories(Paths.get(dir))
    Files.write(d.resolve("part-0.json"), lines.mkString("\n").getBytes(UTF_8))
    spark.read.schema(schema).json(d.toString)
  }

  private val docSchema = "doc_id LONG, text STRING"

  test("exact dedup, near-dup and IVF-PQ batches run at most 9, 21 and 4 Spark jobs") {
    val base = tmpDir("batch-jobs")
    def exact(j: Int): Unit = Ingest.exactDedupBatch(
      oneFile(s"$base/src/exact_$j", docSchema, docLines(j)), j.toLong, s"$base/exact",
      "doc_id", "text")
    def nearDup(j: Int): Unit = Ingest.nearDupBatch(
      oneFile(s"$base/src/neardup_$j", docSchema, docLines(j)), j.toLong, s"$base/neardup",
      "doc_id", "text", shingleN = 3, k = 32, bands = 8, threshold = 0.5)
    def ivfPq(j: Int): Unit = Ingest.ivfPqIndexBatch(
      oneFile(s"$base/src/ivfpq_$j", "vec_id LONG, embedding ARRAY<FLOAT>", vecLines(j)),
      j.toLong, s"$base/ivfpq", "vec_id", "embedding", nCells = 4, iters = 3, m = 4, ks = 16)
    for (j <- 0 to 1) { exact(j); nearDup(j); ivfPq(j) }
    val jobs = Seq(jobsOf(exact(2)), jobsOf(nearDup(2)), jobsOf(ivfPq(2)))
    info(s"jobs per batch (exact, near-dup, IVF-PQ): ${jobs.mkString(", ")}")
    assert(jobs(0) <= 9 && jobs(1) <= 21 && jobs(2) <= 4,
      s"jobs per batch (exact, near-dup, IVF-PQ): ${jobs.mkString(", ")}")
    // the batches did their work: every copy in batch 2 repeats a text of
    // history (batch 0's exact copies, batch 1's near copies), each
    // dropped once although two history dirs hold most of them
    val dups = spark.read.parquet(s"$base/exact/dups/batch_2").select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(dups.sorted == (0 until PerBatch by 5).map(2000L + _), dups.sorted.toString)
    assert(spark.read.parquet(s"$base/neardup/flags/batch_2").count() >= PerBatch / 10)
    assert(spark.read.parquet(s"$base/ivfpq/codes/batch_2").count() == 20)
  }

  /** Every node of an executed plan, through AQE wrappers and query
    * stages.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => Seq.empty
    }
    p +: (inner ++ p.children.flatMap(nodes) ++ p.subqueries.flatMap(nodes))
  }

  private def scansOf(p: SparkPlan, sub: String): Seq[FileSourceScanExec] =
    nodes(p).collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(s"/$sub/")) => s
    }

  /** Every executed plan of exact-dedup batch 2, after two batches of
    * history, that reads the `hashes/` history.
    */
  private def historyProbes(base: String): Seq[SparkPlan] = {
    def exact(j: Int): Unit = Ingest.exactDedupBatch(
      oneFile(s"$base/src/$j", docSchema, docLines(j)), j.toLong, s"$base/state",
      "doc_id", "text")
    for (j <- 0 to 1) exact(j)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val marker = new java.util.concurrent.CountDownLatch(1)
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit =
        if (qe.analyzed.toString.contains("exact-plan-marker")) marker.countDown()
        else plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      exact(2)
      spark.range(1).selectExpr("'exact-plan-marker' AS m").collect()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq.filter(scansOf(_, "hashes").nonEmpty)
  }

  private def assertHistoryNeverShuffles(probing: Seq[SparkPlan]): Unit = {
    assert(probing.nonEmpty, "no plan read the digest history")
    for (p <- probing) {
      val shuffled = nodes(p).collect { case x: ShuffleExchangeExec => x }
        .filter(x => scansOf(x, "hashes").nonEmpty)
      assert(shuffled.isEmpty, s"history shuffles:\n$p")
      assert(nodes(p).collect { case x: BroadcastNestedLoopJoinExec => x }.isEmpty,
        s"nested-loop join:\n$p")
    }
  }

  test("exact dedup probes history without shuffling it or a nested-loop join") {
    assertHistoryNeverShuffles(historyProbes(tmpDir("exact-plan")))
  }

  test("exact dedup broadcasts the batch side at any history size estimate") {
    // a threshold of 1 byte: every history, and every batch, is too big
    // to broadcast by size, so only a hint keeps history unshuffled
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "1") {
      assertHistoryNeverShuffles(historyProbes(tmpDir("exact-plan-large")))
    }
  }
}
