package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row => SRow}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQuery

import perfbench.Check.Row

/** Client-side helpers shared by the workloads: collecting a read,
  * dropping a file into a stream source, and waiting for its batch.
  */
object Client {

  private object Plans extends AdaptiveSparkPlanHelper

  /** Collects `df`. When tracing, planning is forced first under its own
    * span and the scan nodes' file and partition counts are kept.
    */
  def collect(c: Ctx, o: Outcome, df: DataFrame): Array[SRow] = {
    if (c.trace.on) c.trace.span("plans.plan")(df.queryExecution.executedPlan)
    val rows = c.trace.span("exec.collect")(df.collect())
    if (c.trace.on) {
      val scans = Plans.collect(df.queryExecution.executedPlan) { case f: FileSourceScanExec => f }
      def total(m: String) = scans.map(_.metrics.get(m).map(_.value).getOrElse(0L)).sum.toDouble
      if (scans.nonEmpty) {
        o.sample("files_per_read", total("numFiles"))
        o.sample("partitions_per_read", total("numPartitions"))
      }
    }
    rows
  }

  def toRow(r: SRow): Row =
    Row(r.getAs[Timestamp]("ts").getTime / 1000L,
      (r.getAs[Double]("open"), r.getAs[Double]("high"), r.getAs[Double]("low"),
        r.getAs[Double]("close"), r.getAs[Double]("volume"), r.getAs[Long]("bit_fields")))

  /** Parquet files per series-year directory of a store. */
  def filesPerPartition(root: String): Double = {
    val files = FileTree.files(root).map(_._1).filter(f => f.endsWith(".parquet") && f.contains("/year="))
    val parts = files.map(f => f.substring(0, f.lastIndexOf('/'))).distinct
    if (parts.isEmpty) 0.0 else files.size.toDouble / parts.size
  }

  /** Writes `lines` to a staging file, then renames it into `dir` so the
    * stream source never lists a partial file. Returns the nanoTime of
    * the rename, the moment the data became available.
    */
  def drop(staging: String, dir: String, name: String, lines: Seq[String]): Long = {
    val tmp = Paths.get(staging, name)
    Files.createDirectories(tmp.getParent)
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val t = System.nanoTime()
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
    t
  }

  /** The client's poll interval while it waits for a batch to commit. */
  val PollMs = 5L

  /** Waits until `q` has run a trigger that found no new data. */
  def awaitIdle(q: StreamingQuery, timeoutS: Double = 60): Unit = {
    val end = System.nanoTime() + (timeoutS * 1e9).toLong
    while (q.status.message != "Waiting for data to arrive") {
      q.exception.foreach(e => throw e)
      if (!q.isActive) sys.error(s"query ${q.name} stopped before it started")
      if (System.nanoTime() > end) sys.error(s"query ${q.name} not started in $timeoutS s")
      Thread.sleep(PollMs)
    }
  }

  /** Waits until `q` reports batch `batchId` committed; fails if the query
    * died or the batch took longer than `timeoutS`.
    */
  def awaitBatch(q: StreamingQuery, batchId: Long, timeoutS: Double = 60): Unit = {
    val end = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!q.recentProgress.exists(p => p.batchId == batchId && p.numInputRows > 0)) {
      q.exception.foreach(e => throw e)
      if (!q.isActive) sys.error(s"query ${q.name} stopped before batch $batchId")
      if (System.nanoTime() > end) sys.error(s"batch $batchId not committed in $timeoutS s")
      Thread.sleep(PollMs)
    }
  }
}
