package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A timed interval. `op` groups the spans of one client operation;
  * `parent` is the span that caused this one (-1 for an op's root).
  * Times are microseconds on the wall clock.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** A Spark job, from the listener's millisecond stamps. */
final case class Job(id: Int, startUs: Long, endUs: Long)

/** The counters of one finished task. */
final case class Task(endUs: Long, runMs: Long, cpuNs: Long, shuffleWrite: Long, spill: Long)

/** One streaming trigger that read input: its start and phase durations. */
final case class Progress(runId: String, batchId: Long, startUs: Long,
                          rows: Long, durations: Map[String, Long])

/** Summary statistics and the interval arithmetic used for self time. */
object Stats {

  /** Linear-interpolated percentile `p` (0..100) of the samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Geometric mean; 0 for no values or when one of them is 0. */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty || xs.exists(_ <= 0)) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  /** The highest of the reported tail percentiles that has at least ten
    * samples beyond it, or None when even the median has fewer.
    */
  def tailPercentile(n: Int): Option[Double] =
    Seq(99.9, 99.0, 95.0, 90.0, 50.0).find(p => n * (100.0 - p) / 100.0 >= 10.0 - 1e-9)

  /** Total length of the union of intervals, each clipped to [lo, hi). */
  def unionUs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = 0L; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part of its interval
    * that its children cover.
    */
  def selfUs(span: Span, children: Seq[Span]): Long =
    span.durUs - unionUs(children.map(c => (c.startUs, c.endUs)), span.startUs, span.endUs)
}

/** In-memory span recorder plus Spark listeners. When `on` is false the
  * recorder keeps nothing and only the op timings are taken; when on,
  * spans are written once at exit by [[Main]].
  */
final class Trace(val on: Boolean) {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L

  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var opId = -1
  private var nextId = 0

  /** Runs `body` as client operation `name`; returns its result and its
    * wall time in ms. The op span is kept only when tracing is on.
    */
  def op[T](name: String)(body: => T): (T, Double) = {
    opId += 1
    val t0 = System.nanoTime()
    val r = span(name)(body)
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Records one span around `body`, nested under the open span. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val s = nowUs
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, opId, name, s, nowUs)
      }
    }

  def opSpans: Seq[Span] = spans.filter(_.parent == -1).toSeq

  /** The client spans plus one span per Spark job and per streaming
    * trigger, each parented to the innermost client span it started in.
    */
  def allSpans: Seq[Span] = {
    def within(name: String, a: Long, b: Long) = {
      val host = spans.filter(s => s.startUs <= a + 1000L && a <= s.endUs).minByOption(_.durUs)
      (id: Int) => Span(id, host.map(_.id).getOrElse(-1), host.map(_.op).getOrElse(-1), name, a, b)
    }
    val listened = jobs.map(j => within(s"spark.job.${j.id}", j.startUs, j.endUs)) ++
      progress.map(p => within(s"stream.trigger.${p.runId.take(8)}.${p.batchId}", p.startUs,
        p.startUs + p.durations.getOrElse("triggerExecution", 0L) * 1000L))
    spans.toSeq ++ listened.zipWithIndex.map { case (f, i) => f(nextId + i) }
  }

  // ------------------------------------------------------------ listeners

  private val jobStarts = scala.collection.mutable.Map[Int, Long]()
  val jobs = ArrayBuffer[Job]()
  val tasks = ArrayBuffer[Task]()
  val progress = ArrayBuffer[Progress]()

  /** Spark's listener-bus callbacks, recorded as job spans and task
    * counters. Job times are Spark's millisecond stamps.
    */
  val jobListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobStarts(e.jobId) = e.time * 1000L
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStarts.remove(e.jobId).foreach(s => jobs += Job(e.jobId, s, e.time * 1000L))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      if (m != null)
        tasks += Task(e.taskInfo.finishTime * 1000L, m.executorRunTime, m.executorCpuTime,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Per-trigger progress of every streaming query, kept for triggers
    * that read input.
    */
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = Trace.this.synchronized {
      val p = e.progress
      if (p.numInputRows > 0) {
        import scala.jdk.CollectionConverters._
        progress += Progress(p.runId.toString, p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L, p.numInputRows,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      }
    }
  }

  /** Jobs that started inside [lo, hi] (millisecond stamps, so the window
    * is widened by 1 ms at the start).
    */
  def jobsIn(lo: Long, hi: Long): Seq[Job] = synchronized {
    jobs.filter(j => j.startUs >= lo - 1000L && j.startUs <= hi).toSeq
  }

  def tasksIn(lo: Long, hi: Long): Seq[Task] = synchronized {
    tasks.filter(t => t.endUs >= lo && t.endUs <= hi).toSeq
  }
}
