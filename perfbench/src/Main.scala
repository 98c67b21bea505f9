package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.SparkSession

/** What a workload measured in its timed loop. `opMs` times the
  * workload's unit of work, `readMs` its reads when they are not its unit
  * of work, `items` counts what the loop completed (reads or documents).
  */
final class Outcome {
  var attempted = 0
  var failed = 0
  val mismatches = ArrayBuffer[String]()
  val opMs = ArrayBuffer[Double]()
  val readMs = ArrayBuffer[Double]()
  var items = 0L
  var loopS = 0.0
  /** Named sample series and values kept in the artifact only. */
  val samples = LinkedHashMap[String, ArrayBuffer[Double]]()
  val extra = LinkedHashMap[String, Double]()
  /** Per-layer metrics, filled by traced runs. */
  val layer = LinkedHashMap[String, Double]()

  def sample(name: String, v: Double): Unit = samples.getOrElseUpdate(name, ArrayBuffer()) += v

  /** Counts one attempted operation. A thrown error fails it; a check
    * result of `Some(diff)` fails it as a mismatch.
    */
  def attempt(what: String)(body: => Option[String]): Unit = {
    attempted += 1
    val diff =
      try body
      catch {
        case t: Throwable =>
          failed += 1
          System.err.println(s"[perfbench] $what failed: $t")
          None
      }
    diff.foreach { d =>
      failed += 1
      mismatches += d
      System.err.println(s"[perfbench] mismatch: $d")
    }
  }
  var loopStartUs = 0L
  var loopEndUs = 0L
}

/** A workload: `setup(rep)` builds a fresh fixture; every set-up but the
  * last is then `discard`ed (untimed), and the last is the one `run`
  * measures, after an untimed `warm` round of the measured operations (the
  * JIT is still compiling their path over the first dozens of calls).
  */
trait Workload {
  def setup(rep: Int): Unit
  /** Releases what a set-up that `run` will not use holds. */
  def discard(): Unit = ()
  def warm(): Unit
  def run(out: Outcome, seconds: Double): Unit
  /** The gated `op_p50_ms` and `read_p50_ms` of the timed loop. */
  def opMs(out: Outcome): Double
  def readMs(out: Outcome): Double
  /** Checks and metrics taken once after the timed loop. */
  def finish(out: Outcome): Unit
  /** Stops what the workload started; runs before the session stops. */
  def close(): Unit
  /** Per-layer metrics of a traced run, from the trace and the files the
    * workload left; runs after the session stopped.
    */
  def layers(out: Outcome): Unit
}

/** What a workload runs with. `hardStopNs` caps a loop of a fixed batch
  * count, so a run on a slow host still ends well inside its time limit.
  */
final case class Ctx(spark: SparkSession, seed: Long, work: Path, trace: Trace, threads: Int,
                     hardStopNs: Long) {
  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p.getParent)
    p.toString
  }
}

/** Runs one workload and prints the result line.
  *
  * {{{
  * perfbench.Main --workload candle_read --seed 1 --seconds 10 --trace 0 --out DIR --work DIR
  * }}}
  */
object Main {

  val SetupReps = 3
  /** Process age after which no new timed batch starts. */
  val HardStopS = 110L

  val workloads: Map[String, Ctx => Workload] = Map(
    "candle_read" -> (c => new CandleRead(c)),
    "curation_stream" -> (c => new CurationStream(c)))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (opts.contains("warm")) { warm(Paths.get(opts("warm"))); return }
    val name = opts.getOrElse("workload", "")
    if (!workloads.contains(name)) {
      System.err.println(s"unknown workload '$name'; one of ${workloads.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val out = Paths.get(opts("out"))
    val work = Paths.get(opts("work"))
    Files.createDirectories(out)
    Files.createDirectories(work)
    System.exit(run(name, seed, seconds, traced, out, work))
  }

  def run(name: String, seed: Long, seconds: Double, traced: Boolean, out: Path, work: Path): Int = {
    val threads = math.min(4, Runtime.getRuntime.availableProcessors)
    val trace = new Trace(traced)
    val spark = session(threads, work)
    if (traced) {
      spark.sparkContext.addSparkListener(trace.jobListener)
      spark.streams.addListener(trace.streamListener)
    }
    val uptimeMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime
    val sessionS = uptimeMs / 1000.0
    val ctx = Ctx(spark, seed, work, trace, threads, System.nanoTime() + (HardStopS * 1000L - uptimeMs) * 1000000L)
    val w = workloads(name)(ctx)
    val o = new Outcome
    val setups = ArrayBuffer[Double]()
    var aborted = false
    try {
      (0 until SetupReps).foreach { r =>
        val t0 = System.nanoTime()
        w.setup(r)
        setups += (System.nanoTime() - t0) / 1e9
        if (r < SetupReps - 1) w.discard()
      }
      w.warm()
      val gc0 = gcMs()
      val jit0 = jitMs()
      val cg0 = codegenCompiles()
      val t0 = System.nanoTime()
      o.loopStartUs = trace.nowUs
      w.run(o, seconds)
      o.loopEndUs = trace.nowUs
      o.loopS = (System.nanoTime() - t0) / 1e9
      o.extra("gc_ms") = gcMs() - gc0
      o.extra("jit_ms") = jitMs() - jit0
      o.extra("codegen_compiles") = codegenCompiles() - cg0
      w.finish(o)
    } catch {
      case t: Throwable =>
        aborted = true
        o.attempted += 1; o.failed += 1
        t.printStackTrace()
    } finally {
      try w.close() catch { case t: Throwable => t.printStackTrace() }
    }
    spark.stop() // drains the listener bus before the trace is read
    if (traced) {
      w.layers(o)
      TraceLayers.engine(o, trace)
      TraceLayers.names.foreach(n => o.layer.getOrElseUpdate(n, 0.0))
    }
    FileTree.deleteTree(work)

    val rssMb = peakRssMb()
    val e2e = LinkedHashMap[String, (Double, String)](
      "setup_s" -> (sessionS + medianOr0(setups), "s"),
      "op_p50_ms" -> (w.opMs(o), "ms"),
      "read_p50_ms" -> (w.readMs(o), "ms"),
      "peak_rss_mb" -> (rssMb, "MB"))
    // throughput spread most between runs (a 10 s closed loop of one
    // client); it stays in the artifact, not in the result line
    o.extra("items_per_s") = if (o.loopS > 0) o.items / o.loopS else 0.0
    val correct = o.mismatches.isEmpty && !aborted
    val metrics =
      if (traced) TraceLayers.names.map(k => k -> (o.layer(k), layerUnit(k))) else e2e.toSeq
    val artifact = Json.obj(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "threads" -> threads, "session_s" -> sessionS, "setup_reps_s" -> setups.toSeq,
      "loop_s" -> o.loopS,
      "attempted" -> o.attempted, "failed" -> o.failed,
      "failed_ratio" -> (if (o.attempted > 0) o.failed.toDouble / o.attempted else 0.0),
      "mismatches" -> o.mismatches.take(20).toSeq,
      "end_to_end" -> Json.obj(e2e.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) }.toSeq: _*),
      "timings" -> Json.obj((Seq("op_ms" -> o.opMs, "read_ms" -> o.readMs) ++ o.samples.toSeq)
        .map { case (k, xs) => k -> summary(xs.toSeq) }: _*),
      "extra" -> Json.obj(o.extra.toSeq: _*),
      "per_layer" -> Json.obj(o.layer.toSeq: _*))
    val tag = s"$name-s$seed-t${if (traced) 1 else 0}"
    Files.writeString(out.resolve(s"$tag.json"), Json.render(artifact) + "\n")
    if (traced) Files.writeString(out.resolve(s"$tag-spans.jsonl"),
      trace.allSpans.map(s => Json.render(Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs))).mkString("\n") + "\n")
    o.mismatches.take(3).foreach(m => println(s"mismatch: $m"))
    println(Json.render(Json.obj("correct" -> correct, "attempted" -> math.max(1, o.attempted),
      "failed" -> o.failed, "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj("value" -> v, "unit" -> u) }: _*))))
    if (correct && o.failed == 0 && o.opMs.nonEmpty) 0 else 1
  }

  /** The session every run uses: `local[threads]` with as many shuffle
    * partitions, scratch space inside the run's work directory, and the
    * streaming source poll interval fixed at Spark's 10 ms default.
    */
  def session(threads: Int, work: Path): SparkSession = {
    val spark = graft.GraftSession.builder(master = s"local[$threads]", appName = "perfbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.streaming.pollingDelay", "10ms")
      .getOrCreate()
    graft.GraftExtensions.register(spark)
    spark
  }

  /** A short pass over the calls the workloads make. The build runs it
    * once so the JVM can archive the classes it loads (class-data
    * sharing), which takes class loading out of every run's set-up.
    */
  def warm(work: Path): Unit = {
    val spark = session(2, work)
    import spark.implicits._
    val store = graft.store.CandleStore(spark, work.resolve("db/store").toString)
    // a store whose codes are all digits trips the pinned-schema guard
    // (ROADMAP Fix first #1); the workloads' stores mix markets
    val s = Gen.series.find(_.market == "UPBIT").get
    store.upsert(Seq((s.market, s.code, Gen.Length, new java.sql.Timestamp(0L), 1.0, 2.0, 0.5, 1.5, 3.0, 0L))
      .toDF(graft.model.Candle.schema.fieldNames.toIndexedSeq: _*))
    store.readPage(s.market, s.code, Gen.Length, 1970).collect()
    store.minMaxTs(s.market, s.code, Gen.Length, 1970).collect()
    graft.ops.TimeSeries.resampleCandles(store.rangeScan(s.market, s.code, Gen.Length,
      new java.sql.Timestamp(0L), new java.sql.Timestamp(86400000L)), "ts", 3600, graft.model.Candle.keyCols).collect()
    spark.conf.set("spark.sql.catalog.cc", classOf[graft.sources.CandleCatalog].getName)
    spark.conf.set("spark.sql.catalog.cc.base", work.toString)
    spark.sql(s"SELECT count(*) FROM cc.db.store WHERE code = '${s.code}'").collect()
    def ingest(name: String, schema: String, lines: Seq[String])(
        start: (org.apache.spark.sql.DataFrame, String, String) => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      val src = work.resolve(s"$name-src")
      Files.createDirectories(src)
      Files.writeString(src.resolve("a.json"), lines.mkString("", "\n", "\n"))
      start(spark.readStream.schema(schema).json(src.toString), work.resolve(s"$name-state").toString,
        work.resolve(s"$name-ck").toString).awaitTermination()
    }
    val docs = Seq.tabulate(4)(i => s"""{"doc_id":$i,"text":"a b c d e f ${i % 2}"}""")
    ingest("exact", "doc_id LONG, text STRING", docs)(graft.streaming.Ingest.startExactDedupIngest(_, _, _))
    ingest("neardup", "doc_id LONG, text STRING", docs)(graft.streaming.Ingest.startNearDupIngest(_, _, _))
    ingest("ivfpq", "vec_id LONG, embedding ARRAY<FLOAT>", Gen.embeddings(1, 300, 8).zipWithIndex.map {
      case (v, i) => s"""{"vec_id":$i,"embedding":[${v.mkString(",")}]}"""
    })(graft.streaming.Ingest.startIvfPqIndexIngest(_, _, _))
    spark.stop()
    FileTree.deleteTree(work)
  }

  private def medianOr0(xs: ArrayBuffer[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)

  /** n, median, the highest percentile with ten samples beyond it, and
    * the samples in the order taken.
    */
  def summary(xs: Seq[Double]): Json.Obj =
    if (xs.isEmpty) Json.obj("n" -> 0)
    else Json.obj(Seq("n" -> xs.size, "p50" -> Stats.median(xs)) ++
      Stats.tailPercentile(xs.size).filter(_ > 50).map(p => s"p$p".stripSuffix(".0") -> Stats.percentile(xs, p)) ++
      Seq("values" -> xs): _*)

  def layerUnit(k: String): String =
    if (k.endsWith("_ms")) "ms"
    else if (k.endsWith("_bytes")) "bytes"
    else if (k.contains("jobs") || k.contains("tasks") || k.endsWith("_dirs") || k.contains("_per_")) "count"
    else "ratio"

  def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum.toDouble
  }

  /** Time the JIT compilers spent, summed over their threads. */
  def jitMs(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  /** Compilations of Spark's generated code (whole-stage and expression). */
  def codegenCompiles(): Double =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble

  /** The JVM's own peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}

/** File-tree helpers the workloads use for space and state metrics. */
object FileTree {
  import scala.jdk.CollectionConverters._

  def files(root: String): Seq[(String, Long)] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(f => f.toString -> Files.size(f)).toSeq
      finally s.close()
    }
  }

  def bytes(root: String): Long = files(root).map(_._2).sum

  def dirsNamed(root: String, pred: String => Boolean): Int = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.count(d => Files.isDirectory(d) && pred(d.getFileName.toString))
      finally s.close()
    }
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f))
    finally s.close()
  }
}

/** A minimal JSON writer for the result line and the artifacts. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def render(v: Any): String = v match {
    case null => "null"
    case Obj(fs) => fs.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
