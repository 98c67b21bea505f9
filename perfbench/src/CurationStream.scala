package perfbench

import org.apache.spark.sql.{Row => SRow}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.streaming.Ingest

/** curation_stream: LLM-data ingest through three long-running queries,
  * `startExactDedupIngest`, `startNearDupIngest` (MinHash) and
  * `startIvfPqIndexIngest`, all with default compaction settings.
  *
  * Batch `j` is [[PerBatch]] seeded documents, about 8% of them exact
  * copies and 8% word-level near copies of earlier documents, plus
  * [[VecPer]] 64-dim embeddings (the first batch holds [[VecFirst]] so the
  * PQ codebooks of 256 codes can train). The batch goes to one query at a
  * time; the batch time is the sum of the three drop-to-commit times.
  * After each batch the client checks the new dedup verdicts and near-dup
  * flags, then reads every flag so far through `Ingest.nearDupFlags` (the
  * read, whose cost grows with the history). A set-up starts the three
  * queries on empty state; [[WarmBatches]] untimed batches follow, then the
  * timed loop runs a fixed number of batches, so every run does the same
  * work on the same history whatever the program's speed. After it one
  * batch of top-10 queries against the index is checked by brute force;
  * its mean recall@10 must reach [[RecallFloor]].
  */
final class CurationStream(c: Ctx) extends Workload {
  import c.spark

  private val PerBatch = 250
  private val NBatches = 20
  private val VecFirst = 300
  private val VecPer = 90
  private val Dim = 64
  private val AnnQueries = 50
  /** Mean recall@10 below this fails the run. The index scored 0.942 to
    * 1.0 on the seeds tried (most of them 0.99 or more), so the floor
    * leaves room for a hard seed and catches only a gross loss of quality.
    * A mild one passes: trained with 1 k-means iteration instead of the
    * default 5, the index scored 0.94 to 0.996 on the seeds and query
    * draws tried.
    */
  private val RecallFloor = 0.85
  /** Batches fed before the timed loop: the first trains the PQ books and
    * runs every path cold, the second is the first with history.
    */
  private val WarmBatches = 2
  /** A run of `--seconds` S times round(3 S / 4) batches, at least 2, and
    * reads the flags [[ReadsPerBatch]] times after each. The count comes
    * from S alone, not from how fast batches go.
    */
  private def timedBatches(seconds: Double): Int = math.max(2, math.round(seconds * 3 / 4).toInt)
  private val ReadsPerBatch = 4
  private val Threshold = 0.5
  /** Planted copies at or above this exact Jaccard must be flagged: at 0.9
    * the 8-band MinHash misses such a pair with probability below 1e-3.
    */
  private val Safe = 0.9

  private val (docs, plants) = Gen.docBatches(c.seed, NBatches, PerBatch)
  private val wantDups = Check.exactDups(docs)
  private val vectors = Gen.embeddings(c.seed, VecFirst + VecPer * (NBatches - 1), Dim)
  private def vecRange(j: Int): Range =
    if (j == 0) 0 until VecFirst else (VecFirst + (j - 1) * VecPer) until (VecFirst + j * VecPer)

  private val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  private final class Q(val name: String, val q: StreamingQuery, val src: String, val state: String)
  private var qs: Seq[Q] = Nil
  private var base = ""
  private var next = 0
  private var index = new Check.Shingles

  /** Starts the three queries on empty state and waits until each has
    * run its first trigger and found no data.
    */
  def setup(rep: Int): Unit = {
    base = c.dir(s"curate-$rep")
    next = 0
    index = new Check.Shingles
    flagged = Set.empty
    def start(name: String, schema: StructType)(f: (org.apache.spark.sql.DataFrame, String, String) => StreamingQuery): Q = {
      val src = s"$base/$name/src"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
      val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
      new Q(name, f(stream, s"$base/$name/state", s"$base/$name/checkpoint"), src, s"$base/$name/state")
    }
    val trigger = Trigger.ProcessingTime(0)
    qs = Seq(
      start("exact", docSchema)((s, st, ck) => Ingest.startExactDedupIngest(s, st, ck, trigger = trigger)),
      start("neardup", docSchema)((s, st, ck) => Ingest.startNearDupIngest(s, st, ck, trigger = trigger)),
      start("ivfpq", vecSchema)((s, st, ck) => Ingest.startIvfPqIndexIngest(s, st, ck, trigger = trigger)))
    qs.foreach(q => Client.awaitIdle(q.q))
  }

  override def discard(): Unit = qs.foreach(_.q.stop())

  def warm(): Unit = {
    val o = new Outcome
    (0 until WarmBatches).foreach { _ =>
      feed(o)
      flagsRead(o)
    }
    if (o.failed > 0) sys.error(s"warm-up batch failed: ${o.mismatches.mkString("; ")}")
  }

  private def docLine(d: Gen.Doc) = s"""{"doc_id":${d.id},"text":${Json.quote(d.text)}}"""
  private def vecLine(i: Int) = s"""{"vec_id":$i,"embedding":[${vectors(i).mkString(",")}]}"""

  /** Feeds batch `next` to each query in turn and checks the outputs. */
  private def feed(o: Outcome): Unit = {
    val j = next
    o.attempt(s"curation batch $j") {
      var total = 0.0
      qs.foreach { q =>
        val lines = if (q.name == "ivfpq") vecRange(j).map(vecLine) else docs(j).map(docLine)
        val (_, ms) = c.trace.op(s"curate.${q.name}") {
          Client.drop(s"$base/staging", q.src, f"part-$j%05d.json", lines)
          Client.awaitBatch(q.q, j)
        }
        o.sample(s"${q.name}_ms", ms)
        total += ms
      }
      next += 1
      docs(j).foreach(index.add)
      o.opMs += total
      o.items += PerBatch
      checkDedup(j).orElse(checkNearDup(j))
    }
  }

  private def state(name: String) = qs.find(_.name == name).get.state

  /** Ids flagged near-duplicate so far, as checked batch by batch. */
  private var flagged = Set.empty[Long]

  /** Reads all near-dup flags so far; they must be the union of the
    * per-batch flags already checked.
    */
  private def flagsRead(o: Outcome): Unit = o.attempt("near-dup flags read") {
    val (got, ms) = c.trace.op("read.flags") {
      Client.collect(c, o, c.trace.span("streaming.nearDupFlags")(Ingest.nearDupFlags(spark, state("neardup"))))
    }
    o.readMs += ms
    val ids = got.map(_.getLong(0))
    if (ids.length != ids.distinct.length) Some("near-dup flags read: an id appears twice")
    else Check.same("near-dup flags read: flagged ids", ids.toSet, flagged)
  }

  private def checkDedup(j: Int): Option[String] = {
    val got = spark.read.schema("doc_id LONG")
      .parquet(s"${state("exact")}/dups/batch_$j").collect().map(_.getLong(0)).toSet
    if (got == wantDups(j)) None
    else Some(s"exact dedup batch $j: extra ${(got -- wantDups(j)).toSeq.sorted.take(5)}, " +
      s"missing ${(wantDups(j) -- got).toSeq.sorted.take(5)}")
  }

  private def checkNearDup(j: Int): Option[String] = {
    val flags = spark.read.schema("doc_id LONG, n_pairs LONG, max_jaccard DOUBLE")
      .parquet(s"${state("neardup")}/flags/batch_$j").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toSeq
    val ids = docs(j).map(_.id).toSet
    flagged ++= flags.map(_._1)
    if (!flags.forall(f => ids(f._1))) Some(s"near-dup batch $j: flags ids outside the batch")
    else Check.nearDupFlags(flags, index, plants.filter(p => ids(p.id)).map(p => p.id -> p.of), Threshold, Safe)
  }

  /** One top-10 query batch against the index, checked against brute
    * force over every vector indexed so far. A query is an indexed vector
    * plus noise as wide as the spread of its cluster.
    */
  private def annQuery(o: Outcome, j: Int): Unit = {
    val rnd = new scala.util.Random(Gen.hash(c.seed, 505, j))
    val indexed = (0 until vecRange(j).end).map(i => i.toLong -> vectors(i)).toMap
    val qv = Seq.tabulate(AnnQueries) { k =>
      val v = vectors(rnd.nextInt(vecRange(j).end))
      (10000000L + k) -> v.map(x => (x + 0.6 * rnd.nextGaussian()).toFloat)
    }
    def frame(rows: Seq[(Long, Array[Float])]) = spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (i, v) => SRow(i, v.toSeq) }: _*), vecSchema)
    val corpus = frame(indexed.toSeq)
    val queries = frame(qv)
    o.attempt(s"ivfpq query after batch $j") {
      val (got, ms) = c.trace.op("ivfpq.topk") {
        Ingest.ivfPqIndexTopK(spark, state("ivfpq"), queries, corpus, "vec_id", "embedding", k = 10).collect()
      }
      o.sample("ivfpq_topk_ms", ms)
      val answers = got.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"), r.getAs[Double]("score")))
        .groupBy(_._1)
      val checked = qv.map { case (qid, v) =>
        Check.annAnswer(qid, answers.getOrElse(qid, Array.empty).map(a => a._2 -> a._3).toSeq, v, indexed, 10)
      }
      checked.collectFirst { case Left(e) => e }.orElse {
        val recall = checked.collect { case Right(r) => r }.sum / checked.size
        o.extra("ivfpq_recall_at_10") = recall
        if (recall >= RecallFloor) None
        else Some(s"ivfpq: mean recall@10 $recall over ${checked.size} queries is below $RecallFloor")
      }
    }
  }

  /** Runs the fixed batch count; stops early only when the process nears
    * its time limit ([[Ctx.hardStopNs]]), which the artifact then shows as
    * fewer op samples.
    */
  def run(o: Outcome, seconds: Double): Unit = {
    val end = math.min(NBatches, next + timedBatches(seconds))
    while (next < end && System.nanoTime() < c.hardStopNs) {
      feed(o)
      (0 until ReadsPerBatch).foreach(_ => flagsRead(o))
    }
  }

  def opMs(o: Outcome): Double = TraceLayers.p50(o.opMs.toSeq)

  def readMs(o: Outcome): Double = TraceLayers.p50(o.readMs.toSeq)

  def finish(o: Outcome): Unit = annQuery(o, next - 1)

  private var runIds = Map.empty[String, String]

  def close(): Unit = {
    runIds = qs.map(q => q.name -> q.q.runId.toString).toMap
    qs.foreach(_.q.stop())
  }

  def layers(o: Outcome): Unit = qs.foreach { q =>
    TraceLayers.streaming(o, c.trace, q.name, runIds(q.name), FileTree.bytes(q.state),
      FileTree.dirsNamed(q.state, _.startsWith("batch_")))
  }
}
