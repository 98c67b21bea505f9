package perfbench

import perfbench.Gen.Doc

/** Reference computations in plain Scala. None of them calls the program
  * under test; each returns `None` when the program's answer matches and
  * `Some(first difference)` when it does not.
  */
object Check {

  type Bar = (Double, Double, Double, Double, Double, Long)

  /** One candle row as the benchmark compares it: (ts seconds, values). */
  final case class Row(ts: Long, v: Bar)

  /** The expected rows of series `s` at timestamps `tss`. */
  def expectedRange(seed: Long, s: Int, tss: Iterator[Long]): Seq[Row] =
    tss.map(t => Row(t, Gen.bar(seed, s, t))).toSeq

  def sameRows(what: String, got: Seq[Row], want: Seq[Row]): Option[String] = {
    val g = got.sortBy(_.ts)
    if (g.map(_.ts).distinct.size != g.size)
      return Some(s"$what: duplicate timestamps in the answer")
    g.zipAll(want, null, null).zipWithIndex.collectFirst {
      case ((a, b), i) if a != b => s"$what: row $i differs: got $a, want $b"
    }
  }

  /** Resample fold (FIXTURES F5): open of the first bar, high max, low
    * min, close of the last bar, volume sum, per `width`-second bucket.
    */
  def resample(rows: Seq[Row], width: Long): Seq[(Long, Bar)] =
    rows.sortBy(_.ts).groupBy(r => Math.floorDiv(r.ts, width) * width).toSeq.sortBy(_._1)
      .map { case (b, rs) =>
        b -> ((rs.head.v._1, rs.map(_.v._2).max, rs.map(_.v._3).min,
          rs.last.v._4, rs.map(_.v._5).sum, 0L))
      }

  /** Per UTC day: (day start, bar count, max high, min low, volume sum). */
  def daily(rows: Seq[Row]): Seq[(Long, Long, Double, Double, Double)] =
    rows.groupBy(r => Math.floorDiv(r.ts, 86400L) * 86400L).toSeq.sortBy(_._1).map { case (d, rs) =>
      (d, rs.size.toLong, rs.map(_.v._2).max, rs.map(_.v._3).min, rs.map(_.v._5).sum)
    }

  def sameBuckets(what: String, got: Seq[(Long, Bar)], want: Seq[(Long, Bar)]): Option[String] =
    got.sortBy(_._1).zipAll(want, null, null).zipWithIndex.collectFirst {
      case ((a, b), i) if a != b => s"$what: bucket $i differs: got $a, want $b"
    }

  /** (count, first ts, last ts, max high, min low, volume sum) of rows. */
  def summary(rows: Seq[Row]): (Long, Long, Long, Double, Double, Double) =
    (rows.size.toLong, rows.map(_.ts).min, rows.map(_.ts).max,
      rows.map(_.v._2).max, rows.map(_.v._3).min, rows.map(_.v._5).sum)

  def same[T](what: String, got: T, want: T): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  // ------------------------------------------------------------ documents

  private def norm(text: String): String = text.trim.toLowerCase(java.util.Locale.ROOT)

  /** First-wins exact dedup: a document is a duplicate when its
    * normalised text was seen in an earlier batch or belongs to a
    * lower id of its own batch. Returns the duplicate ids per batch.
    */
  def exactDups(batches: Seq[Seq[Doc]]): Seq[Set[Long]] = {
    val seen = scala.collection.mutable.HashSet[String]()
    batches.map { b =>
      val winners = b.groupBy(d => norm(d.text)).map { case (k, ds) => k -> ds.map(_.id).min }
      val dups = b.filter(d => seen(norm(d.text)) || winners(norm(d.text)) != d.id).map(_.id).toSet
      seen ++= b.map(d => norm(d.text))
      dups
    }
  }

  /** Word 3-shingles of the lower-cased whitespace tokens. */
  def shingles(text: String): Set[String] = {
    val w = text.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
    if (w.length < 3) Set.empty else w.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0 else (a & b).size.toDouble / (a | b).size

  /** The shingle sets of every ingested document, with an inverted index
    * so a document's Jaccard is computed only against documents that
    * share at least one shingle with it (all others score 0).
    */
  final class Shingles {
    val docs = scala.collection.mutable.HashMap[Long, Set[String]]()
    private val postings = scala.collection.mutable.HashMap[String, List[Long]]()

    def add(d: Doc): Unit = {
      val sh = shingles(d.text)
      docs(d.id) = sh
      sh.foreach(x => postings(x) = d.id :: postings.getOrElse(x, Nil))
    }

    /** Exact Jaccard of `id` with every earlier document that shares a
      * shingle with it.
      */
    def earlier(id: Long): Seq[Double] = {
      val sh = docs(id)
      sh.iterator.flatMap(x => postings.getOrElse(x, Nil)).filter(_ < id).toSet.toSeq
        .map((o: Long) => jaccard(docs(o), sh))
    }
  }

  /** Every reported flag `(id, max_jaccard)` must name a document with an
    * earlier document at exact Jaccard ≥ `threshold`, and report one such
    * Jaccard to 4 decimals; every planted copy whose exact Jaccard with
    * its source is ≥ `safe` must be flagged.
    */
  def nearDupFlags(flags: Seq[(Long, Double)], index: Shingles,
                   planted: Seq[(Long, Long)], threshold: Double,
                   safe: Double): Option[String] = {
    val flagged = flags.map(_._1).toSet
    if (flagged.size != flags.size) return Some("near-dup: a document is flagged twice")
    flags.sortBy(_._1).iterator.map { case (id, mj) =>
      if (!index.docs.contains(id)) Some(s"near-dup: flagged id $id was never ingested")
      else {
        val js = index.earlier(id)
        if (!js.exists(_ >= threshold))
          Some(s"near-dup: id $id flagged but its best earlier Jaccard is ${js.maxOption.getOrElse(0.0)}")
        else if (!js.exists(j => j >= threshold && math.abs(j - mj) <= 5.1e-5))
          Some(s"near-dup: id $id reports max_jaccard $mj, which no earlier document has")
        else None
      }
    }.collectFirst { case Some(e) => e }.orElse {
      planted.sortBy(_._1).collectFirst {
        case (id, src) if jaccard(index.docs(src), index.docs(id)) >= safe && !flagged(id) =>
          s"near-dup: planted copy $id of $src (Jaccard ${jaccard(index.docs(src), index.docs(id))}) not flagged"
      }
    }
  }

  // ----------------------------------------------------------- embeddings

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      d += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
  }

  /** Scores of the exact top-`k` by brute force, best first. */
  def topK(q: Array[Float], corpus: Map[Long, Array[Float]], k: Int): Seq[(Long, Double)] =
    corpus.iterator.map { case (id, v) => id -> cosine(q, v) }.toSeq
      .sortBy(p => (-p._2, p._1)).take(k)

  /** Checks one query's answer `(neighbor, score)` against brute force
    * and returns its recall@k: a neighbor counts when its exact cosine
    * reaches the k-th best (ties within the answer's 4-decimal rounding).
    */
  def annAnswer(qid: Long, got: Seq[(Long, Double)], q: Array[Float],
                corpus: Map[Long, Array[Float]], k: Int): Either[String, Double] = {
    if (got.size != k) return Left(s"ivfpq: query $qid returned ${got.size} neighbours, want $k")
    if (got.map(_._1).distinct.size != k) return Left(s"ivfpq: query $qid repeats a neighbour")
    got.collectFirst {
      case (n, _) if !corpus.contains(n) => Left(s"ivfpq: query $qid returned unknown id $n")
      case (n, sc) if math.abs(cosine(q, corpus(n)) - sc) > 1e-4 =>
        Left(s"ivfpq: query $qid neighbour $n score $sc, exact cosine ${cosine(q, corpus(n))}")
    }.getOrElse {
      val kth = topK(q, corpus, k).last._2
      Right(got.count { case (n, _) => cosine(q, corpus(n)) >= kth - 5e-5 }.toDouble / k)
    }
  }
}
