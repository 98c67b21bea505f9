package graft

import org.apache.spark.sql.functions._

import graft.llm.{Classifier, Corpus, Curation, Dedup, Multimodal, Ranking, Sampling, Similarity, TextStats}

/** Round-4 curation/retrieval operators: BM25, duplicated spans,
  * decontamination, per-source caps, SemDeDup, PQ-ADC, WAV spectra.
  */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side mirror of TextStats.portableHash (md5, first 15 hex). */
  private def pHash(s: String): Long = java.lang.Long.parseLong(
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      .substring(0, 15), 16)

  implicit val sp: org.apache.spark.sql.SparkSession = spark

  // ---------------------------------------------------------------- //
  // BM25                                                             //
  // ---------------------------------------------------------------- //

  test("bm25 matches a hand-computed fixture") {
    // 4 docs, term "cat": df=2, N=4, dl = 3,3,2,4; avgdl = 3.0
    val docs = Seq(
      (1L, "cat dog bird"),      // tf(cat)=1, dl=3
      (2L, "cat cat dog fish"),  // tf(cat)=2, dl=4
      (3L, "dog fish"),
      (4L, "bird bird bird")
    ).toDF("doc_id", "text")
    val out = Ranking.bm25(docs, "doc_id", "text", Seq("cat"), k1 = 1.2, b = 0.75)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.keySet == Set(1L, 2L))
    val idf = math.log(1.0 + (4.0 - 2.0 + 0.5) / (2.0 + 0.5))
    def score(tf: Double, dl: Double): Double =
      idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / 3.0))
    assert(math.abs(out(1L) - score(1, 3)) < 1e-4)
    assert(math.abs(out(2L) - score(2, 4)) < 1e-4)
    // more occurrences => higher score at comparable length
    assert(out(2L) > out(1L))
  }

  test("topTerms: distinctive words outrank ubiquitous ones, k bounds rows") {
    val docs = Seq(
      (1L, "common common zebra zebra zebra"),
      (2L, "common common common aardvark"),
      (3L, "common words only here")
    ).toDF("doc_id", "text")
    val out = Ranking.topTerms(docs, "doc_id", "text", k = 2)
    val rows = out.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    // "common" appears in every doc -> idf ln(4/4)=0 -> score 0;
    // doc-specific words win rank 1
    assert(rows.contains((1L, "zebra", 1)))
    assert(rows.contains((2L, "aardvark", 1)))
    assert(out.groupBy("doc_id").count().agg(max("count")).as[Long].head() <= 2)
    // rank-1 tfidf strictly positive for the distinctive words
    val z = out.where($"doc_id" === 1L && $"rank" === 1).select("tfidf").as[Double].head()
    assert(z > 0.0)
  }

  test("mixture: integer epochs replicate, zero weight drops, fraction bounded") {
    val docs = (1L to 40L).map(i => (i, if (i <= 10) "books"
      else if (i <= 20) "web" else if (i <= 30) "junk" else "misc"))
      .toDF("doc_id", "source")
    val out = Sampling.mixture(docs, "doc_id", "source",
      Map("books" -> 2.5, "web" -> 0.4, "junk" -> 0.0)).cache()
    val byKey = out.groupBy("source").count().as[(String, Long)].collect().toMap
    // w=2.5: every doc gets epochs {0,1}, a hash-chosen subset gets 2
    assert(byKey("books") >= 20 && byKey("books") <= 30)
    assert(out.where($"source" === "books" && $"epoch" === 1).count() === 10)
    // w=0 drops the stratum entirely; absent key defaults to one epoch
    assert(!byKey.contains("junk"))
    assert(byKey("misc") === 10)
    assert(out.where($"source" === "misc" && $"epoch" =!= 0).count() === 0)
    // w=0.4 keeps a strict subset, epoch 0 only
    assert(byKey.getOrElse("web", 0L) < 10)
    // determinism: pure function of (id, salt)
    val again = Sampling.mixture(docs, "doc_id", "source",
      Map("books" -> 2.5, "web" -> 0.4, "junk" -> 0.0))
    assert(out.unpersist().exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
  }

  test("tokenBudget: running total respects per-key budget, monotone in budget") {
    val docs = (1L to 30L).map(i => (i, if (i % 2 == 0) "a" else "b", 10))
      .toDF("doc_id", "source", "n_tokens")
    val out = Sampling.tokenBudget(docs, "doc_id", "source", "n_tokens",
      Map("a" -> 40L), defaultBudget = 70L)
    val kept = out.select("source", "cum_tokens").as[(String, Long)].collect()
    assert(kept.filter(_._1 == "a").map(_._2).max <= 40L)
    assert(kept.count(_._1 == "a") === 4)  // 4 docs of 10 tokens fit in 40
    assert(kept.count(_._1 == "b") === 7)
    // shrinking a budget only removes rows, never reorders the kept set
    val smaller = Sampling.tokenBudget(docs, "doc_id", "source", "n_tokens",
      Map("a" -> 20L), defaultBudget = 70L)
    assert(smaller.exceptAll(out).isEmpty)
  }

  test("bm25 of a universal term is near zero but positive (Lucene idf)") {
    val docs = Seq((1L, "x a"), (2L, "x b"), (3L, "x c")).toDF("doc_id", "text")
    val out = Ranking.bm25(docs, "doc_id", "text", Seq("x"))
      .collect().map(_.getDouble(1))
    assert(out.length == 3 && out.forall(s => s > 0 && s < 0.5))
  }

  // ---------------------------------------------------------------- //
  // Duplicated spans                                                 //
  // ---------------------------------------------------------------- //

  test("duplicatedSpans is shift-invariant: offset copies still share spans") {
    val boiler = "this license header is identical across both documents " +
      "and it keeps going for quite a few more words here"
    // doc 2 carries the SAME run at a shifted offset (extra prefix);
    // doc 3 is shorter than the window -> contributes nothing
    val docs = Seq(
      (1L, boiler + " unique tail one"),
      (2L, "x " + boiler + " other ending entirely"),
      (3L, "short doc")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(docs, "doc_id", "text", widthWords = 8)
    val rows = out.collect()
    assert(rows.nonEmpty, "shifted duplicate runs must still share word windows")
    assert(rows.forall(_.getLong(1) == 2L)) // n_docs == 2 for every shared span
    // every full 8-word window of the shared run is reported
    val runWindows = boiler.split("\\s+").length - 7
    assert(rows.length == runWindows, s"${rows.length} != $runWindows")
  }

  test("duplicatedSpans: no cross-doc duplicates -> empty") {
    val docs = Seq(
      (1L, ("aa " * 20).trim), (2L, ("bb " * 20).trim)
    ).toDF("doc_id", "text")
    // within-doc repeats collapse to one hash but n_docs==1 -> filtered
    assert(Dedup.duplicatedSpans(docs, "doc_id", "text").count() == 0)
  }

  test("ngramNovelty: copies share grams, unique docs score 1.0, " +
      "short docs absent, fractions exact") {
    val shared = "one two three four five six seven eight nine"   // 9 tokens
    val docs = Seq(
      (1L, shared + " alpha"),   // 10 tokens -> 6 windows
      (2L, shared + " beta"),    // shares the 5 windows inside `shared`
      (3L, "wholly distinct words appearing nowhere else in corpus"), // 8 -> 4 windows
      (4L, "too short")          // < 5 tokens -> no grams -> absent
    ).toDF("doc_id", "text")
    val out = Dedup.ngramNovelty(docs, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    // 9-token shared run -> 5 shared windows; each doc's tail adds 1
    // novel window (…nine alpha / …nine beta)
    assert(out(1L) == ((6L, 1L, 0.1667)))
    assert(out(2L) == ((6L, 1L, 0.1667)))
    assert(out(3L) == ((4L, 4L, 1.0)))
    // exact duplicates: BOTH copies' grams are shared -> novelty 0 for
    // the pair, including the min-id owner (df==2 kills min-attribution)
    val dup = Seq((1L, shared), (2L, shared)).toDF("doc_id", "text")
    val d = Dedup.ngramNovelty(dup, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(d == Map(1L -> 0.0, 2L -> 0.0))
  }

  // ---------------------------------------------------------------- //
  // Decontamination                                                  //
  // ---------------------------------------------------------------- //

  test("decontaminate flags only docs sharing an n-gram with the benchmark") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix text the quick brown fox jumps over suffix"), // shares 5-grams
      (2L, "completely unrelated content with no overlap at all"),
      (3L, "the quick brown fox leaps differently here")          // only 4-gram overlap
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminate(corpus, bench, "doc_id", "text", shingleN = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 shares "the quick brown fox jumps" and "quick brown fox jumps over"
    assert(out == Map(1L -> 2L))
  }

  test("removeDuplicatedSpans cuts cross-doc spans, keeps intra-doc repeats and clean docs") {
    val boiler = "subscribe to our newsletter for updates and exclusive offers today"
    val docs = Seq(
      (1L, s"alpha unique opening words here $boiler"),
      (2L, s"$boiler beta closing remark entirely different"),
      (3L, "gamma document with nothing shared across the corpus at all"),
      // the SAME 8-gram repeated twice inside ONE doc only: n_docs = 1,
      // below minDocs — intra-doc repetition alone must survive
      (4L, "delta repeat one two three four five six seven eight " +
        "repeat one two three four five six seven eight tail")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(docs, "doc_id", "text", widthWords = 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    // the 10-word boilerplate is 3 overlapping 8-windows shared by docs
    // 1 and 2 → all 10 boilerplate tokens are covered in both
    assert(out(1L) == (("alpha unique opening words here", 10)))
    assert(out(2L) == (("beta closing remark entirely different", 10)))
    assert(out(3L) == (("gamma document with nothing shared across the corpus at all", 0)))
    assert(out(4L)._2 == 0, "intra-doc-only repetition must not be removed")
    // every doc present exactly once
    assert(out.size == 4)
  }

  test("removeDuplicatedSpans: leading-whitespace and null texts keep the " +
    "oracle's join semantics (kept empty token claims its separator; null → \"\")") {
    val boiler = "one two three four five six seven eight"
    val docs = Seq(
      (1L, s" x $boiler"), // leading whitespace → tokens ["", "x", one..eight]
      (2L, boiler),        // makes the 8-window corpus-duplicated
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(docs, "doc_id", "text", widthWords = 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    // doc 1 keeps ["", "x"] — mkString(" ") semantics preserve the
    // leading space exactly as DuckDB's array_to_string does
    assert(out(1L) == ((" x", 8)), s"got ${out(1L)}")
    assert(out(2L) == (("", 8)))
    assert(out(3L) == (("", 0)), "null text must yield the oracle's ''")
  }

  test("bloomDecontaminate == exact decontaminate, even at an FP-heavy fpp") {
    // a corpus big enough that a sloppy bloom WILL produce false
    // positives, so the exact-verify stage is actually exercised
    val bench = (0L until 20L)
      .map(i => (1000L + i, s"benchmark heldout passage number $i with shared token stream $i"))
      .toDF("doc_id", "text")
    val corpus = (0L until 300L).map { i =>
      val text =
        if (i % 7 == 0) s"benchmark heldout passage number ${i % 20} with shared token stream ${i % 20}"
        else s"organic document $i carrying its own distinct vocabulary line ${i * 31} and filler ${i * 17}"
      (i, text)
    }.toDF("doc_id", "text")
    val exact = Dedup.decontaminate(corpus, bench, "doc_id", "text", shingleN = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaBloom = Dedup.bloomDecontaminate(corpus, bench, "doc_id", "text",
        shingleN = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaBloom == exact && exact.nonEmpty)
    // fpp 0.5: roughly every other clean gram becomes a bloom
    // candidate — the verify must still kill every false positive
    val sloppy = Dedup.bloomDecontaminate(corpus, bench, "doc_id", "text",
        shingleN = 5, fpp = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sloppy == exact,
      "false positives leaked past the exact verification stage")
  }

  // ---------------------------------------------------------------- //
  // Per-key cap                                                      //
  // ---------------------------------------------------------------- //

  test("keyedPrefixSum == window cumulative sum, including a dominant key") {
    import org.apache.spark.sql.expressions.Window
    // 90% of rows in ONE key — the skew shape the distributed prefix
    // sum exists for — plus small keys and a key spanning partitions
    val rows = (0L until 2000L).map { i =>
      val k = if (i % 10 < 9) "hot" else s"cold${i % 3}"
      (i, k, (i % 7 + 1).toInt)
    }
    val df = rows.toDF("id", "key", "v").repartition(13) // scrambled input
    val viaPrefix = Sampling.keyedPrefixSum(
        df.withColumn("_h", Sampling.unitHash(col("id"), "t")),
        "key", Seq("_h", "id"), "v", "cum")
      .select("id", "cum")
    val w = Window.partitionBy(col("key"))
      .orderBy(Sampling.unitHash(col("id"), "t"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val viaWindow = df.withColumn("cum", sum(col("v").cast("long")).over(w))
      .select("id", "cum")
    assert(viaPrefix.as[(Long, Long)].collect().toMap ==
      viaWindow.as[(Long, Long)].collect().toMap)
    // structural scale property: no Window node anywhere — the per-key
    // single-reducer sort is gone from the plan entirely
    val plan = viaPrefix.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"prefix sum must not plan a window:\n$plan")
  }

  test("tokenBudget/capPerKey: distributed prefix-sum path == window path") {
    val rows = (0L until 600L).map(i => (i, s"src${i % 3}", (i % 5 + 1).toInt))
    val df = rows.toDF("id", "src", "n").repartition(13) // scrambled layout
    val bN = Sampling.tokenBudget(df, "id", "src", "n", Map("src0" -> 50L), 80L)
      .select("id", "cum_tokens").as[(Long, Long)].collect().toMap
    val bW = Sampling.tokenBudget(df, "id", "src", "n", Map("src0" -> 50L), 80L,
        distributed = true)
      .select("id", "cum_tokens").as[(Long, Long)].collect().toMap
    assert(bN == bW)
    val cN = Sampling.capPerKey(df, "id", "src", 25).select("id")
      .as[Long].collect().toSet
    val cW = Sampling.capPerKey(df, "id", "src", 25, distributed = true)
      .select("id").as[Long].collect().toSet
    assert(cN == cW && cN.nonEmpty)
  }

  test("keyedPrefixSum reliable-checkpoint path: identical sums; cardinality guard documented") {
    val rows = (0L until 500L).map(i => (i, s"src${i % 4}", (i % 5 + 1).toInt))
    val df = rows.toDF("id", "src", "n").repartition(11)
    spark.sparkContext.setCheckpointDir(tmpDir("kps-reliable-ckpt"))
    val viaLocal = Sampling.capPerKey(df, "id", "src", 30, distributed = true)
      .select("id").as[Long].collect().toSet
    val viaReliable = Sampling.capPerKey(df, "id", "src", 30,
        distributed = true, reliableCheckpoint = true)
      .select("id").as[Long].collect().toSet
    assert(viaLocal == viaReliable && viaLocal.nonEmpty)
  }

  test("capPerKey keeps at most N per key, deterministically, append-stably") {
    val df = (0L until 100L).map(i => (i, s"src${i % 4}")).toDF("id", "src")
    val kept = Sampling.capPerKey(df, "id", "src", maxPerKey = 10)
    val bySrc = kept.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc.values.forall(_ == 10) && bySrc.size == 4)
    // deterministic: same input -> same kept set
    val again = Sampling.capPerKey(df, "id", "src", maxPerKey = 10)
    assert(kept.select("id").except(again.select("id")).count() == 0)
    // a larger cap strictly contains the smaller cap's kept set
    val wider = Sampling.capPerKey(df, "id", "src", maxPerKey = 20)
    assert(kept.select("id").except(wider.select("id")).count() == 0)
  }

  test("weightedSample: exact top-k race, weight bias, layout-independent, " +
      "bad weights excluded, bounded-heap plan") {
    val weights = (0L until 300L).map(i =>
      i -> (if (i == 7L) 1000000L else 1L + i % 3)).toMap
    val df = weights.toSeq.toDF("id", "w")
    val got = Sampling.weightedSample(df, "id", "w", k = 20)
      .select("id").as[Long].collect().toSet
    assert(got.size == 20)
    // driver-side replay of the integer race: selection must be EXACT
    val expect = weights.toSeq
      .map { case (i, w) =>
        ((pHash(s"$i|wsample") % 1000000000L).toDouble / w, i) }
      .sorted.take(20).map(_._2).toSet
    assert(got == expect)
    // the overwhelming weight is drawn (priority <= 1 vs ~1e9-scale)
    assert(got.contains(7L))
    // a zero race priority is valid; a negative one is a bug
    assert(Sampling.weightedSample(df, "id", "w", k = 20)
      .where($"priority" < 0).count() == 0)
    // layout-independent
    val again = Sampling.weightedSample(df.repartition(13), "id", "w", k = 20)
      .select("id").as[Long].collect().toSet
    assert(again == got)
    // zero/negative weights can never be selected
    val bad = df.withColumn("w",
      when($"id" < 290L, $"w").otherwise(lit(-1L)))
    val sel = Sampling.weightedSample(bad, "id", "w", k = 300)
      .select("id").as[Long].collect()
    assert(sel.length == 290 && sel.forall(_ < 290L))
    // scale shape: bounded per-partition heaps, not a global sort
    val plan = Sampling.weightedSample(df, "id", "w", k = 20)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("sourceDrift: matched sources agree near 0, divergent source high, " +
      "bounded by ln 2, layout-independent") {
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon")
    val rows =
      (0 until 50).map(i => ("srcA", s"${words(i % 5)} ${words((i + 1) % 5)}")) ++
      (0 until 50).map(i => ("srcB", s"${words(i % 5)} ${words((i + 1) % 5)}")) ++
      // small divergent tranche: the corpus mix stays ≈ the matched
      // sources' distribution, so THEIR drift reads near 0 while the
      // disjoint-vocab source reads high
      (0 until 10).map(_ => ("srcC", "zeta eta theta"))
    val df = rows.toDF("source", "text")
    val out = Corpus.sourceDrift(df, "text", "source", nBuckets = 64)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val js = out.map(r => r._1 -> r._3).toMap
    val n = out.map(r => r._1 -> r._2).toMap
    assert(out.length == 3, "one row per source")
    assert(n("srcA") == 100L && n("srcB") == 100L && n("srcC") == 30L)
    assert(out.forall(r => r._3 >= 0.0 && r._3 <= math.log(2.0) + 1e-3))
    // identical distributions -> identical divergence (round-4 outputs)
    assert(math.abs(js("srcA") - js("srcB")) <= 2e-4)
    // the disjoint-vocab source reads as drifted
    assert(js("srcC") > js("srcA") + 0.1)
    // layout-independent
    val again = Corpus.sourceDrift(df.repartition(11), "text", "source",
        nBuckets = 64)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(out.forall(r => again(r._1) == r._3))
  }

  test("Corpus ops reliable-checkpoint path: identical output, loud without dir") {
    val df = (0L until 60L).map(i =>
      (i, s"src${i % 3}", s"w${i % 7} w${(i + 1) % 7} w${(i + 2) % 7} tail$i"))
      .toDF("doc_id", "source", "text")
    // loud when no checkpoint dir is configured
    val hadDir = spark.sparkContext.getCheckpointDir
    assert(hadDir.isEmpty || true) // suite may have set one earlier; handle both
    if (hadDir.isEmpty)
      intercept[IllegalArgumentException] {
        Corpus.sourceDrift(df, "text", "source", reliableCheckpoint = true)
      }
    val dirPath = java.nio.file.Files.createTempDirectory("graft-ckpt")
    // the session's checkpoint dir can't be un-set, so deleting it here
    // would leave later reliable-checkpoint tests pointing at a dead
    // path — defer cleanup to JVM exit (same pattern as the warehouse)
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => graft.GraftSession.deleteRecursively(dirPath)))
    spark.sparkContext.setCheckpointDir(dirPath.toString)
    val local = Corpus.sourceDrift(df, "text", "source", nBuckets = 64).collect()
    val rel = Corpus.sourceDrift(df, "text", "source", nBuckets = 64,
      reliableCheckpoint = true).collect()
    assert(local.toSet == rel.toSet)
    val lj = Corpus.sourceJaccard(df, "text", "source").collect()
    val rj = Corpus.sourceJaccard(df, "text", "source",
      reliableCheckpoint = true).collect()
    assert(lj.toSet == rj.toSet)
  }

  test("sourceJaccard: identical sets 1.0, disjoint pairs present at 0, " +
      "exact partial overlap, all pairs reported") {
    val df = Seq(
      ("srcA", "a b c d"),     // grams {a b c, b c d}
      ("srcB", "a b c d"),     // identical set -> J = 1
      ("srcC", "a b c x y z"), // grams {a b c, b c x, c x y, x y z}
      ("srcD", "p q r s")      // disjoint
    ).toDF("source", "text")
    val out = Corpus.sourceJaccard(df, "text", "source", shingleN = 3)
    val rows = out.collect().map(r => ((r.getString(0), r.getString(1)),
      (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(rows.size == 6) // 4C2 unordered pairs, zero-overlap included
    assert(rows(("srcA", "srcB")) == ((2L, 2L, 2L, 1.0)))
    assert(rows(("srcA", "srcC")) == ((2L, 4L, 1L, 0.2))) // 1 / (2+4-1)
    assert(rows(("srcA", "srcD")) == ((2L, 2L, 0L, 0.0)))
    assert(rows(("srcC", "srcD")) == ((4L, 2L, 0L, 0.0)))
    // layout-independent
    val again = Corpus.sourceJaccard(df.repartition(7), "text", "source",
        shingleN = 3)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(5))).toMap
    assert(rows.forall { case (k, v) => again(k) == v._4 })
  }

  test("sourceJaccardSketch: exact below k, within KMV error of the exact " +
      "operator above k, gramless sources pair at 0, layout-independent") {
    // small-union regime: every pair's union fits in k -> the sketch
    // IS the union and the estimate equals the exact jaccard
    val small = Seq(
      ("srcA", "a b c d"), ("srcB", "a b c d"),
      ("srcC", "a b c x y z"), ("srcD", "p q r s"),
      ("srcE", "x")) // gramless: < 3 tokens
      .toDF("source", "text")
    val sk = Corpus.sourceJaccardSketch(small, "text", "source",
        shingleN = 3, k = 16)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(4))).toMap
    val exact = Corpus.sourceJaccard(small, "text", "source", shingleN = 3)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(5))).toMap
    assert(sk.size == 10 && exact.size == 10) // 5C2, gramless included
    assert(sk == exact, s"below-k sketch must be exact: $sk vs $exact")
    assert(sk(("srcA", "srcE")) == 0.0)
    // large-union regime: planted overlap ~1/3 across 2000-gram
    // sources; k = 256 gives stderr ~ sqrt(J(1-J)/k) ~ 0.03 — gate at
    // 5 sigma. Distinct single-token "words" make gram counts exact.
    val big = (0 until 3000).map { i =>
      val src = if (i % 3 == 0) "common" else if (i % 3 == 1) "only1" else "only2"
      val words = (0 until 6).map(j => s"t${i}_$j").mkString(" ")
      (src, words)
    }
    val bigDf = (big.collect { case ("common", w) => ("s1", w) } ++
      big.collect { case ("common", w) => ("s2", w) } ++
      big.collect { case ("only1", w) => ("s1", w) } ++
      big.collect { case ("only2", w) => ("s2", w) }).toDF("source", "text")
    val est = Corpus.sourceJaccardSketch(bigDf, "text", "source",
        shingleN = 3, k = 256)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(4))).toMap
    val ex = Corpus.sourceJaccard(bigDf, "text", "source", shingleN = 3)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(5))).toMap
    val (je, jx) = (est(("s1", "s2")), ex(("s1", "s2")))
    assert(math.abs(je - jx) < 0.15,
      f"sketch J=$je%.4f vs exact J=$jx%.4f drifted beyond the KMV bound")
    // deterministic across layouts (pure function of the hash)
    val again = Corpus.sourceJaccardSketch(bigDf.repartition(13), "text",
        "source", shingleN = 3, k = 256)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(4))).toMap
    assert(again == est)
  }

  test("shardByTokens: every full shard lands within maxDoc of target; " +
      "layout-independent; shards contiguous in hash order") {
    val rnd = new scala.util.Random(5)
    val docs = (0L until 400L).map(i => (i, 10 + rnd.nextInt(90)))
      .toDF("doc_id", "n_tokens")
    val target = 500L
    val out = graft.llm.Sampling.shardByTokens(docs, "doc_id", "n_tokens", target)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 400)
    val maxDoc = out.map(_._2).max
    val byShard = out.groupBy(_._4)
    val lastShard = byShard.keys.max
    byShard.foreach { case (s, rows) =>
      val tokens = rows.map(_._2.toLong).sum
      // a straddler can both extend a shard past target and eat into
      // the NEXT shard's range, so full shards land within one max-doc
      // of the target on either side
      if (s != lastShard)
        assert(tokens > target - maxDoc && tokens < target + maxDoc,
          s"shard $s holds $tokens tokens (target $target, maxDoc $maxDoc)")
      else assert(tokens < target + maxDoc, s"last shard overfull: $tokens")
    }
    // shards are contiguous runs of the cum order
    val ordered = out.sortBy(_._3)
    assert(ordered.map(_._4).toSeq == ordered.map(_._4).toSeq.sorted)
    // deterministic across layouts
    val again = graft.llm.Sampling.shardByTokens(
        docs.repartition(11), "doc_id", "n_tokens", target)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(again == out.map(r => (r._1, r._4)).toMap)
  }

  test("temperatureSample: p^alpha flattening — alpha=1 keeps all, alpha=0 " +
      "equalizes in expectation, smallest stratum always keeps rate 1") {
    // planted 8:2:1 skew over 1100 docs
    val docs = (0L until 1100L).map { i =>
      val k = if (i < 800) "big" else if (i < 1000) "mid" else "small"
      (i, k)
    }.toDF("doc_id", "stratum")
    val all = graft.llm.Sampling.temperatureSample(
      docs, "doc_id", "stratum", alpha = 1.0)
    assert(all.count() == 1100L) // rate 1 everywhere
    val flat = graft.llm.Sampling.temperatureSample(
      docs, "doc_id", "stratum", alpha = 0.0)
    val byK = flat.groupBy("stratum").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // alpha = 0: expected size = min stratum (100) for every stratum;
    // the hash draw is binomial — allow 4 sigma (sqrt(100*(1-p)) ~ 9)
    assert(byK("small") == 100L) // rate 1.0 exactly: every row kept
    assert(math.abs(byK("big") - 100L) < 40 &&
      math.abs(byK("mid") - 100L) < 40, byK.toString)
    // rates carried and round-4: big = (100/800)^1 = 0.125
    val rates = flat.select("stratum", "keep_rate").distinct()
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rates("big") == 0.125 && rates("small") == 1.0, rates.toString)
    // half temperature sits between: (1/8)^0.5 = 0.3536
    val half = graft.llm.Sampling.temperatureSample(
        docs, "doc_id", "stratum", alpha = 0.5)
      .select("stratum", "keep_rate").distinct()
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(half("big") == 0.3536, half.toString)
    // deterministic across layouts
    val again = graft.llm.Sampling.temperatureSample(
      docs.repartition(13), "doc_id", "stratum", alpha = 0.0)
      .select("doc_id").as[Long].collect().toSet
    assert(again == flat.select("doc_id").as[Long].collect().toSet)
  }

  test("kCenterSample: farthest-first picks the extremes, radius curve " +
      "non-increasing, k > n stops, layout-independent") {
    // four tight clusters at the corners of a square + one outlier far
    // out; seed = lowest id (in cluster A), then the outlier, then the
    // remaining corners before ANY second member of a covered cluster
    def v(x: Double, y: Double): Seq[Float] = Seq(x.toFloat, y.toFloat)
    val pts = Seq(
      (1L, v(0, 0)), (2L, v(0.1, 0)), (3L, v(0, 0.1)),       // cluster A
      (10L, v(10, 0)), (11L, v(10.1, 0)),                     // cluster B
      (20L, v(0, 10)), (21L, v(0, 10.1)),                     // cluster C
      (30L, v(10, 10)), (31L, v(10.1, 10)),                   // cluster D
      (99L, v(100, 100)))                                     // outlier
      .toDF("vec_id", "embedding")
    val sel = graft.llm.Similarity.kCenterSample(pts, "vec_id", "embedding", k = 5)
      .orderBy("sel_rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(sel.map(_._2).head == 1L) // seed = lowest id
    assert(sel(1)._2 == 99L)         // farthest from A = the outlier
    // ranks 3..5 cover B, C, D (order among them by distance) before
    // any duplicate-cluster member appears
    assert(sel.drop(2).map(_._2).toSet.subsetOf(Set(10L, 11L, 20L, 21L, 30L, 31L)))
    assert(sel.drop(2).map(_._2 / 10).distinct.size == 3, sel.mkString(","))
    // the k-center radius curve never increases after the seed
    val radii = sel.drop(1).map(_._3)
    assert(radii.zip(radii.tail).forall { case (a, b) => b <= a }, radii.toSeq)
    // k beyond the corpus stops at n rows
    assert(graft.llm.Similarity.kCenterSample(
      pts.limit(3), "vec_id", "embedding", k = 99).count() == 3)
    // deterministic across layouts (checkpoint boundary included)
    val again = graft.llm.Similarity.kCenterSample(
      pts.repartition(7), "vec_id", "embedding", k = 5, checkpointEvery = 2)
      .orderBy("sel_rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(again.toSeq == sel.toSeq)
  }

  test("hardNegatives: same-label neighbors excluded, ranks by cosine") {
    val df = Seq(
      (1L, Seq(1f, 0f), "A"),      // query
      (2L, Seq(0.99f, 0.14f), "A"),// nearest overall — but same label
      (3L, Seq(0.9f, 0.44f), "B"), // hard negative rank 1
      (4L, Seq(0f, 1f), "B"),      // orthogonal -> rank 2
      (5L, Seq(-1f, 0f), "C")      // opposite -> rank 3
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(df, df.where($"vec_id" === 1L),
        "vec_id", "embedding", "label", k = 3)
      .orderBy($"rank").as[(Long, Long, Double, Int)].collect()
    assert(out.map(_._2).toSeq == Seq(3L, 4L, 5L))
    assert(!out.exists(_._2 == 2L)) // same-label never mined
    assert(out.map(_._3).toSeq == out.map(_._3).sorted.reverse.toSeq)
  }

  test("hardNegativesIvf: recall >= 0.9 vs exact, labels honored, k bounded") {
    val dim = 16; val nClu = 8
    val centers = Array.tabulate(nClu) { c =>
      val r = new java.util.Random(500L + c)
      Array.fill(dim)(r.nextGaussian().toFloat)
    }
    // clustered corpus; label = (id/8) % 4 is uniform WITHIN each
    // cluster, so a query's hard negatives live in its own cell and
    // the gate measures the label plumbing, not routing luck
    val rows = (0L until 800L).map { id =>
      val r = new java.util.Random(id * 2654435761L + 3)
      val base = centers((id % nClu).toInt)
      (id, base.map(x => x + 0.25f * r.nextGaussian().toFloat).toSeq,
        ((id / 8) % 4).toInt)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
      .repartition(4).localCheckpoint()
    val queries = df.where($"vec_id" % 8 === 1)
    val exact = Similarity.hardNegatives(df, queries,
        "vec_id", "embedding", "label", k = 5)
      .select("query_id", "neighbor_id").localCheckpoint()
    val approx = Similarity.hardNegativesIvf(df, queries,
        "vec_id", "embedding", "label", k = 5, nCells = 8, nProbe = 3,
        iters = 4)
      .localCheckpoint()
    val total = exact.count()
    val hit = exact.join(approx.select("query_id", "neighbor_id"),
      Seq("query_id", "neighbor_id"), "left_semi").count()
    assert(total == 100L * 5L)
    assert(hit.toDouble / total >= 0.9,
      s"hardNegativesIvf recall ${hit.toDouble / total} < 0.9")
    // mined neighbors never share the query's label; ranks stay in [1,k]
    val lbl = df.select($"vec_id", $"label")
    val samePairs = approx
      .join(lbl.select($"vec_id".as("query_id"), $"label".as("ql")), Seq("query_id"))
      .join(lbl.select($"vec_id".as("neighbor_id"), $"label".as("cl")), Seq("neighbor_id"))
      .where($"ql" === $"cl").count()
    assert(samePairs == 0L)
    assert(approx.where($"rank" < 1 || $"rank" > 5).count() == 0L)
    assert(approx.groupBy($"query_id").count().where($"count" > 5).count() == 0L)
  }

  test("weightedSample: selection invariant under weight scaling and layout") {
    val df = (0L until 150L).map(i => (i, 1.0 + (i % 7))).toDF("id", "w")
    val base = Sampling.weightedSample(df, "id", "w", k = 25)
      .select("id").as[Long].collect().toSet
    // scaling every weight by a constant preserves the race order
    val scaled = Sampling.weightedSample(
        df.withColumn("w", $"w" * 1000.0), "id", "w", k = 25)
      .select("id").as[Long].collect().toSet
    assert(scaled == base)
    val perm = Sampling.weightedSample(df.orderBy(rand(7)), "id", "w", k = 25)
      .select("id").as[Long].collect().toSet
    assert(perm == base)
  }

  test("labelCentroidDrift: hand-computed cosines, aligned label reads 1") {
    // A's centroid (1,0), B's (0,1) -> global mean (0.5, 0.5);
    // cos(A, g) = cos(B, g) = 0.5 / sqrt(0.5) = 0.7071...
    // C sits ON the global direction -> cosine exactly 1
    val df = Seq(
      (1L, Seq(1f, 0f), 0), (2L, Seq(1f, 0f), 0),
      (3L, Seq(0f, 1f), 1), (4L, Seq(0f, 1f), 1),
      (5L, Seq(2f, 2f), 2), (6L, Seq(4f, 4f), 2)
    ).toDF("vec_id", "embedding", "label")
    val out = Corpus.labelCentroidDrift(df, "embedding", "label")
      .as[(Int, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out.keySet == Set(0, 1, 2))
    assert(out.values.forall(_._1 == 2L))
    // global mean = (4/3, 4/3); A/B symmetric off-axis, C on-axis
    assert(out(0)._2 == out(1)._2)
    assert(out(0)._2 == 0.7071) // round4(1/sqrt 2)
    assert(out(2)._2 == 1.0)
  }

  test("leakageFreeSplit: near-dup clusters move as one, singletons match " +
      "hashSplit, every doc assigned once") {
    val base = "the quick brown fox jumps over the lazy dog and then runs far away home tonight"
    val df = (
      // a 3-copy near-dup family (ids 0,1,2): one trailing-word tweak
      Seq((0L, base), (1L, base + " x"), (2L, base + " y")) ++
      // unrelated singletons with distinct vocabularies
      (10L until 40L).map(i =>
        (i, (0 until 15).map(j => s"w${i}_$j").mkString(" ")))
    ).toDF("doc_id", "text")
    val out = Sampling.leakageFreeSplit(df, "doc_id", "text",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), threshold = 0.3)
      .select($"doc_id", $"split_key", $"split")
      .as[(Long, Long, String)].collect()
    assert(out.length == 33 && out.map(_._1).distinct.length == 33)
    // the family shares one key (the min id) and one split
    val fam = out.filter(_._1 <= 2L)
    assert(fam.map(_._2).toSet == Set(0L))
    assert(fam.map(_._3).toSet.size == 1)
    // singletons key by their own id and match plain hashSplit
    val singles = out.filter(_._1 >= 10L)
    assert(singles.forall(r => r._2 == r._1))
    val plain = Sampling.hashSplit(
        df.where($"doc_id" >= 10L), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    assert(singles.forall(r => plain(r._1) == r._3))
  }

  test("curation chain composes: dedup -> quantile gate -> leakage-free " +
      "split -> weighted sample, gates hold on the output") {
    val df = (0L until 200L).map { i =>
      val text = (0 until (5 + (i % 20)).toInt).map(j => s"w${i}_$j").mkString(" ")
      (i, if (i % 2 == 0) "en" else "de", s"src${i % 4}", text, text.length.toLong)
    }.toDF("doc_id", "lang", "source", "text", "n_chars")
    def chain() = {
      val dd = Dedup.dedupedCorpus(df, "doc_id", "text")
      val qg = Sampling.quantileFilter(dd, "lang", "n_chars", p = 0.5)
      val split = Sampling.leakageFreeSplit(qg, "doc_id", "text",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), threshold = 0.3)
      Sampling.weightedSample(split.where($"split" === "train"),
        "doc_id", "n_chars", k = 30)
    }
    val out = chain()
    val rows = out.select($"doc_id", $"n_chars", $"q_threshold", $"split")
      .as[(Long, Long, Double, String)].collect()
    assert(rows.length == 30)
    // every sampled doc still satisfies its stratum's gate, train only
    assert(rows.forall(r => r._2 >= r._3))
    assert(rows.forall(_._4 == "train"))
    // the chain is a pure function of (corpus, salts)
    assert(chain().select("doc_id").as[Long].collect().toSet ==
      rows.map(_._1).toSet)
  }

  test("quantileFilter: per-stratum interpolated cut, strata independent, " +
      "threshold emitted rounded") {
    // lang A: values 1..11 -> p90 index 0.9*10 = 9 -> exactly 10
    // lang B: values 10,20,30,44 -> p75... use p=0.9: idx 2.7 -> 30+0.7*14=39.8
    val df = ((1 to 11).map(v => ("A", v.toLong)) ++
      Seq(("B", 10L), ("B", 20L), ("B", 30L), ("B", 44L)))
      .zipWithIndex.map { case ((l, v), i) => (i.toLong, l, v) }
      .toDF("id", "lang", "v")
    val out = Sampling.quantileFilter(df, "lang", "v", p = 0.9)
      .select($"lang", $"v", $"q_threshold")
      .as[(String, Long, Double)].collect()
    val a = out.filter(_._1 == "A")
    val b = out.filter(_._1 == "B")
    // A: threshold exactly 10.0 -> keeps 10 and 11
    assert(a.map(_._2).sorted.toSeq == Seq(10L, 11L))
    assert(a.forall(_._3 == 10.0))
    // B: threshold 39.8 -> keeps only 44
    assert(b.map(_._2).toSeq == Seq(44L))
    assert(b.forall(_._3 == 39.8))
    // p out of range fails loudly
    intercept[IllegalArgumentException] {
      Sampling.quantileFilter(df, "lang", "v", p = 1.0)
    }
  }

  test("quantileFilter approx path: rank within the documented error " +
      "band; exact path unchanged; lengthProfile approx tracks exact") {
    // one stratum, 10,000 DISTINCT values (the unbounded-cardinality
    // regime the approx path exists for)
    val df = (1L to 10000L).map(v => (v, "A", v)).toDF("id", "lang", "v")
    val exactKept = Sampling.quantileFilter(df, "lang", "v", p = 0.9)
      .count()
    assert(exactKept == 1000L) // threshold = interpolated 9000.1 -> 9001..10000
    val approx = Sampling.quantileFilter(df, "lang", "v", p = 0.9,
      exact = false, approxAccuracy = 10000)
    // contract: kept fraction within 1/accuracy (+ ties; values unique
    // here) of 1-p, and the threshold is an ACTUAL element
    val approxKept = approx.count()
    assert(math.abs(approxKept - 1000L) <= 10000L / 10000 + 1,
      s"approx kept $approxKept, expected 1000 +/- rank error")
    val thr = approx.select($"q_threshold").head().getDouble(0)
    assert(thr == math.floor(thr) && thr >= 1 && thr <= 10000)
    // lengthProfile: exact matches hand-computed percentile; approx
    // lands within the same rank band
    val prof = Corpus.lengthProfile(df, "lang", "v").collect().head
    assert(prof.getLong(1) == 10000L)
    assert(prof.getDouble(3) == 1000.9) // p10 of 1..10000: 1 + 0.1*9999
    val profA = Corpus.lengthProfile(df, "lang", "v", exact = false)
      .collect().head
    assert(math.abs(profA.getDouble(4) - 5000.0) <= 2.0) // p50 rank +/- n/acc
    intercept[IllegalArgumentException] {
      Corpus.lengthProfile(df, "lang", "v", percentiles = Seq(1.5))
    }
  }

  test("winnowFingerprints: driver-replayed window minima, shared-run " +
      "guarantee, short docs empty") {
    val words = "the quick brown fox jumps over a lazy dog today".split(" ")
    val df = Seq(
      (1L, words.mkString(" ")),
      // shares the 6-token run "brown fox jumps over a lazy" with doc 1
      // >= window + k - 1 = 4 tokens -> MUST share a fingerprint
      (2L, "completely different prefix brown fox jumps over a lazy end"),
      (3L, "too short")
    ).toDF("doc_id", "text")
    val out = Dedup.winnowFingerprints(df, "doc_id", "text", k = 2, window = 3)
      .as[(Long, Long)].collect()
    // driver replay for doc 1: 2-gram hashes, then 3-window minima
    val grams = words.sliding(2).map(_.mkString(" ")).map(pHash).toVector
    val expect1 = grams.sliding(3).map(_.min).toSet
    assert(out.filter(_._1 == 1L).map(_._2).toSet == expect1)
    // winnowing guarantee: the shared run yields a shared fingerprint
    val fp1 = out.filter(_._1 == 1L).map(_._2).toSet
    val fp2 = out.filter(_._1 == 2L).map(_._2).toSet
    assert((fp1 & fp2).nonEmpty)
    // short doc emits nothing; selected set is sparser than the grams
    assert(!out.exists(_._1 == 3L))
    assert(fp1.size < grams.size)
  }

  test("trainOrder: each epoch is a permutation, epochs differ, " +
      "layout-independent, == window rank") {
    import org.apache.spark.sql.expressions.Window
    val df = (0L until 400L).map(i => (i, s"t$i")).toDF("id", "text")
    val order = Sampling.trainOrder(df, "id", epochs = 3)
      .as[(Long, Int, Long)].collect()
    // bijection per epoch: positions are exactly 1..n, ids complete
    val byEpoch = order.groupBy(_._2)
    assert(byEpoch.keySet == Set(0, 1, 2))
    byEpoch.values.foreach { rows =>
      assert(rows.map(_._3).sorted.toSeq == (1L to 400L))
      assert(rows.map(_._1).toSet == (0L until 400L).toSet)
    }
    // epochs are DIFFERENT permutations (the epoch ordinal is hashed)
    val pos0 = byEpoch(0).map(r => r._1 -> r._3).toMap
    val pos1 = byEpoch(1).map(r => r._1 -> r._3).toMap
    assert((0L until 400L).exists(id => pos0(id) != pos1(id)))
    // layout-independent: a scrambled repartition yields the identical stream
    val again = Sampling.trainOrder(df.repartition(17), "id", epochs = 3)
      .as[(Long, Int, Long)].collect()
    assert(again.sorted.toSeq == order.sorted.toSeq)
    // differential vs the naive per-epoch window rank (the oracle's form)
    val h = TextStats.portableHash(concat(
      lit("order|"), col("epoch").cast("string"), lit("|"), col("id").cast("string")))
    val viaWindow = df.select(col("id"))
      .withColumn("epoch", explode(sequence(lit(0), lit(2))))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("epoch")).orderBy(h, col("id"))).cast("long"))
      .as[(Long, Int, Long)].collect()
    assert(viaWindow.sorted.toSeq == order.sorted.toSeq)
    // and the scale property: no Window node in the shipped plan
    val plan = Sampling.trainOrder(df, "id", epochs = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"trainOrder must not plan a window:\n$plan")
  }

  // ---------------------------------------------------------------- //
  // SemDeDup                                                         //
  // ---------------------------------------------------------------- //

  test("semanticNearDupPairs recovers planted near-copies") {
    val rnd = new scala.util.Random(11)
    val base = (0L until 60L).map { i =>
      (i, Seq.fill(16)(rnd.nextGaussian().toFloat))
    }
    val planted = base.take(6).map { case (i, v) =>
      (i + 1000L, v.map(x => x + 1e-4f))
    }
    val corpus = (base ++ planted).toDF("vec_id", "embedding")
    val pairs = Similarity.semanticNearDupPairs(corpus, "vec_id", "embedding",
      minCosine = 0.999, nClusters = 4, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0L until 6L).map(i => (i, i + 1000L)).toSet
    // every reported pair is exact-verified (precision 1); recall here
    // must be total — 16-dim gaussians are far apart vs a 1e-4 nudge
    assert(expected.subsetOf(pairs), s"missing: ${expected -- pairs}")
    assert(pairs.forall { case (a, b) => expected.contains((a, b)) })
  }

  // ---------------------------------------------------------------- //
  // Product quantization                                             //
  // ---------------------------------------------------------------- //

  test("pqCodebooks: m*ks centroids of subdim, deterministic across calls") {
    val rnd = new scala.util.Random(5)
    val corpus = (0L until 80L).map(i => (i, Seq.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val b1 = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 4, ks = 8, iters = 2)
    assert(b1.length == 4 && b1.forall(_.length == 8) &&
      b1.forall(_.forall(_.length == 4)))
  }

  test("pqTopK top-1 finds an exact duplicate; ranks are 1..k") {
    val rnd = new scala.util.Random(9)
    val base = (0L until 64L).map(i => (i, Seq.fill(16)(rnd.nextGaussian().toFloat)))
    // vector 500 duplicates vector 3 exactly -> its true NN
    val corpus = (base :+ ((500L, base(3)._2))).toDF("vec_id", "embedding")
    val queries = corpus.where(col("vec_id") === 500L)
    val out = Similarity.pqTopK(corpus, queries, "vec_id", "embedding",
      k = 5, m = 4, ks = 8, iters = 3, rerank = 16).collect()
    assert(out.length == 5)
    assert(out.map(_.getInt(3)).sorted.toSeq == Seq(1, 2, 3, 4, 5))
    val top = out.find(_.getInt(3) == 1).get
    assert(top.getLong(1) == 3L && top.getDouble(2) == 1.0)
  }

  // ---------------------------------------------------------------- //
  // Count-Min sketch                                                 //
  // ---------------------------------------------------------------- //

  test("countMin: exact on collision-free data, lower bound always") {
    val docs = Seq((1L, "alpha alpha alpha beta beta gamma")).toDF("doc_id", "text")
    val out = graft.llm.Sketches.countMinEstimates(docs, "text",
      Seq("alpha", "beta", "gamma", "absent"), width = 1 << 16, depth = 4)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    // 6 tokens in a 65536-wide sketch: collisions are impossible to
    // matter here — estimates are exact, and the bound holds by design
    assert(out("alpha") == ((3L, 3L, true)))
    assert(out("beta") == ((2L, 2L, true)))
    assert(out("gamma") == ((1L, 1L, true)))
    assert(out("absent")._1 == 0L && out("absent")._3)
  }

  test("countMin table is depth x <=width and mass-preserving per row") {
    val docs = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val t = graft.llm.Sketches.countMinTable(docs, "text", width = 64, depth = 3)
    val rows = t.groupBy("row").agg(sum("cnt").as("mass")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // every row of the sketch sees every token exactly once
    assert(rows == Map(0 -> 10L, 1 -> 10L, 2 -> 10L))
  }

  // ---------------------------------------------------------------- //
  // Bigram LM                                                        //
  // ---------------------------------------------------------------- //

  test("bigramLmScore: repeated bigrams score higher than unseen-pair salad") {
    val docs = Seq(
      (1L, "the cat sat"), (2L, "the cat ran"), (3L, "the cat sat"),
      (4L, "sat ran the")  // same unigrams, unseen/rare bigram order
    ).toDF("doc_id", "text")
    val out = graft.llm.TextStats.bigramLmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    assert(out(1L)._1 == 2L) // 3 tokens -> 2 bigrams
    // "the cat" occurs 3x; doc 4's bigrams occur once each
    assert(out(1L)._2 > out(4L)._2)
    assert(out(1L)._2 == out(3L)._2) // identical docs, identical score
  }

  test("bigramLmScore: sub-2-token docs are absent") {
    val docs = Seq((1L, "single"), (2L, "two tokens")).toDF("doc_id", "text")
    val out = graft.llm.TextStats.bigramLmScore(docs, "doc_id", "text")
    assert(out.select("doc_id").as[Long].collect().toSet == Set(2L))
  }

  // ---------------------------------------------------------------- //
  // Image perceptual hash                                            //
  // ---------------------------------------------------------------- //

  test("imagePerceptualHash: byte-distinct perturbation keeps the hash, patterns differ") {
    // all 30 q7B patterns, clean + perturbed
    val rows = (0L until 30L).flatMap { p =>
      Seq((p * 2, Multimodal.syntheticTexturedPng(p, perturb = false)),
        (p * 2 + 1, Multimodal.syntheticTexturedPng(p, perturb = true)))
    }
    // the perturbed payload really is byte-distinct
    assert(!java.util.Arrays.equals(rows(0)._2, rows(1)._2))
    val out = Multimodal.imagePerceptualHash(
      rows.toDF("doc_id", "payload"), "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    (0L until 30L).foreach { p =>
      assert(out(p * 2) == out(p * 2 + 1),
        s"pattern $p: single-pixel noise must not move the aHash")
    }
    assert((0L until 30L).map(p => out(p * 2)).distinct.size == 30,
      "all 30 patterns must hash apart")
  }

  // ---------------------------------------------------------------- //
  // WAV spectra                                                      //
  // ---------------------------------------------------------------- //

  test("wavDominantFrequency: square-wave fundamental for every half-period") {
    val media = (0L until 8L).toDF("doc_id")
      .select(col("doc_id"), Multimodal.syntheticWavUdf(col("doc_id")).as("payload"))
    val out = Multimodal.wavDominantFrequency(media, "doc_id", "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 8)
    out.foreach { case (id, n, bin) =>
      assert(n == 800L)
      val h = Multimodal.WavHalfPeriods((id % 8).toInt)
      assert(bin == 400L / h, s"doc $id: bin $bin != ${400 / h} (h=$h)")
    }
  }

  test("wavDominantFrequency: pure sine lands on its own bin") {
    // 8 cycles over 800 samples -> bin 8
    val samples = Array.tabulate(800)(i =>
      (12000 * math.sin(2 * math.Pi * 8 * i / 800)).toShort)
    val wav = Multimodal.wavBytes(samples)
    val media = Seq((1L, wav)).toDF("doc_id", "payload")
    val out = Multimodal.wavDominantFrequency(media, "doc_id", "payload").collect()
    assert(out.head.getLong(2) == 8L)
  }

  test("standardPipeline == manual chaining of its five stages") {
    // per-doc text: a unique 20-token core (near-dup jaccard across
    // docs stays far below 0.3) framed by template runs of < 5 constant
    // consecutive tokens (so no doc shares a word 5-gram with the
    // benchmark except the planted one)
    val prose = (i: Int) =>
      s"the quick story $i is about " +
        (0 until 20).map(j => s"w${i}x$j").mkString(" ") +
        s" and day $i is the end"
    val rows = (0L until 40L).map(i => (i, s"src${i % 2}", prose(i.toInt))) ++
      Seq((100L, "src0", prose(3)),                      // exact dup of 3
        (101L, "src1", prose(7) + " extra"),             // near dup of 7
        (102L, "src0", "short"),                         // fails quality
        (103L, "src1", prose(900)))                      // clean survivor
    val docs = rows.toDF("doc_id", "source", "text")
    val bench = Seq((9000L, "b", prose(11))).toDF("doc_id", "source", "text")

    val pipeline = Curation.standardPipeline(docs, bench,
      budgets = Map("src0" -> 2000L), defaultBudget = 3000L)

    val exact = Dedup.dedupedCorpus(docs, "doc_id", "text")
    val noDup = Dedup.dedupNearDup(exact, "doc_id", "text",
      shingleN = 3, k = 32, bands = 8, threshold = 0.3)
    val clean = TextStats.qualityFilter(noDup, "text", 20, 10000, 0.6, Seq("en"))
    val flagged = Dedup.decontaminate(clean, bench, "doc_id", "text", shingleN = 5)
      .where($"n_contaminated" >= 1).select("doc_id")
    val manual = Sampling.tokenBudget(
      clean.join(flagged, Seq("doc_id"), "left_anti")
        .select($"doc_id", $"source",
          TextStats.tokenCount($"text").cast("int").as("n_tokens")),
      "doc_id", "source", "n_tokens", Map("src0" -> 2000L), 3000L)

    val a = pipeline.orderBy("doc_id").collect().toSeq
    val b = manual.orderBy("doc_id").collect().toSeq
    assert(a == b)
    val ids = pipeline.select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(100L), "exact duplicate must be dropped")
    assert(!ids.contains(101L), "near duplicate must be dropped")
    assert(!ids.contains(102L), "low-quality doc must be dropped")
    assert(!ids.contains(11L), "benchmark-contaminated doc must be dropped")
    assert(ids.contains(103L), "clean survivor must remain")
  }

  test("qualityClassifier separates held-out planted tranches, " +
      "probs in range, deterministic") {
    // positives carry curated-register markers, negatives webby ones;
    // a shared backbone keeps the problem non-trivial
    val back = (i: Long) => s"common words here item $i with shared phrasing across all"
    val pos = (0L until 60L).map(i =>
      (i, back(i) + " thoughtful prose citation study archive evidence"))
    val neg = (100L until 160L).map(i =>
      (i, back(i) + " click subscribe free offer deal winner jackpot"))
    val raw = (pos ++ neg).toDF("doc_id", "text")
    val target = raw.where($"doc_id" < 60L)
    val scored = Classifier.qualityClassifier(raw, target, "doc_id", "text",
      nBuckets = 256, trainFrac = 0.6, salt = "t")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scored.size == 120 && scored.values.forall(p => p >= 0 && p <= 1))
    // held-out = docs the hash sample excluded from training
    val held = raw.where(Sampling.unitHash($"doc_id", "t") >= 6000.0)
      .select("doc_id").as[Long].collect().toSet
    assert(held.nonEmpty, "fixture must leave a held-out set")
    def mean(s: Iterable[Double]) = s.sum / s.size
    val pHeldPos = mean(held.filter(_ < 60L).map(scored))
    val pHeldNeg = mean(held.filter(_ >= 100L).map(scored))
    assert(pHeldPos - pHeldNeg > 0.5,
      s"held-out separation too weak: $pHeldPos vs $pHeldNeg")
    // deterministic across runs and input layout
    val again = Classifier.qualityClassifier(raw.repartition(13), target,
      "doc_id", "text", nBuckets = 256, trainFrac = 0.6, salt = "t")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(again == scored)
  }

  test("qualityClassifier: oversized train sample fails loudly") {
    val df = (0L until 100L).map(i => (i, s"doc $i words")).toDF("doc_id", "text")
    val err = intercept[IllegalArgumentException] {
      Classifier.qualityClassifier(df, df.where($"doc_id" < 50),
        "doc_id", "text", nBuckets = 64, trainFrac = 1.0,
        maxTrainDocs = 10L).count()
      ()
    }
    assert(err.getMessage.contains("exceeds 10"))
  }

  test("dedupNearDupKeepBest keeps the longest member per cluster, ties to lowest id") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, base, 66),                             // lowest id but NOT longest
      (2L, base + " extra tail words here", 88),  // longest in the cluster → kept
      (3L, base + " extra", 72),                  // near-dup, mid length → dropped
      (10L, "completely different content with nothing shared at all", 55), // singleton
      (20L, "tie one two three four five six seven eight nine ten eleven", 60),
      (21L, "tie one two three four five six seven eight nine ten eleven", 60) // equal quality → lowest id wins
    ).toDF("doc_id", "text", "n_chars")
    val best = Dedup.dedupNearDupKeepBest(docs, "doc_id", "text", "n_chars",
      threshold = 0.3).select("doc_id").as[Long].collect().toSet
    assert(best == Set(2L, 10L, 20L), s"got $best")
    // the keep-lowest-id policy keeps doc 1 instead — the two policies
    // genuinely diverge on this cluster
    val first = Dedup.dedupNearDup(docs, "doc_id", "text", threshold = 0.3)
      .select("doc_id").as[Long].collect().toSet
    assert(first == Set(1L, 10L, 20L), s"got $first")
  }

  test("dsirWeights: target-like docs outweigh off-target ones " +
    "(importance resampling toward the target distribution, Xie et al. 2023)") {
    val target = Seq(
      (100L, "alpha beta gamma alpha beta"),
      (101L, "beta gamma alpha")).toDF("doc_id", "text")
    val raw = Seq(
      (1L, "alpha beta gamma"),       // on-target vocabulary
      (2L, "alpha beta gamma beta"),  // on-target
      (3L, "zeta eta theta"),         // off-target
      (4L, "theta zeta eta zeta")     // off-target
    ).toDF("doc_id", "text")
    val w = Sampling.dsirWeights(raw, target, "doc_id", "text", nBuckets = 256)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(w.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    // n_grams = unigrams + bigrams = 2·len − 1
    assert(w.map(_._2).toSeq == Seq(5L, 7L, 5L, 7L), w.mkString(","))
    val wm = w.map(x => x._1 -> x._3).toMap
    // doc 1's grams ALL occur in the target => positive LLR; docs 3/4
    // share no vocabulary with it => negative. (Doc 2 carries one
    // target-unseen bigram "gamma beta", so only ordering is asserted —
    // a sum of per-gram LLRs legitimately dips below zero.)
    assert(wm(1L) > 0, s"all-target-gram doc must score positive: $wm")
    assert(wm(3L) < 0 && wm(4L) < 0, s"off-target docs must score negative: $wm")
    assert(math.min(wm(1L), wm(2L)) > math.max(wm(3L), wm(4L)),
      s"on-target docs must outweigh off-target ones: $wm")
    val sel = Sampling.dsirSelect(raw, target, "doc_id", "text", n = 2, nBuckets = 256)
      .collect().map(_.getLong(0)).toSet
    assert(sel == Set(1L, 2L), s"top-2 selection must be the on-target docs, got $sel")
  }

  test("crossCorpusNearDupPairs: cross pairs only, within-side near-dups " +
      "stay silent, incoming side broadcast") {
    def doc(id: Long, words: Seq[String]) = (id, words.mkString(" "))
    val base = (0 until 30).map(j => s"w$j")
    val novel = (0 until 30).map(j => s"v$j")
    val history = Seq(doc(2L, base), doc(4L, (50 until 80).map(j => s"x$j")))
      .toDF("doc_id", "text")
    // doc 1 near-dups history doc 2; docs 3/5 near-dup EACH OTHER but
    // share nothing with history — a within-incoming pair the cross
    // operator must not emit
    val incoming = Seq(doc(1L, base.updated(15, "EDIT")),
      doc(3L, novel), doc(5L, novel.updated(10, "EDIT"))).toDF("doc_id", "text")
    val out = Dedup.crossCorpusNearDupPairs(incoming, history,
      "doc_id", "text")
    val pairs = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((2L, 1L)),
      s"expected exactly the planted cross pair, got ${pairs.toSeq}")
    // the jaccard is the exact verified one (28-shingle docs, one edit
    // kills 3 shingles: J = 25/31)
    assert(math.abs(pairs.head._3 - 25.0 / 31.0) < 1e-3, pairs.head.toString)
    // the incoming band table broadcasts — history must never shuffle
    // through the candidate join
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"incoming bands must broadcast into the history band scan:\n$plan")
  }
}
