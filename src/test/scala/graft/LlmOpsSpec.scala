package graft

import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Similarity, TextStats}

class LlmOpsSpec extends SparkSpec {
  import spark.implicits._

  test("shinglesUdf matches the expression form exactly") {
    val docs = Seq("the quick brown fox jumps", "a b", "", "one two three")
      .toDF("text")
    val both = docs.select(
      Dedup.shingles(TextStats.tokens(col("text")), 3).as("expr"),
      Dedup.shinglesUdf(3)(TextStats.tokens(col("text"))).as("udf"))
    assert(both.where(col("expr") =!= col("udf")).count() == 0)
  }

  test("minhashSignatureUdf matches the expression form exactly") {
    val docs = Seq("the quick brown fox jumps over the lazy dog today",
      "pack my box with five dozen liquor jugs right now").toDF("text")
    val sh = docs.select(Dedup.shinglesUdf(3)(TextStats.tokens(col("text"))).as("sh"))
    val both = sh.select(
      Dedup.minhashSignature(col("sh"), 32).as("expr"),
      Dedup.minhashSignatureUdf(32)(col("sh")).as("udf"))
    assert(both.where(col("expr") =!= col("udf")).count() == 0)
  }

  test("cosineUdf and native Catalyst cosine match the expression form (bit-exact)") {
    val rnd = new scala.util.Random(7)
    val vecs = Seq.fill(20)((Seq.fill(16)(rnd.nextFloat()), Seq.fill(16)(rnd.nextFloat())))
      .toDF("a", "b")
    val all = vecs.select(Similarity.cosine(col("a"), col("b")).as("expr"),
      Similarity.cosineUdf(col("a"), col("b")).as("udf"),
      Similarity.cosineNative(col("a"), col("b")).as("native"))
    assert(all.where(col("expr") =!= col("udf") || col("expr") =!= col("native")).count() == 0)
  }

  test("graft_cosine registers as a SQL function via GraftExtensions") {
    graft.GraftExtensions.register(spark)
    val out = spark.sql(
      "SELECT graft_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c").as[Double].head()
    assert(out == 1.0)
    // null element -> NULL (matches the expression form and DuckDB)
    val withNull = spark.sql(
      "SELECT graft_cosine(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(1.0 AS FLOAT))) AS c")
      .as[Option[Double]].head()
    assert(withNull.isEmpty, "null element must poison the score, not read as 0.0")
    // codegen path produces a plan without BatchEvalPython/ScalaUDF nodes
    val df = Seq((Seq(1f, 2f), Seq(2f, 1f))).toDF("a", "b")
      .select(Similarity.cosineNative(col("a"), col("b")).as("c"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), s"native path must not plan a UDF:\n$plan")
  }

  test("exact duplicates always collide in MinHash-LSH and score jaccard 1.0") {
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq((1L, text), (2L, text), (3L, "totally different words here entirely now ok fine"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("near-duplicates above threshold are found; unrelated docs are not") {
    val base = (1 to 20).map(i => s"word$i").mkString(" ")
    val nearDup = (1 to 19).map(i => s"word$i").mkString(" ") + " changed"
    val docs = Seq((1L, base), (2L, nearDup), (3L, "the cat sat on a mat with a hat and a rat today yes"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("banding operating point: bands=16 catches planted mid-edit " +
      "families the s-curve predicts; invalid bands fail loudly") {
    // 40 families of 30-token docs, each with a MID-document one-token
    // edit copy (pair jaccard ~0.8 — the 8-band/4-row ~1% miss regime;
    // at bands=16/rows=2 the miss probability is ~1e-7, so ALL 40
    // planted pairs must surface)
    val rows = (0 until 40).flatMap { f =>
      val words = Array.tabulate(30)(i => s"w${f * 100 + i}")
      val edited = words.clone(); edited(15) = s"mid$f"
      Seq((f * 2L, words.mkString(" ")), (f * 2L + 1, edited.mkString(" ")))
    }
    val docs = rows.toDF("doc_id", "text")
    val found = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
        threshold = 0.5, bands = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val planted = (0 until 40).map(f => (f * 2L, f * 2L + 1L)).toSet
    assert(planted.subsetOf(found),
      s"missed ${(planted -- found).size} of 40 planted J~0.8 pairs at bands=16")
    intercept[IllegalArgumentException] {
      Dedup.minhashNearDupPairs(docs, "doc_id", "text", bands = 5)
    }
  }

  test("simhash: identical docs -> hamming 0; banding finds them") {
    val t = "one two three four five six seven eight nine ten"
    val docs = Seq((1L, t), (2L, t)).toDF("doc_id", "text")
    val out = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
    assert(out.toSeq == Seq((1L, 2L, 0)))
  }

  test("exactDedup groups case/whitespace-normalized text") {
    val docs = Seq((5L, "Hello World"), (3L, "hello world"), (7L, " other ")).toDF("doc_id", "text")
    val out = Dedup.exactDedup(docs, "doc_id", "text")
      .orderBy("doc_id").select("doc_id", "dup_count").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((3L, 2L), (7L, 1L)))
  }

  test("bruteForceTopK returns k best by cosine with deterministic ties") {
    val corpus = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0f, 1f)), (4L, Seq(-1f, 0f)))
      .toDF("vec_id", "embedding")
    val q = Seq((10L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(corpus, q, "vec_id", "embedding", 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(out.toSeq == Seq(1L, 2L))
  }

  test("lshTopK finds an exact-copy query's source vector at rank 1") {
    val rnd = new scala.util.Random(11)
    val corpus = (0L until 100L).map(i => (i, Seq.fill(16)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val q = corpus.where($"vec_id" < 5)
      .select(($"vec_id" + 1000).as("vec_id"), $"embedding")
    val top = Similarity.lshTopK(corpus, q, "vec_id", "embedding", 1, nPlanes = 6, dim = 16)
    val hits = top.where($"rank" === 1 && $"neighbor_id" === $"query_id" - 1000 &&
      $"score" >= 0.9999).count()
    assert(hits == 5)
  }

  test("ivfTopK finds an exact-copy query's source vector at rank 1") {
    val rnd = new scala.util.Random(13)
    val corpus = (0L until 100L).map(i => (i, Seq.fill(16)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val q = corpus.where($"vec_id" >= 50 && $"vec_id" < 55)
      .select(($"vec_id" + 1000).as("vec_id"), $"embedding")
    val top = Similarity.ivfTopK(corpus, q, "vec_id", "embedding", 1,
      nCells = 8, nProbe = 2)
    // identical vector -> identical best cell -> must be probed & found
    val hits = top.where($"rank" === 1 && $"neighbor_id" === $"query_id" - 1000 &&
      $"score" >= 0.9999).count()
    assert(hits == 5)
  }

  test("kmeans IVF recovers planted clusters with recall >= 0.9") {
    val rnd = new scala.util.Random(17)
    // 8 planted cluster directions in 16-d, 40 near-copies each: a
    // query's exact top-10 are its own cluster, so a trained index that
    // learns the clusters probes the right cell.
    val centers = Array.fill(8)(Array.fill(16)(rnd.nextGaussian()))
    val rows = for (c <- 0 until 8; i <- 0 until 40) yield
      ((c * 40 + i).toLong,
        centers(c).map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq)
    val corpus = rows.toDF("vec_id", "embedding")
    val queries = corpus.where($"vec_id" % 40 === 0)
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id")
    val approx = Similarity.ivfTopKKMeans(corpus, queries, "vec_id", "embedding",
        10, nCells = 8, nProbe = 2, iters = 4)
      .select("query_id", "neighbor_id")
    val hit = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi").count()
    val total = exact.count()
    assert(hit.toDouble / total >= 0.9, s"recall $hit/$total")
  }

  test("ivfPqTopK (IVFADC) recovers planted clusters with recall >= 0.8") {
    val rnd = new scala.util.Random(29)
    // same planted-cluster shape as the kmeans IVF gate: a query's exact
    // top-10 are its own cluster; the coarse quantizer must route the
    // probe there and PQ-ADC + exact rerank must keep the neighbors.
    val centers = Array.fill(8)(Array.fill(16)(rnd.nextGaussian()))
    val rows = for (c <- 0 until 8; i <- 0 until 40) yield
      ((c * 40 + i).toLong,
        centers(c).map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq)
    val corpus = rows.toDF("vec_id", "embedding")
    val queries = corpus.where($"vec_id" % 40 === 0)
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id")
    // rerank > cluster size: near-identical cluster members share a PQ
    // code, so the ADC heap must be wide enough to keep the whole tie
    // group for the exact rerank to resolve.
    val approx = Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding",
        10, nCells = 8, nProbe = 2, m = 4, ks = 8, iters = 4, rerank = 60)
      .select("query_id", "neighbor_id")
    val hit = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi").count()
    val total = exact.count()
    assert(hit.toDouble / total >= 0.8, s"recall $hit/$total")
    // exactly k rows per query, ranks 1..k
    val perQuery = Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding",
        3, nCells = 8, nProbe = 2, m = 4, ks = 8, iters = 4, rerank = 60)
      .groupBy($"query_id").agg(count(lit(1)).as("n"), max($"rank").as("mx"))
    assert(perQuery.where($"n" =!= 3 || $"mx" =!= 3).count() == 0)
  }

  test("lshNearDupPairs == brute-force threshold pairs on planted near-dups") {
    val rnd = new scala.util.Random(23)
    // 60 random 32-d vectors plus a near-copy of every 5th: the only
    // pairs with cosine >= 0.95 are (i, i+1000) by construction.
    val base = (0L until 60L).map(i => (i, Array.fill(32)(rnd.nextGaussian().toFloat)))
    val copies = base.collect { case (i, v) if i % 5 == 0 =>
      (i + 1000L, v.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    }
    val corpus = (base ++ copies).map { case (i, v) => (i, v.toSeq) }
      .toDF("vec_id", "embedding")
    // brute-force ground truth (bounded fixture)
    val a = corpus.select($"vec_id".as("id_a"), $"embedding".as("va"))
    val b = corpus.select($"vec_id".as("id_b"), $"embedding".as("vb"))
    val exact = a.join(b, $"id_a" < $"id_b")
      .withColumn("cosine", Portable.round(Similarity.cosineNative($"va", $"vb"), 4))
      .where($"cosine" >= 0.95)
      .select("id_a", "id_b", "cosine").orderBy("id_a").collect().toSeq
    assert(exact.size == copies.size, "fixture must plant exactly the near-dup pairs")
    val lsh = Similarity.lshNearDupPairs(corpus, "vec_id", "embedding", 0.95)
      .orderBy("id_a").collect().toSeq
    assert(lsh == exact)
  }

  test("cleanText strips URLs and emails, collapses whitespace") {
    val rows = Seq(
      (1L, "see https://example.com/a?b=1 for details"),
      (2L, "mail me at first.last+tag@sub.example.org  today"),
      (3L, "  plain\t\ttext \n with   gaps  "),
      (4L, "http inside a word is kept: shttp://x stays-ish")).toDF("doc_id", "text")
    val out = rows.select($"doc_id", TextStats.cleanText($"text").as("c"))
      .orderBy("doc_id").as[(Long, String)].collect().map(_._2)
    assert(out(0) == "see for details")
    assert(out(1) == "mail me at today")
    assert(out(2) == "plain text with gaps")
    // 'shttp://x' — the regex matches the embedded http://x (no word
    // boundary anchor, same as C4's practice of nuking the whole token
    // is NOT done here); document the exact behavior:
    assert(out(3) == "http inside a word is kept: s stays-ish")
  }

  test("maxBucketSize guard skips degenerate LSH buckets (and only those)") {
    // 12 identical docs: every band bucket holds all 12 → capped out
    val same = (0L until 12L).map(i => (i, "the same exact boilerplate text repeated"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.minhashNearDupPairs(same, "doc_id", "text", threshold = 0.9)
    assert(uncapped.count() == 66, "12 identical docs -> C(12,2) pairs")
    val capped = Dedup.minhashNearDupPairs(same, "doc_id", "text",
      threshold = 0.9, maxBucketSize = 10)
    assert(capped.count() == 0, "all buckets exceed the cap")
    // a small near-dup cluster below the cap is unaffected
    val mixed = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "totally different words entirely here now")).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDupPairs(mixed, "doc_id", "text",
      threshold = 0.9, maxBucketSize = 10)
    assert(pairs.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq == Seq((1L, 2L)))
  }

  test("cdcChunks: boundaries are content-defined — a head insertion " +
      "re-synchronizes, identical passages share chunk hashes") {
    // 400 deterministic pseudo-random tokens; divisor 16 -> ~25 chunks
    val words = (0 until 400).map(i => s"t${(i * 2654435761L % 9973)}")
    val base = words.mkString(" ")
    val shifted = "xx yy zz " + base // 3-token head insertion
    val docs = Seq((1L, base), (2L, shifted)).toDF("doc_id", "text")
    val chunks = TextStats.cdcChunks(docs, "doc_id", "text",
        window = 4, divisor = 16L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    val c1 = chunks.filter(_._1 == 1L).sortBy(_._2)
    val c2 = chunks.filter(_._1 == 2L).sortBy(_._2)
    assert(c1.length > 5, s"expected many chunks, got ${c1.length}")
    // token counts reassemble losslessly
    assert(c1.map(_._3).sum == 400 && c2.map(_._3).sum == 403)
    // shift invariance: boundaries are local content, so after the
    // first shared boundary the two docs' chunk hash SETS overlap on
    // every later chunk — all of doc 1's chunks except (at most) its
    // first appear verbatim in doc 2
    val h1 = c1.map(_._4).toSet
    val h2 = c2.map(_._4).toSet
    assert((h1 -- h2).size <= 1,
      s"${(h1 -- h2).size} of ${h1.size} chunks lost after a head insertion")
    // determinism across layouts
    val again = TextStats.cdcChunks(docs.repartition(5), "doc_id", "text",
        window = 4, divisor = 16L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(again.sortBy(x => (x._1, x._2)).toSeq == chunks.sortBy(x => (x._1, x._2)).toSeq)
  }

  test("chunkDupRate: a passage shared at DIFFERENT offsets flags both " +
      "docs; disjoint docs read 0") {
    val shared = (0 until 120).map(i => s"s${(i * 7919) % 997}").mkString(" ")
    val docs = Seq(
      (1L, shared),                                  // the passage alone
      (2L, "pre1 pre2 pre3 pre4 pre5 " + shared),    // shifted by 5 tokens
      (3L, (0 until 120).map(i => s"u$i").mkString(" "))) // disjoint
      .toDF("doc_id", "text")
    val out = Dedup.chunkDupRate(docs, "doc_id", "text",
        window = 4, divisor = 8L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // CDC boundaries re-synchronize inside the shared passage, so both
    // carriers report duplicated chunks despite the offset
    assert(out(1L)._2 > 0 && out(2L)._2 > 0, out.toString)
    assert(out(1L)._3 > 0.5, s"most of doc 1 is the shared passage: $out")
    assert(out(3L)._2 == 0 && out(3L)._3 == 0.0)
    // rates are fractions of each doc's own chunk count
    assert(out.values.forall { case (n, d, r) => d <= n && r <= 1.0 })
  }

  test("chunkDocuments: window boundaries, overlap, and lossless reassembly") {
    val text = (1 to 25).map(i => s"w$i").mkString(" ") // 25 tokens
    val docs = Seq((1L, text), (2L, "short doc")).toDF("doc_id", "text")
    val chunks = TextStats.chunkDocuments(docs, "doc_id", "text",
        chunkSize = 10, overlap = 3)
      .orderBy("doc_id", "chunk_id").collect()
    // doc 1: stride 7 → chunks at 0,7,14 full + 21..25 short = ceil((25-10)/7)=3 extra
    val d1 = chunks.filter(_.getLong(0) == 1L)
    assert(d1.length == 4)
    assert(d1.map(_.getInt(3)).toSeq == Seq(10, 10, 10, 4))
    // consecutive chunks share exactly `overlap` tokens
    val t0 = d1(0).getString(2).split(" "); val t1 = d1(1).getString(2).split(" ")
    assert(t0.takeRight(3).sameElements(t1.take(3)))
    // dropping each chunk's first `overlap` tokens (except chunk 0)
    // reassembles the document exactly
    val reassembled = d1.zipWithIndex.flatMap { case (r, i) =>
      val ws = r.getString(2).split(" ").toSeq
      if (i == 0) ws else ws.drop(3)
    }
    assert(reassembled.mkString(" ") == text.toLowerCase)
    // short doc: one chunk, intact
    val d2 = chunks.filter(_.getLong(0) == 2L)
    assert(d2.length == 1 && d2.head.getString(2) == "short doc")
  }

  test("property: chunking is lossless and bounded for arbitrary (n, size, overlap)") {
    import org.scalacheck.{Gen, rng}
    val caseGen = for {
      n <- Gen.choose(1, 200)
      size <- Gen.choose(2, 25)
      overlap <- Gen.choose(0, size - 1)
    } yield (n, size, overlap)
    val cases = (1 to 12).map(s =>
      caseGen(Gen.Parameters.default, rng.Seed(s.toLong)).get)
    cases.foreach { case (n, size, overlap) =>
      val text = (0 until n).map(i => s"t$i").mkString(" ")
      val df = Seq((1L, text)).toDF("doc_id", "text")
      val chunks = TextStats.chunkDocuments(df, "doc_id", "text", size, overlap)
        .orderBy("chunk_id")
        .select("chunk_text", "n_chunk_tokens").as[(String, Int)].collect()
      val stride = size - overlap
      val expectedChunks =
        if (n <= size) 1 else 1 + math.ceil((n - size).toDouble / stride).toInt
      assert(chunks.length == expectedChunks, s"($n,$size,$overlap) count")
      assert(chunks.forall(_._2 <= size), s"($n,$size,$overlap) bound")
      val reassembled = chunks.zipWithIndex.flatMap { case ((t, _), i) =>
        val ws = t.split(" ").toSeq
        if (i == 0) ws else ws.drop(overlap)
      }
      assert(reassembled.mkString(" ") == text, s"($n,$size,$overlap) lossless")
    }
  }

  test("property: packGreedy covers each doc once within budget, bins contiguous") {
    import org.scalacheck.{Gen, rng}
    import graft.llm.Sampling
    (1 to 5).foreach { seed =>
      val sizes = Gen.listOfN(120, Gen.choose(1, 700))
        .apply(Gen.Parameters.default, rng.Seed(seed.toLong)).get
      val df = sizes.zipWithIndex.map { case (n, i) => (i.toLong, n) }
        .toDF("doc_id", "n_tokens")
      val out = Sampling.packGreedy(df, "doc_id", "n_tokens", 512, 4).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      assert(out.map(_._1).sorted.toSeq == (0L until 120L).toSeq, s"seed $seed coverage")
      out.groupBy(t => (t._3, t._4)).foreach { case (bin, m) =>
        val load = m.map(t => math.min(t._2, 512)).sum
        assert(load <= 512 || m.length == 1, s"seed $seed bin $bin load $load")
      }
      out.groupBy(_._3).foreach { case (b, rows) =>
        val bins = rows.map(_._4).distinct.sorted.toSeq
        assert(bins == (0 until bins.length).toSeq, s"seed $seed bucket $b bins $bins")
      }
    }
  }

  test("hashSplit: deterministic, append-stable, proportions near weights") {
    import graft.llm.Sampling
    val ids = (0L until 2000L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val s1 = Sampling.hashSplit(ids, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = s1.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(counts("train") - 1600L) < 100, counts.toString)
    assert(math.abs(counts("val") - 200L) < 60 && math.abs(counts("test") - 200L) < 60)
    assert(counts.values.sum == 2000L, "every doc lands in exactly one split")
    // append stability: assignments on a subset == the same rows' assignments
    // on the full set (membership is a pure function of id)
    val subset = Sampling.hashSplit(ids.where($"doc_id" < 500), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("doc_id", "split").orderBy("doc_id").collect().toSeq
    val fromFull = s1.where($"doc_id" < 500)
      .select("doc_id", "split").orderBy("doc_id").collect().toSeq
    assert(subset == fromFull)
  }

  test("stratifiedSample: per-stratum rates, rate-1 strata intact, deterministic") {
    import graft.llm.Sampling
    val rows = (0L until 3000L).map(i =>
      (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "fr"))
      .toDF("doc_id", "lang")
    val kept = Sampling.stratifiedSample(rows, "doc_id", "lang",
      Map("en" -> 0.2, "de" -> 1.0), defaultRate = 0.5)
    val by = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(by("de") == 1000L, "rate-1.0 stratum must be intact")
    assert(math.abs(by("en") - 200L) < 80, by.toString)   // 0.2 of 1000
    assert(math.abs(by("fr") - 500L) < 100, by.toString)  // default 0.5
    assert(kept.count() == Sampling.stratifiedSample(rows, "doc_id", "lang",
      Map("en" -> 0.2, "de" -> 1.0), defaultRate = 0.5).count())
  }

  test("packGreedy: budget respected, ids preserved, greedy-tight, partition-independent") {
    import graft.llm.Sampling
    val rnd = new scala.util.Random(31)
    val docs = (0L until 500L).map(i => (i, 50 + rnd.nextInt(900))) // some > maxTokens
    val df = docs.toDF("doc_id", "n_tokens")
    val packed = Sampling.packGreedy(df, "doc_id", "n_tokens",
      maxTokens = 512, nBuckets = 8)
    val rows = packed.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(rows.map(_._1).sorted.toSeq == (0L until 500L).toSeq, "every doc packed once")
    // per-bin budget: sum of min(n, maxTokens) <= maxTokens unless the
    // bin is a single oversized doc
    rows.groupBy(t => (t._3, t._4)).foreach { case (bin, members) =>
      val load = members.map(t => math.min(t._2, 512)).sum
      assert(load <= 512 || members.length == 1, s"bin $bin overloaded: $load")
    }
    // greedy tightness: within a bucket, the first doc of bin k+1 would
    // not have fit into bin k
    rows.groupBy(_._3).foreach { case (_, bucket) =>
      val byBin = bucket.groupBy(_._4).toSeq.sortBy(_._1)
      byBin.sliding(2).foreach {
        case Seq((_, prev), (_, next)) =>
          val prevLoad = prev.map(t => math.min(t._2, 512)).sum
          val firstNext = math.min(next.minBy(_._1)._2, 512)
          assert(prevLoad + firstNext > 512, "bin closed early")
        case _ =>
      }
    }
    // partition-independence: same assignment regardless of input layout
    val repart = Sampling.packGreedy(df.repartition(7), "doc_id", "n_tokens",
        maxTokens = 512, nBuckets = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(rows.sortBy(_._1).toSeq == repart.sortBy(_._1).toSeq)
  }

  test("repetition stats: dup/bullet/ellipsis lines, symbols, top 2-gram; gate filters") {
    val boiler = Seq(
      (1L, "normal prose with some variety in the words used here"),
      (2L, "menu\nmenu\nmenu\nmenu"),                        // 3/4 duplicate lines
      (3L, "- item one\n- item two\n* item three\nintro"),   // 3/4 bullets
      (4L, "read more...\nclick here…\nthe end"),            // 2/3 ellipsis
      (5L, "## # ## tags # here #"),                         // symbol-heavy
      (6L, "spam spam spam spam spam spam"))                 // one dominant 2-gram
      .toDF("doc_id", "text")
    val st = TextStats.repStatsUdf(col("text"), TextStats.tokens(col("text")))
    val r = boiler.withColumn("r", st).select("doc_id", "r.*")
      .orderBy("doc_id").collect()
    assert(r(0).getDouble(2) == 0.0 && r(0).getDouble(6) < 0.2) // clean doc
    assert(r(1).getDouble(2) == 0.75, "3 of 4 lines are duplicates")
    assert(r(2).getDouble(3) == 0.75, "3 of 4 lines are bullets")
    assert(r(3).getDouble(4) == 0.6667, "2 of 3 lines end in ellipsis")
    assert(r(4).getDouble(5) > 0.5, "symbol-to-word ratio is high")
    assert(r(5).getDouble(6) == 1.0, "every 2-gram is the same")
    val kept = TextStats.repetitionFilter(boiler, "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(1L)), s"only the clean doc survives: ${kept.toSeq}")
  }

  test("IVF plans without windows and with only broadcast+agg exchanges") {
    val rnd = new scala.util.Random(19)
    val corpus = (0L until 200L).map(i => (i, Seq.fill(16)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val q = corpus.where($"vec_id" < 5)
    val plan = Similarity.ivfTopK(corpus, q, "vec_id", "embedding", 5)
      .queryExecution.executedPlan.toString
    // cell assignment is a pure projection: no Window anywhere, and the
    // only exchanges are the probe broadcast and the final top-k agg.
    assert(!plan.contains("Window"), s"no window expected:\n$plan")
    val nExchanges = "Exchange".r.findAllIn(plan).length
    assert(nExchanges <= 3, s"assignment must not shuffle:\n$plan")
  }

  test("langId picks the language with most marker words; und when none") {
    val docs = Seq("the cat and the dog is here with us",
      "der hund und die katze ist mit uns",
      "xyzzy plugh").toDF("text")
    val out = docs.select(TextStats.langId(col("text"))).as[String].collect()
    assert(out.toSeq == Seq("en", "de", "und"))
  }

  test("langIdNgram classifies held-out sentences; und on empty/non-letter input") {
    // none of these sentences appear in the model's seed corpora
    val cases = Seq(
      ("the children were reading books in the library all afternoon", "en"),
      ("wir haben gestern einen langen brief an unsere großmutter geschrieben", "de"),
      ("nous avons mangé du pain avec du fromage dans le petit jardin", "fr"),
      ("los estudiantes escribieron una carta muy larga a su profesor", "es"),
      ("", "und"), ("12345 !!! ???", "und"))
    val out = cases.map(_._1).toDF("text")
      .select(TextStats.langIdNgramUdf(col("text"))).as[String].collect()
    assert(out.toSeq == cases.map(_._2))
    // deterministic across evaluations
    val again = cases.map(_._1).toDF("text")
      .select(TextStats.langIdNgramUdf(col("text"))).as[String].collect()
    assert(out.toSeq == again.toSeq)
  }

  test("NFC/NFKC normalization: composition, idempotence, compatibility folding") {
    val decomposed = "e\u0301cole" // e + combining acute U+0301
    val composed = "\u00e9cole"    // precomposed \u00e9
    val ligature = "\ufb01le"      // \ufb01 ligature: NFC keeps, NFKC folds to "fi"
    val rows = Seq(decomposed, composed, ligature, "")
      .toDF("t")
      .select(col("t"),
        TextStats.nfcNormalizeUdf(col("t")).as("nfc"),
        TextStats.nfkcNormalizeUdf(col("t")).as("nfkc"))
      .collect()
    assert(rows(0).getString(1) == composed && rows(0).getString(2) == composed)
    assert(rows(1).getString(1) == composed)
    assert(rows(2).getString(1) == ligature && rows(2).getString(2) == "file")
    assert(rows(3).getString(1) == "")
    // idempotent: normalizing a normalized string is a no-op
    val again = Seq(decomposed).toDF("t")
      .select(TextStats.nfcNormalizeUdf(TextStats.nfcNormalizeUdf(col("t"))))
      .as[String].head()
    assert(again == composed)
  }

  test("fingerprint is order-sensitive and stable") {
    val out = Seq("a b c", "c b a", "a b c").toDF("text")
      .select(TextStats.fingerprint(col("text"))).as[Long].collect()
    assert(out(0) == out(2) && out(0) != out(1))
    assert(out.forall(f => f >= 0 && f < 1000000007L))
  }

  test("quality score stays in [0,1] and rewards normal prose") {
    val docs = Seq(
      "The quick brown fox jumps over the lazy dog and runs to the old barn near the river in the morning light of a new day with friends.",
      "x").toDF("text")
    val out = docs.select(TextStats.qualityScore(col("text"))).as[Double].collect()
    assert(out.forall(q => q >= 0.0 && q <= 1.0) && out(0) > out(1))
  }

  test("docStatsUdf matches every expression-form metric bit-exactly") {
    val docs = Seq(
      "The quick brown fox jumps over the lazy dog and is in it to win",
      "der hund und die katze ist mit uns im haus und der garten heute",
      "le chat est avec la souris et le fromage est avec le pain",
      "",
      "x",
      "  leading and trailing whitespace padded text here  ",
      "supercalifragilisticexpialidocious antidisestablishmentarianism hi",
      "a b c d e f g h i j k l m n o p q r s t u v w x y z").toDF("text")
    val t = col("text")
    val both = docs.select(
      TextStats.docStatsUdf(TextStats.tokens(t), length(t)).as("u"),
      struct(
        TextStats.tokenCount(t).as("n_tokens"),
        TextStats.subwordCount(t).as("n_subwords"),
        length(t).as("n_chars"),
        TextStats.stopwordRatio(t).as("stopword_ratio"),
        TextStats.meanWordLen(t).as("mean_word_len"),
        TextStats.qualityScore(t).as("quality"),
        TextStats.langId(t).as("lang_pred"),
        TextStats.fingerprint(t).as("fingerprint")).as("e"))
    // struct equality is field-wise; doubles must be bit-identical
    assert(both.where(col("u") =!= col("e")).count() == 0,
      both.collect().mkString("\n"))
  }

  test("simhash32Udf matches the expression form bit-exactly") {
    val docs = Seq("one two three four five six", "the and of is with",
      "", "unique singular token").toDF("text")
    val both = docs.select(
      Dedup.simhash32Udf(TextStats.tokens(col("text"))).as("u"),
      Dedup.simhash32(TextStats.tokens(col("text"))).as("e"))
    assert(both.where(col("u") =!= col("e")).count() == 0)
  }

  test("exactDedup digest keying preserves per-text groups and output schema") {
    val docs = Seq((5L, "Hello World"), (3L, "hello  world"), (7L, "Hello World "))
      .toDF("doc_id", "text")
    // "Hello World" and "Hello World " normalize equal; "hello  world"
    // (two spaces) is a distinct normalized text.
    val out = Dedup.exactDedup(docs, "doc_id", "text")
      .orderBy("doc_id").as[(String, Long, Long)].collect()
    assert(out.toSeq == Seq(("hello  world", 3L, 1L), ("hello world", 5L, 2L)))
  }

  test("connectedComponents resolves chains, triangles, and distinct clusters") {
    // chain 1-2-3-4, triangle 10-11-12 (+ redundant edge), pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents agrees with driver-side BFS on a random graph") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
    // driver-side ground truth: union-find
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => n -> find(n)).toMap
    val out = Dedup.connectedComponents(edges.toDF("id_a", "id_b"), "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(out == expected)
  }

  test("connectedComponents localContract option: identical min-id labels " +
      "on random graphs, chains, and cross-partition families") {
    val rnd = new scala.util.Random(37)
    // random graph + a 200-node chain + planted 3-node families
    val edges = (Seq.fill(150)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
        .filter { case (a, b) => a != b } ++
      (1000L until 1199L).map(i => (i, i + 1)) ++
      (0 until 30).flatMap { f =>
        val b = 5000L + f * 10; Seq((b, b + 1), (b + 1, b + 2))
      }).toDF("id_a", "id_b")
    // deliberately scattered input partitioning: families straddle
    // partitions, so the star-edge path genuinely runs
    val scattered = edges.repartition(13)
    val plain = Dedup.connectedComponents(scattered, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    val contracted = Dedup.connectedComponents(scattered, "id_a", "id_b",
        localContract = true)
      .as[(Long, Long)].collect().toMap
    assert(contracted == plain && plain.nonEmpty)
    // chain label is its min; family labels are their bases
    assert(contracted(1199L) == 1000L)
    assert((0 until 30).forall(f => contracted(5000L + f * 10 + 2) == 5000L + f * 10))
  }

  test("connectedComponents honors explicit partitioning, converges in O(log d) rounds") {
    // 64-node chain (diameter 63): naive min propagation would need ~63
    // rounds; pointer jumping must stay logarithmic.
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val df = Dedup.connectedComponents(chain, "id_a", "id_b",
      numPartitions = Some(16))
    // wider than the old hardcoded 8-way coalesce
    assert(df.rdd.getNumPartitions > 8)
    assert(df.as[(Long, Long)].collect().toMap == (0L to 63L).map(_ -> 0L).toMap)
    val rounds = Dedup.lastCcRounds.get()
    assert(rounds <= 10, s"pointer jumping should need ~log2(63)+1 rounds, took $rounds")
  }

  test("connectedComponents reliable-checkpoint path: identical components, requires dir") {
    val rnd = new scala.util.Random(23)
    val edges = Seq.fill(80)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter { case (a, b) => a != b }.toDF("id_a", "id_b")
    // without a checkpoint dir the reliable option must fail loudly,
    // not silently degrade to executor-local checkpoints
    val saved = spark.sparkContext.getCheckpointDir
    if (saved.isEmpty)
      intercept[IllegalArgumentException](
        Dedup.connectedComponents(edges, "id_a", "id_b", reliableEvery = 2))
    spark.sparkContext.setCheckpointDir(tmpDir("cc-reliable-ckpt"))
    val reliable = Dedup.connectedComponents(edges, "id_a", "id_b",
        reliableEvery = 2).as[(Long, Long)].collect().toMap
    val local = Dedup.connectedComponents(edges, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(reliable == local, "reliable checkpointing changed the components")
  }

  test("connectedComponents supercritical skew: near convergence the " +
      "pointer-jump lookup goes BROADCAST (no comp-keyed shuffle left " +
      "to straggle on the giant component)") {
    // 97%-of-nodes giant component (a 12000-chain) + isolated pairs:
    // the r9 watch-item graph where one comp key ends up holding most
    // rows. The pointer-jump lookup is semi-filtered to referenced
    // labels and switches to an explicit BROADCAST once the measured
    // live-label census drops under broadcastLabels — asserted via the
    // per-round strategy markers. broadcastLabels = 4000 scales the
    // 100 TB size relationship into the fixture: early rounds
    // (node-scale label set) must NOT broadcast, late rounds must.
    val chain = (0L until 12000L).map(i => (i, i + 1))
    val pairs = (15000L until 15400L by 2).map(i => (i, i + 1))
    val edges = (chain ++ pairs).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(edges, "id_a", "id_b",
        broadcastLabels = 4000)
      .as[(Long, Long)].collect().toMap
    // correctness on the giant + the spokes
    assert((0L to 12000L).forall(out(_) == 0L), "giant component mislabeled")
    assert((15000L until 15400L by 2).forall(i =>
      out(i) == i && out(i + 1) == i), "isolated pairs mislabeled")
    val strategies = Dedup.lastCcJumpStrategies.get()
    assert(strategies.nonEmpty, "no per-round jump strategies recorded")
    assert(strategies.head == "smj",
      s"round 1's node-scale lookup must not broadcast " +
        s"(got ${strategies.head}; all: $strategies)")
    assert(strategies.last == "broadcast",
      s"near convergence the semi-filtered lookup must go broadcast " +
        s"(got ${strategies.last}; all: $strategies)")
    // default threshold (1M labels) broadcasts from round 2 on this
    // small graph — same labels either way
    val outDefault = Dedup.connectedComponents(edges, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(outDefault == out, "broadcast switch changed the labels")
    assert(Dedup.lastCcJumpStrategies.get().drop(1).forall(_ == "broadcast"),
      s"default threshold should broadcast every measured round: " +
        s"${Dedup.lastCcJumpStrategies.get()}")
  }

  test("dedupNearDup keeps one representative per near-dup cluster") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (4L, "completely unrelated text about distributed query engines and parquet files"),
      (5L, "another document with entirely different words in every position here"))
      .toDF("doc_id", "text")
    val kept = Dedup.dedupNearDup(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted
    // 1,2,3 form one cluster (1 kept); 4 and 5 are isolated.
    assert(kept.toSeq == Seq(1L, 4L, 5L))
  }

  test("unigramLmScore: uniform corpus scores log10(1/V) per token") {
    // 4 docs, each one distinct token => every token has c=1, N=4:
    // avg_logp = log10(1/4) for every doc.
    val docs = Seq((1L, "aa"), (2L, "bb"), (3L, "cc"), (4L, "dd"))
      .toDF("doc_id", "text")
    val out = TextStats.unigramLmScore(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    out.foreach { case (_, n, lp) =>
      assert(n == 1L)
      assert(math.abs(lp - (-0.6021)) < 1e-9, s"avg_logp $lp want -0.6021")
    }
  }

  test("unigramLmScore weights frequent tokens higher") {
    val docs = Seq((1L, "common common common"), (2L, "rare"))
      .toDF("doc_id", "text")
    // N=4; P(common)=3/4, P(rare)=1/4 => doc1 avg=log10(.75), doc2=log10(.25)
    val out = TextStats.unigramLmScore(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(out(0)._3 > out(1)._3)
    assert(math.abs(out(0)._3 - (-0.1249)) < 1e-9)
    assert(math.abs(out(1)._3 - (-0.6021)) < 1e-9)
  }

  test("quantizeInt8: exact scale and bounded reconstruction error") {
    val docs = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)), // zero vector: scale 0, err 0
      (3L, Seq(127.0f, -127.0f, 64.0f, 1.0f))) // integers: exact at scale 1
      .toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(docs, "vec_id", "embedding")
      .as[(Long, Int, Double, Double, Double)].collect().sortBy(_._1)
    val (_, d1, s1, mx1, _) = out(0)
    assert(d1 == 4 && math.abs(s1 - 1.0 / 127.0) < 1e-6) // output is round-6
    assert(mx1 <= s1 / 2 + 1e-12) // round-half-away error bound
    assert(out(1) == ((2L, 4, 0.0, 0.0, 0.0)))
    val (_, _, s3, mx3, me3) = out(2)
    assert(s3 == 1.0 && mx3 == 0.0 && me3 == 0.0)
  }

  test("BPE training picks the classic merges in deterministic order") {
    import graft.llm.Bpe
    // freqs: low×3, lower×2, newest×4, widest×1. Adjacent pair counts:
    // (w,e)=6, (l,o)=5, (o,w)=5, (e,s)=5, (s,t)=5, (n,e)=4, (e,w)=4, ...
    // merge 1 = (w,e); after it (l,o)=5,(s,t)=5 tie → lexicographic (l,o);
    // merge 3 = (s,t).
    val docs = Seq((1L, "low low low lower lower"),
      (2L, "newest newest newest newest widest")).toDF("doc_id", "text")
    val merges = Bpe.trainMerges(docs, "text", nMerges = 3)
    assert(merges == Seq(("w", "e"), ("l", "o"), ("s", "t")))
  }

  test("BPE merge application is greedy, non-overlapping, roundtrip-exact") {
    import graft.llm.Bpe
    assert(Bpe.mergeOnce(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    assert(Bpe.applyToWord("lowest",
      Seq(("w", "e"), ("l", "o"), ("s", "t"))) == Seq("lo", "we", "st"))
    // surrogate pair survives symbol splitting
    assert(Bpe.charsOf("a😀b") == Seq("a", "😀", "b"))
  }

  test("BPE tokenizeStats: compression + roundtrip on a real-ish corpus") {
    import graft.llm.Bpe
    val docs = Seq((1L, "the cat sat on the mat"), (2L, "the bat and the rat"),
      (3L, "that hat is the best hat"), (4L, "")).toDF("doc_id", "text")
    val merges = Bpe.trainMerges(docs, "text", nMerges = 10)
    val out = Bpe.tokenizeStats(docs, "doc_id", "text", merges)
      .as[(Long, Int, Long, Long, Boolean)].collect().sortBy(_._1)
    out.foreach { case (_, _, nSym, nTok, ok) =>
      assert(ok); assert(nTok <= nSym)
    }
    // "the" (freq 5) must have collapsed to a single token somewhere:
    assert(out.map(_._4).sum < out.map(_._3).sum)
    // empty doc: zero words, zero tokens, roundtrip trivially true
    assert(out.last == ((4L, 0, 0L, 0L, true)))
  }

  test("redactPii replaces emails and IPv4s, counts match") {
    val docs = Seq(
      (1L, "contact alice@example.com or 10.0.0.1 now"),
      (2L, "no pii here at all"),
      (3L, "bob@sub.domain.org and carol@x.io from 192.168.1.254"))
      .toDF("doc_id", "text")
    val out = TextStats.piiStats(docs, "doc_id", "text")
      .select("doc_id", "n_emails", "n_ipv4").as[(Long, Int, Int)]
      .collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 1, 1), (2L, 0, 0), (3L, 2, 1)))
    val red = docs.select(TextStats.redactPii(col("text"))).as[String]
      .collect().toSeq
    assert(red.contains("contact [EMAIL] or [IP] now"))
    assert(red.contains("[EMAIL] and [EMAIL] from [IP]"))
  }
}
