package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import graft.Portable

import TextStats.{portableHash, tokens, HashMod}

/** Deduplication operators for LLM training-data pipelines (SURVEY.md
  * §2.4): exact, MinHash+LSH near-dup, SimHash, n-gram Jaccard.
  *
  * Scale posture: exact dedup is one hash-shuffle; MinHash signatures are
  * pure column expressions (scan-bound, no shuffle); LSH banding turns
  * the quadratic all-pairs problem into a band-bucket equi-join — the
  * only shuffle is on band keys, and no cross join ever materializes.
  * The exact-Jaccard verify runs only on LSH candidates.
  */
object Dedup {

  /** Exact dedup: keep the lowest id per (normalized) text. The
    * aggregation is keyed on `sha2(norm_text, 256)` and carries ONLY
    * (min id, count) in its buffer — a string-valued buffer (the old
    * `min(norm_text)`) forces SortAggregate (two full-corpus sorts;
    * measured 2.5× slower end to end) where the long-only buffer
    * hash-aggregates with map-side combine and its exchange carries
    * 48-byte rows. Since every member of a digest group has the same
    * normalized text (modulo a 2^-128 collision), the output's
    * `norm_text` is recomputed from the winning document via a
    * join-back on (digest, id) — digest included so a non-unique id
    * can only ever match its OWN group's winner row. The join moves
    * each surviving document's text once (broadcast when the winner
    * set fits, shuffle otherwise) — output-sized, which no shape
    * avoids when the output carries the text.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = lower(trim(col(textCol)))
    val digest = sha2(norm, 256)
    val keep = df
      .groupBy(digest.as("_digest"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))
    df.withColumn("_digest", digest)
      .join(keep, Seq("_digest", idCol))
      // A corpus with EXACT duplicate rows sharing an id matches its
      // group's winner (digest, id) more than once; collapse back to
      // the one-row-per-digest contract. Deterministic: every matched
      // row projects identical (norm_text, id, dup_count).
      .dropDuplicates("_digest")
      .select(norm.as("norm_text"), col(idCol), col("dup_count"))
  }

  /** Materialize the deduplicated corpus: keep the lowest-id document of
    * each normalized-text group, carrying all columns. Two shuffles
    * (group-min + semi-join), neither moving document text: the group
    * key is the 32-byte sha2 digest and the semi-join key is the id.
    */
  def dedupedCorpus(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = df
      .groupBy(sha2(lower(trim(col(textCol))), 256).as("_digest"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Word n-gram shingles of a token array (n consecutive words joined by
    * a space). Empty if the doc has fewer than n words.
    */
  def shingles(words: Column, n: Int): Column =
    when(size(words) < n, array().cast("array<string>")).otherwise(
      transform(sequence(lit(1), size(words) - (n - 1)),
        i => concat_ws(" ", slice(words, i, lit(n)))))

  /** Same shingling as [[shingles]], compiled. The expression form runs
    * interpreted (higher-order functions sit outside whole-stage
    * codegen) at ~1.5 ms per document; this is ~100× faster and is what
    * the dedup pipelines use on the full-corpus path.
    */
  def shinglesUdf(n: Int): UserDefinedFunction = udf { (ws: Seq[String]) =>
    if (ws == null || ws.size < n) Seq.empty[String]
    else (0 to ws.size - n).map(i => ws.slice(i, i + n).mkString(" "))
  }

  /** Corpus-wide duplicated spans (the Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better" exact-substring
    * signal, bucketed at word granularity): every `widthWords`-word
    * window of the lowercased token stream, hashed; a span hash
    * appearing in ≥ 2 distinct documents marks boilerplate / licensing
    * headers / templated text that document-level dedup cannot see.
    *
    * Windows are anchored on WORD boundaries at every position, which
    * makes detection shift-invariant: however a duplicated run is
    * offset inside its document (extra prefix text, reflowed
    * whitespace), any shared run of ≥ widthWords words shares all its
    * full windows. (A previous revision used fixed character offsets —
    * document-start-aligned, so copies at offsets differing mod stride
    * shared no window and went undetected.)
    *
    * Returns (span_hash, n_docs, n_occ). Scale posture: only
    * (id, 60-bit hash) pairs enter the shuffle — document text never
    * moves; the group-by gets map-side partial aggregation; the window
    * pass is the same compiled shingle kernel the MinHash pipeline
    * runs. A full suffix-array pass is strictly stronger but needs a
    * global sort of the corpus; word-window bucketing is the standard
    * scalable approximation.
    */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      widthWords: Int = 8): DataFrame = {
    require(widthWords > 0, "widthWords must be positive")
    df.select(col(idCol).as("_id"),
        explode(shinglesUdf(widthWords)(TextStats.tokens(col(textCol)))).as("_s"))
      .select(col("_id"), TextStats.portableHash(col("_s")).as("span_hash"))
      .groupBy(col("span_hash"))
      .agg(countDistinct(col("_id")).as("n_docs"), count(lit(1)).as("n_occ"))
      .where(col("n_docs") >= 2)
  }

  /** Chunk-level duplication rate — the granularity between document-
    * level exact dedup and span-level [[duplicatedSpans]]: documents
    * are cut into content-defined chunks
    * ([[TextStats.cdcChunks]] — shift-invariant boundaries, so a
    * passage shared at DIFFERENT offsets still yields identical chunk
    * hashes), a corpus census marks every chunk appearing in ≥ 2
    * distinct documents, and each document reports what fraction of
    * its chunks is duplicated — the "mostly boilerplate?" signal
    * driving partial-dedup decisions.
    *
    * Scale shape: the chunking pass is per-doc local; only
    * (id, chunk_hash) longs ride the census shuffle and the flag
    * join — text never moves.
    *
    * Returns `(id, n_chunks, n_dup_chunks, dup_rate)`.
    */
  def chunkDupRate(df: DataFrame, idCol: String, textCol: String,
                   window: Int = 8, divisor: Long = 64L): DataFrame = {
    val chunks = TextStats.cdcChunks(df, idCol, textCol, window, divisor)
      .localCheckpoint() // read by the census AND the flag join
    val dup = chunks.groupBy(col("chunk_hash"))
      .agg(countDistinct(col(idCol)).as("_nd"))
      .where(col("_nd") >= 2)
      .select(col("chunk_hash"))
    chunks.join(dup.withColumn("_dup", lit(1L)), Seq("chunk_hash"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        coalesce(sum(col("_dup")), lit(0L)).as("n_dup_chunks"))
      .select(col(idCol), col("n_chunks"), col("n_dup_chunks"),
        graft.Portable.round(col("n_dup_chunks").cast("double") /
          col("n_chunks").cast("double"), 4).as("dup_rate"))
  }


  /** Per-document n-gram NOVELTY: the fraction of a document's DISTINCT
    * word `n`-grams appearing in no other document — the inverse of the
    * duplication signal ([[duplicatedSpans]] finds what is shared; this
    * scores what is not), the standard diversity/memorization-risk
    * metric of the dedup literature (Lee et al. 2022 report models
    * regenerate exactly the low-novelty tail). Returns
    * (idCol, n_grams, n_novel, novelty_frac) for every document with at
    * least one n-gram; `novelty_frac` is rounded to 4 decimals for
    * cross-engine parity (q8E).
    *
    * Scale posture: only (id, 60-bit hash) pairs shuffle — text never
    * leaves the scan. Singleton grams are attributed to their one owner
    * via `min(id)` INSIDE the census aggregation, so novelty needs no
    * second corpus-wide join: the novel-count shuffle carries at most
    * one row per singleton gram, keyed by document. The distinct-pair
    * set feeds both the census and the per-doc totals, so it is
    * materialized ONCE (the [[removeDuplicatedSpans]] convention — the
    * planner does NOT dedupe the two identical subtrees; verified on
    * the executed q8E plan): `localCheckpoint` by default,
    * `reliableCheckpoint = true` (requires `setCheckpointDir`) for
    * fault-tolerant storage on a real cluster.
    */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 5, reliableCheckpoint: Boolean = false): DataFrame = {
    require(n > 0, "n must be positive")
    require(!reliableCheckpoint ||
      df.sparkSession.sparkContext.getCheckpointDir.nonEmpty,
      "reliableCheckpoint = true needs a reliable checkpoint dir: call " +
        "spark.sparkContext.setCheckpointDir(<fault-tolerant path>) first")
    val pairsPlan = df.select(col(idCol).cast("long").as("_id"),
        explode(shinglesUdf(n)(tokens(col(textCol)))).as("_s"))
      .select(col("_id"), portableHash(col("_s")).as("_h"))
      .distinct()
    val pairs =
      if (reliableCheckpoint) pairsPlan.checkpoint() else pairsPlan.localCheckpoint()
    val novel = pairs.groupBy(col("_h"))
      .agg(count(lit(1)).as("_df"), min(col("_id")).as("_owner"))
      .where(col("_df") === 1)
      .groupBy(col("_owner").as("_id"))
      .agg(count(lit(1)).as("n_novel"))
    pairs.groupBy(col("_id")).agg(count(lit(1)).as("n_grams"))
      .join(novel, Seq("_id"), "left")
      .select(col("_id").as(idCol), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        Portable.round(
          coalesce(col("n_novel"), lit(0L)) / col("n_grams"), 4)
          .as("novelty_frac"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003
    * §4 — the MOSS algorithm): hash every word `k`-gram, slide a
    * `window`-wide window over the hash sequence, and keep the MINIMUM
    * hash of each window (the set form; distinct per document). The
    * winnowing guarantee: any shared run of at least `window + k − 1`
    * tokens between two documents is certain to share at least one
    * selected fingerprint — local, position-robust dedup/plagiarism
    * candidates at a density of ~2/(window+1) of the full gram set.
    *
    * One codegen'd pass per document (gram hashes + window minima are
    * array expressions — no UDF in the hot path beyond the shared
    * shingle kernel); only distinct (id, 60-bit hash) rows leave the
    * scan, the standard posture of the dedup family. Documents shorter
    * than `window + k − 1` tokens emit nothing.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 5, window: Int = 4): DataFrame = {
    require(k > 0, "k must be positive")
    require(window > 0, "window must be positive")
    val hs = transform(shinglesUdf(k)(tokens(col(textCol))),
      s => portableHash(s))
    df.select(col(idCol), hs.as("_hs"))
      .where(size(col("_hs")) >= window)
      .select(col(idCol),
        explode(array_distinct(transform(
          sequence(lit(0), size(col("_hs")) - window),
          i => array_min(slice(col("_hs"), i + lit(1), lit(window))))))
          .as("fp_hash"))
  }

  /** The exact-substring-dedup TRANSFORM (Lee et al. 2022 §4.2 applied
    * at word-window granularity): [[duplicatedSpans]] DETECTS corpus-
    * duplicated windows; this REMOVES them — every token covered by a
    * `widthWords`-window whose hash appears in ≥ `minDocs` distinct
    * documents is cut, and the document's text is rebuilt from the
    * surviving tokens (whitespace-normalized: the output joins the
    * tokenizer's tokens with single spaces, for every document).
    * Returns (idCol, clean_text, n_removed) for ALL documents —
    * untouched ones keep n_removed = 0.
    *
    * Scale posture: span detection shuffles only (id, position, 60-bit
    * hash) rows — text never rides it; covered positions fold to one
    * per-document array bounded by document length; the single
    * text-keyed shuffle is the final id join of those arrays back to
    * the documents, which any global rewrite needs (AQE broadcasts the
    * covered side when boilerplate is rare). The cut itself is one
    * compiled pass per document.
    */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                            widthWords: Int = 8, minDocs: Int = 2): DataFrame = {
    require(widthWords > 0, "widthWords must be positive")
    require(minDocs >= 2, "minDocs < 2 would delete every document's every span")
    val toks = df.select(col(idCol).as("_id"), TextStats.tokens(col(textCol)).as("_ws"))
    // (id, 1-based window start, span hash) — posexplode is 0-based.
    // Materialized ONCE (the minhashNearDupPairs convention): the dup
    // census and the coverage join both consume it, and without the
    // checkpoint the expensive shingle pass would re-run per branch.
    val spans = toks
      .select(col("_id"), posexplode(shinglesUdf(widthWords)(col("_ws"))))
      .select(col("_id"), (col("pos") + 1).cast("int").as("_start"),
        TextStats.portableHash(col("col")).as("_h"))
      .localCheckpoint()
    val dupHashes = spans.groupBy(col("_h"))
      .agg(countDistinct(col("_id")).as("_nd"))
      .where(col("_nd") >= minDocs)
      .select("_h")
    val covered = spans.join(dupHashes, Seq("_h"), "left_semi")
      .select(col("_id"),
        explode(sequence(col("_start"), col("_start") + (widthWords - 1))).as("_p"))
      .groupBy(col("_id"))
      .agg(collect_set(col("_p")).as("_cov")) // order is never observed
    val cut = udf { (ws: Seq[String], cov: Seq[Int]) =>
      // null text → "" — matches the oracle's coalesce(array_to_string
      // (NULL…), ''), so both engines emit the same row for null docs
      if (ws == null) ""
      else if (cov == null || cov.isEmpty) ws.mkString(" ")
      else {
        val drop = cov.toSet
        val b = new StringBuilder
        var i = 0
        var first = true
        // separator handling must mirror mkString(" ") exactly: a kept
        // EMPTY token (leading-whitespace text) still claims its
        // separator, or the q8B full-text hash diverges cross-engine
        ws.foreach { w =>
          i += 1
          if (!drop(i)) {
            if (first) first = false else b.append(' ')
            b.append(w); ()
          }
        }
        b.toString
      }
    }
    toks.join(covered, Seq("_id"), "left")
      .select(col("_id").as(idCol),
        cut(col("_ws"), col("_cov")).as("clean_text"),
        coalesce(size(col("_cov")), lit(0)).cast("int").as("n_removed"))
  }

  /** Benchmark decontamination: flag corpus documents sharing any word
    * `shingleN`-gram with a held-out benchmark set (the standard
    * n-gram-overlap contamination check run before training). Returns
    * (idCol, n_contaminated) — the count of DISTINCT shared n-grams per
    * flagged document; clean documents are absent.
    *
    * Scale posture: both sides reduce to (id, 60-bit gram hash) before
    * any join; the benchmark gram set is tiny next to the corpus, so
    * the semi-join broadcasts. Corpus text never shuffles.
    */
  /** (id, 60-bit gram hash) projection shared by the decontamination
    * paths — one definition so the tokenizer/hash can never drift
    * between the exact and bloom-prefiltered variants.
    */
  /** (_id, gram_hash) — exposed within the library for external gram-
    * state maintenance (the streaming decontaminating ingest keeps its
    * history as these hashes so text is tokenized exactly once).
    */
  private[graft] def textGramHashes(df: DataFrame, idCol: String,
                                    textCol: String,
                                    shingleN: Int): DataFrame =
    gramHashes(df, idCol, textCol, shingleN)

  private def gramHashes(df: DataFrame, idCol: String, textCol: String,
                         shingleN: Int): DataFrame = df
    .select(col(idCol).as("_id"),
      explode(shinglesUdf(shingleN)(TextStats.tokens(col(textCol)))).as("_g"))
    .select(col("_id"), TextStats.portableHash(col("_g")).as("gram_hash"))

  def decontaminate(corpus: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, shingleN: Int = 5): DataFrame = {
    gramHashes(corpus, idCol, textCol, shingleN).distinct()
      .join(gramHashes(bench, idCol, textCol, shingleN)
        .select("gram_hash").distinct(), Seq("gram_hash"), "left_semi")
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_contaminated"))
      .withColumnRenamed("_id", idCol)
  }

  /** [[decontaminate]] behind a BLOOM-FILTER prefilter — the
    * blocklist-at-scale shape. The benchmark's n-gram set compiles to a
    * compact bitmap via Spark's native `BloomFilterAggregate`, and the
    * bitmap ships in the plan as a literal probed by the codegen'd
    * `BloomFilterMightContain` (the same expression pair Spark's
    * runtime row-level join filtering uses). The probe runs SCAN-SIDE,
    * BEFORE any shuffle: only bloom hits enter the (id, gram) distinct
    * and the exact verify, so the exact path's corpus-scale gram
    * shuffle shrinks to candidate grams — at 100 TB the difference
    * between shuffling every 5-gram of the corpus and shuffling the
    * contaminated sliver. Blooms never false-negative and the exact
    * semi-join verify kills their false positives, so the output is
    * row-identical to [[decontaminate]] (q8A shares q72's oracle).
    *
    * @param fpp false-positive rate of the prefilter: trades bitmap
    *        size (~1.44·log2(1/fpp) bits per benchmark gram; 1e-3 ≈
    *        14.4 bits ≈ 1.8 MB per million grams) against wasted exact
    *        verification of false-positive candidates.
    */
  def bloomDecontaminate(corpus: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, shingleN: Int = 5,
                         fpp: Double = 0.001): DataFrame = {
    // benchmark side: small by definition; materialized once, consumed
    // by the count, the bloom build, and the exact verify
    val benchGrams = gramHashes(bench, idCol, textCol, shingleN)
      .select("gram_hash").distinct().localCheckpoint()
    decontaminateAgainstHashes(corpus, benchGrams, idCol, textCol,
      shingleN, fpp)
  }

  /** [[bloomDecontaminate]] against a PRE-COMPUTED distinct gram-hash
    * frame (`gram_hash: LONG`) — the streaming-ingest entry point
    * ([[graft.streaming.Ingest]]'s decontaminating writer), where the
    * "benchmark" is the accumulated gram table of everything already
    * ingested and is maintained incrementally instead of being re-
    * tokenized from raw history text per micro-batch. An EMPTY hash
    * set returns no flagged rows (nothing to contaminate against).
    */
  def decontaminateAgainstHashes(corpus: DataFrame, benchGrams: DataFrame,
                                 idCol: String, textCol: String,
                                 shingleN: Int = 5,
                                 fpp: Double = 0.001): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1), got $fpp")
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val B = org.apache.spark.sql.graft.ColumnBridge
    val rawGrams = benchGrams.count()
    if (rawGrams == 0L)
      return corpus.select(col(idCol)).limit(0)
        .withColumn("n_contaminated", lit(0L))
    val nGrams = math.max(rawGrams, 1L)
    val numBits = math.max(64L,
      math.ceil(nGrams * math.log(1.0 / fpp) / (math.log(2) * math.log(2))).toLong)
    // BloomFilterAggregate SILENTLY clamps its size to these confs
    // (Math.min before its own require, so the clamp never errors): a
    // benchmark past the cap would saturate the bitmap and quietly
    // realize a far worse false-positive rate than `fpp` — fail loudly
    // instead and let the caller raise the confs or the fpp.
    val sconf = corpus.sparkSession.conf
    val maxItems = sconf.get(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000").toLong
    val maxBits = sconf.get(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
    require(nGrams <= maxItems && numBits <= maxBits,
      s"benchmark gram set needs $nGrams items / $numBits bits at fpp=$fpp, " +
        s"over the silent BloomFilterAggregate caps ($maxItems items / $maxBits " +
        "bits): raise spark.sql.optimizer.runtime.bloomFilter.maxNumItems/" +
        "maxNumBits or use a larger fpp")
    val bloomBytes = benchGrams
      .select(B.column(new BloomFilterAggregate(
          B.expression(xxhash64(col("gram_hash"))),
          Literal(nGrams), Literal(numBits))
        .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    val mightContain = B.column(BloomFilterMightContain(
      Literal.create(bloomBytes, org.apache.spark.sql.types.BinaryType),
      B.expression(xxhash64(col("gram_hash")))))
    gramHashes(corpus, idCol, textCol, shingleN)
      .where(mightContain) // scan-side prefilter: shuffles candidates only
      .distinct()
      // exact FP kill; explicit broadcast — the checkpointed bench side
      // reports unknown stats, so static planning would SMJ without it
      .join(broadcast(benchGrams), Seq("gram_hash"), "left_semi")
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_contaminated"))
      .withColumnRenamed("_id", idCol)
  }

  /** MinHash permutation constants: k pairs (a_i, b_i) for
    * h_i(x) = (a_i * x + b_i) mod (2^31-1). Deterministic, seeded.
    */
  def minhashCoeffs(k: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(k)((rnd.nextInt(Int.MaxValue - 1).toLong + 1L,
      rnd.nextInt(Int.MaxValue).toLong))
  }

  /** k-column MinHash signature over a PRE-HASHED shingle array (see
    * [[shingleHashes]]). Taking the hash array as input (rather than
    * hashing inside) matters: higher-order functions run outside
    * whole-stage codegen, so there is no common-subexpression
    * elimination — if the md5 hashing were inlined here it would be
    * evaluated k times per document.
    */
  def minhashSignatureFromHashes(hs: Column, k: Int): Column = {
    val mins = minhashCoeffs(k).map { case (a, b) =>
      array_min(transform(hs, h => (lit(a) * h + lit(b)) % HashMod))
    }
    array(mins: _*)
  }

  /** Portable hashes of a shingle array (one md5 per element). */
  def shingleHashes(shinglesCol: Column): Column =
    transform(shinglesCol, s => portableHash(s) % HashMod)

  /** JVM-side 60-bit md5 hash — see [[TextStats.hash60]]. */
  private def hash60(md: java.security.MessageDigest, s: String): Long =
    TextStats.hash60(md, s)

  /** MinHash signature as a compiled JVM function. Semantically identical
    * to [[minhashSignatureFromHashes]]∘[[shingleHashes]] (same md5, same
    * coefficients, same mod), but one tight loop instead of k interpreted
    * array traversals — higher-order expressions run outside whole-stage
    * codegen, which makes the expression form ~100× slower per document.
    */
  def minhashSignatureUdf(k: Int): UserDefinedFunction = {
    val coeffs = minhashCoeffs(k).toArray
    udf { (sh: Seq[String]) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val mins = Array.fill(k)(Long.MaxValue)
      sh.foreach { s =>
        val h = hash60(md, s) % HashMod
        var i = 0
        while (i < k) {
          val v = (coeffs(i)._1 * h + coeffs(i)._2) % HashMod
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      mins
    }
  }

  /** k-column MinHash signature over a shingle array. Prefer computing
    * [[shingleHashes]] as its own projected column and calling
    * [[minhashSignatureFromHashes]] — see that method's codegen note.
    */
  def minhashSignature(shinglesCol: Column, k: Int): Column =
    minhashSignatureFromHashes(shingleHashes(shinglesCol), k)

  /** LSH band keys: split the signature into `bands` bands of
    * `rowsPerBand` and hash each band. Two docs share a band key iff
    * their signature agrees on that whole band.
    */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      concat_ws("|", lit(b.toString),
        md5(concat_ws(":", slice(sig, b * rowsPerBand + 1, rowsPerBand))))
    }: _*)

  /** Exact Jaccard similarity of two string arrays (as sets). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0.0, lit(0.0)).otherwise(inter / uni)
  }

  /** MinHash + LSH near-duplicate pairs.
    *
    * Pipeline: tokenize → shingle → MinHash signature (k hashes) → LSH
    * band keys → explode bands → self-equi-join on band key (id_a < id_b)
    * → distinct candidate pairs → exact-Jaccard verify ≥ threshold.
    *
    * Returns (id_a, id_b, jaccard). Candidates-only verification keeps
    * the join linear in (docs × bands), never quadratic in corpus size.
    *
    * Tuning (bands, rows): with `rows = k / bands` signature rows per
    * band, a pair at Jaccard J becomes a candidate with probability
    * `1 − (1 − J^rows)^bands` — the LSH s-curve, whose inflection sits
    * at `J* ≈ (1/bands)^(1/rows)`. The defaults (k=32, bands=8,
    * rows=4) put J* ≈ 0.59: right for ≥0.5-threshold dedup, but a pair
    * at J = 0.8 (a mid-document edit on a ~30-token doc) is still
    * missed with probability (1 − 0.8⁴)^8 ≈ 1%, which is quiet
    * eval-into-train leakage when this feeds
    * [[Sampling.leakageFreeSplit]].
    * For that consumer, widen to bands=16/rows=2 (J* = 0.25): the same
    * J = 0.8 pair is missed with probability (1 − 0.64)¹⁶ ≈ 1e-7, at
    * the cost of more (exactly-verified) candidates. The false-
    * candidate floor also drops to J*, so pair cost grows — the
    * operating point is a recall/cost dial, gated at scale by
    * `tools.CurationScaleCheck` (0 straddled families at the declared
    * point).
    *
    * @param bands number of LSH bands; `k` must divide evenly into
    *   them (`rows = k / bands` exactly)
    * @param maxBucketSize skip band buckets larger than this before the
    *   quadratic in-bucket pair expansion — the standard LSH guard
    *   against degenerate buckets (boilerplate shingles, empty-ish
    *   docs) whose n² pairs would dominate at corpus scale. Skipped
    *   buckets lose recall only for documents that share NO other
    *   small bucket. Default: unbounded (exact banding semantics).
    */
  /** Scan-parallelism floor for an expensive per-row text pass (guide
    * §2.5 "input skew — repartition immediately after the read"): the
    * testdata tables are single-row-group parquet files, so a scan
    * arrives as ONE task and the tokenize+shingle+signature kernel
    * serializes on one core while the rest idle — `maxPartitionBytes`
    * cannot split inside a row group. When the plan has fewer
    * partitions than the default parallelism, hash-repartition on the
    * (unique) id column — deterministic, no pre-sort; any at-scale
    * scan (thousands of row groups) already exceeds the floor, so
    * nothing extra ever shuffles there.
    */
  private[graft] def scanParallel(df: DataFrame, key: Column): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target, key)
  }

  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          shingleN: Int = 3, k: Int = 32, bands: Int = 8,
                          threshold: Double = 0.5,
                          maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(bands > 0 && k % bands == 0,
      s"k=$k must split evenly into bands=$bands (rows = k / bands)")
    val rows = k / bands
    // Slim docs: (id, shingles). Shingle arrays are only ever joined to
    // the FINAL candidate pairs — never shuffled through the band join.
    // The signature pass runs above the scan-parallelism floor: its
    // input is two slim columns, its kernel is the expensive part.
    val docs = scanParallel(
      df.select(col(idCol).cast("long").as("id"), col(textCol).as("_t")),
      col("id"))
      .select(col("id"), shinglesUdf(shingleN)(tokens(col("_t"))).as("sh"))
      .where(size(col("sh")) > 0)
    // (band, id) pairs only: 8 small rows per doc; the shuffle moves two
    // columns, never documents. Candidate pairs come from ONE
    // groupBy(band) + within-bucket pair expansion (buckets are near-dup
    // clusters — tiny by construction) instead of a band self-join, so
    // the signature pipeline is evaluated once, not once per join side.
    val banded = docs
      .select(col("id"), explode(lshBandKeys(
        minhashSignatureUdf(k)(col("sh")), bands, rows)).as("band"))
    val cand = banded.groupBy(col("band"))
      .agg(collect_list(col("id")).as("ids"))
      .where(size(col("ids")) > 1 && size(col("ids")) <= maxBucketSize)
      .select(explode(flatten(transform(col("ids"), x =>
        transform(filter(col("ids"), y => y > x),
          y => struct(x.as("id_a"), y.as("id_b")))))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
      // Candidate pairs are small (near-dup clusters); materialize them
      // once so the banding pipeline isn't re-evaluated per downstream
      // branch (it feeds three subtrees below).
      .localCheckpoint()
    // Exact-Jaccard verify on candidates only. Shingles for the verify
    // side are recomputed ONLY for candidate docs (semi-join first), so
    // the full-corpus tokenize+shingle pass runs exactly once (banding)
    // rather than once per join side.
    val candIds = cand
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    val candDocs = df
      .select(col(idCol).cast("long").as("id"), col(textCol).as("_text"))
      .join(candIds, Seq("id"), "left_semi")
      .select(col("id"), shinglesUdf(shingleN)(tokens(col("_text"))).as("sh"))
    cand
      .join(candDocs.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(candDocs.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), Portable.round(col("jaccard"), 4).as("jaccard"))
  }

  /** Cross-corpus near-dup join: every `incoming` document paired with
    * its verified near-dups in `history` — the "is today's crawl
    * already in the corpus?" batch operator (the streaming sibling is
    * [[graft.streaming.Ingest.startNearDupIngest]]; within-corpus
    * pairs are [[minhashNearDupPairs]]'s job, not this one's).
    *
    * Scale shape: the HISTORY side contributes exactly one slim
    * (band, id) table — one tokenize+shingle+signature pass, no
    * history self-pairing, and at an established corpus this table is
    * precisely the per-batch `bands/` state the streaming ingest
    * already persists, so a deployment joins against the stored bands
    * without touching history text. The incoming side (a crawl DAY vs
    * a corpus HISTORY — orders of magnitude smaller) is BROADCAST into
    * the band join, so history never shuffles. Exact-Jaccard verify
    * recomputes shingles for CANDIDATE docs only, history side via a
    * broadcast semi-join of candidate ids.
    *
    * @return (hist_id, new_id, jaccard) — verified pairs at
    *         `jaccard >= threshold`, round-4.
    */
  def crossCorpusNearDupPairs(incoming: DataFrame, history: DataFrame,
                              idCol: String, textCol: String,
                              shingleN: Int = 3, k: Int = 32,
                              bands: Int = 8,
                              threshold: Double = 0.5): DataFrame = {
    require(bands > 0 && k % bands == 0,
      s"k=$k must split evenly into bands=$bands (rows = k / bands)")
    val rows = k / bands
    def banded(df: DataFrame): DataFrame = scanParallel(
      df.select(col(idCol).cast("long").as("id"), col(textCol).as("_t")),
      col("id"))
      .select(col("id"), shinglesUdf(shingleN)(tokens(col("_t"))).as("sh"))
      .where(size(col("sh")) > 0)
      .select(col("id"), explode(lshBandKeys(
        minhashSignatureUdf(k)(col("sh")), bands, rows)).as("band"))
    val cand = banded(history).select(col("band"), col("id").as("hist_id"))
      .join(broadcast(banded(incoming)
        .select(col("band"), col("id").as("new_id"))), Seq("band"))
      .select(col("hist_id"), col("new_id")).distinct()
      .localCheckpoint() // candidates are small; feeds three subtrees
    def candShingles(df: DataFrame, side: String): DataFrame = df
      .select(col(idCol).cast("long").as(side), col(textCol).as("_text"))
      .join(broadcast(cand.select(col(side)).distinct()), Seq(side), "left_semi")
      .select(col(side),
        shinglesUdf(shingleN)(tokens(col("_text"))).as(s"sh_$side"))
    cand
      .join(candShingles(history, "hist_id"), Seq("hist_id"))
      .join(candShingles(incoming, "new_id"), Seq("new_id"))
      .withColumn("jaccard", jaccard(col("sh_hist_id"), col("sh_new_id")))
      .where(col("jaccard") >= threshold)
      .select(col("hist_id"), col("new_id"),
        Portable.round(col("jaccard"), 4).as("jaccard"))
  }

  /** 32-bit SimHash over token hashes: bit j of the fingerprint is 1 iff
    * the sum over tokens of ±1 votes (sign of bit j of the token hash)
    * is positive. Pure expression, no shuffle.
    */
  def simhash32(words: Column): Column =
    simhash32FromHashes(transform(words, w => portableHash(w)))

  /** SimHash over a pre-hashed word array — compute the hash array as
    * its own projected column first (same codegen/CSE caveat as
    * [[minhashSignatureFromHashes]]: inlined, the md5 pass would run
    * 32 times per document).
    */
  def simhash32FromHashes(hs: Column): Column = {
    val bitSums: Seq[Column] = (0 until 32).map { j =>
      aggregate(hs, lit(0L), (acc, h) =>
        acc + when(shiftright(h, j).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
    }
    bitSums.zipWithIndex.map { case (s, j) =>
      when(s > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** SimHash as a compiled JVM function over the token array —
    * bit-identical to [[simhash32]] (same md5 word hashes, same ±1 bit
    * votes), but one loop per document instead of 32 interpreted
    * aggregates (the same codegen gap [[minhashSignatureUdf]] closes).
    */
  val simhash32Udf: UserDefinedFunction = udf { (ws: Seq[String]) =>
    val md = java.security.MessageDigest.getInstance("MD5")
    val sums = new Array[Long](32)
    ws.foreach { w =>
      val h = hash60(md, w)
      var j = 0
      while (j < 32) { sums(j) += (if (((h >> j) & 1L) == 1L) 1L else -1L); j += 1 }
    }
    var sig = 0L
    var j = 0
    while (j < 32) { if (sums(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }

  /** SimHash near-dup candidates: pairs within `maxHamming` bits.
    * Blocking: split the 32-bit simhash into (maxHamming+1) bands — by
    * pigeonhole, any pair within maxHamming agrees on at least one whole
    * band — then bucket by (band index, band value) and expand pairs
    * within each bucket (the [[minhashNearDupPairs]] shape: the
    * signature pipeline is evaluated ONCE, a band self-join would
    * re-evaluate it per side, and the dedup `distinct` carries only
    * (id_a, id_b, hamming), never signatures or documents).
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3): DataFrame = {
    val nBands = maxHamming + 1
    val width = 32 / nBands
    // null text carries no signal for near-dup detection; drop it before
    // the compiled kernel (whose Seq argument would otherwise NPE)
    val withSig = df.where(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        simhash32Udf(tokens(col(textCol))).as("sig"))
    val bandArr = array((0 until nBands).map { b =>
      concat_ws("|", lit(b.toString),
        shiftright(col("sig"), b * width).bitwiseAND((1L << width) - 1).cast("string"))
    }: _*)
    withSig
      .select(struct(col("id"), col("sig")).as("v"), explode(bandArr).as("band"))
      .groupBy(col("band"))
      .agg(collect_list(col("v")).as("vs"))
      .where(size(col("vs")) > 1)
      .select(explode(flatten(transform(col("vs"), x =>
        transform(filter(col("vs"), y => y.getField("id") > x.getField("id")),
          y => struct(
            x.getField("id").as("id_a"),
            y.getField("id").as("id_b"),
            bit_count(x.getField("sig").bitwiseXOR(y.getField("sig"))).as("hamming")))))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.hamming").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Connected components of an undirected pair graph — the cluster-
    * resolution step after near-dup pair detection ([[minhashNearDupPairs]]
    * / [[simhashNearDupPairs]] emit PAIRS; dedup needs GROUPS: {A~B, B~C}
    * must collapse to one cluster {A,B,C} with one kept representative).
    *
    * Algorithm: distributed min-label propagation with pointer jumping
    * (the "hash-to-min" family — Rastogi et al. 2012). Each round:
    *   1. every node takes the min label over itself and its neighbors
    *      (one equi-join + partial-agg min on the label frame);
    *   2. pointer jump: label ← label(label) (one self-join), which
    *      halves chain depths so convergence is O(log d) rounds, not
    *      O(diameter).
    * Each round runs as ONE Spark action (the eager checkpoint that
    * truncates the iterative lineage): convergence is detected by a
    * changed-label accumulator folded into that same materialization —
    * no separate per-round aggregate job. Task retries can only
    * over-count `changed` (forcing one extra round, which then counts
    * zero), never under-count, so termination is exact.
    *
    * Scale posture: the iterated frame is one row per node OF THE PAIR
    * GRAPH (near-dup docs only — orders of magnitude smaller than the
    * corpus); the static edge list is checkpointed once; every round is
    * two shuffles on (node, label) pairs, with AQE sizing the shuffle
    * partitioning from actual bytes (billions of edges fan out across
    * the cluster; fixture-scale graphs coalesce to a few partitions) —
    * no hardcoded width. Nothing is ever quadratic and nothing collects
    * to the driver except the per-round accumulator value.
    *
    * Checkpoint durability: per-round materialization defaults to
    * `localCheckpoint` — executor-local blocks, the right (and fast)
    * choice in local mode and for short jobs. Local checkpoints die
    * with their executor AND truncate lineage, so on a real cluster an
    * executor loss mid-convergence fails the job unrecoverably; pass
    * `reliableEvery = k` (requires `sparkContext.setCheckpointDir`)
    * for the fault-tolerant mode: every k-th round's labels — and the
    * static edge list — write to the RELIABLE checkpoint dir, and the
    * rounds BETWEEN them persist WITHOUT lineage truncation (cache,
    * not localCheckpoint — a lost block recomputes through ≤ k−1
    * rounds of joins down to reliable checkpoint files, where a
    * truncated local checkpoint would be unrecoverable). k bounds both
    * the recompute depth and the analyzed-plan depth. Superseded
    * rounds are unpersisted eagerly in every mode: block-manager
    * footprint stays at O(one round), not O(rounds), independent of
    * driver GC timing.
    *
    * @param numPartitions explicit partitioning for the edge/label
    *        frames; default lets AQE size every round's shuffles.
    * @param reliableEvery 0 (default) = localCheckpoint every round;
    *        k > 0 = every k-th round (and the edge list) checkpoints to
    *        the reliable checkpoint dir, surviving executor loss.
    * @return (id, component) — component = min node id of the cluster;
    *         only nodes that appear in `pairs` are returned (isolated
    *         documents are their own implicit singleton clusters).
    */
  /** Per-partition union-find for the local-contraction prepass: folds
    * a partition's edges in memory (O(nodes-in-partition) map — the
    * same order as the partition's own edge buffer) and emits each
    * seen node with its LOCAL cluster root, where the root is the
    * cluster's minimum id (union always hangs the larger root under
    * the smaller, path compression keeps finds amortized-constant).
    */
  private def localUnionFind(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val n = parent(c); parent.update(c, r); c = n
      }
      r
    }
    it.foreach { case (u, v) =>
      val ru = find(u); val rv = find(v)
      if (ru != rv) {
        if (ru < rv) parent.update(rv, ru) else parent.update(ru, rv)
      }
      if (!parent.contains(u)) parent.update(u, u)
      if (!parent.contains(v)) parent.update(v, v)
    }
    parent.keys.iterator.map(n => (n, find(n)))
  }

  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 50,
                          numPartitions: Option[Int] = None,
                          reliableEvery: Int = 0,
                          localContract: Boolean = false,
                          broadcastLabels: Int = 1 << 20): DataFrame = {
    val spark = pairs.sparkSession
    require(reliableEvery == 0 || spark.sparkContext.getCheckpointDir.nonEmpty,
      "reliableEvery > 0 needs a reliable checkpoint dir: call " +
        "spark.sparkContext.setCheckpointDir(<fault-tolerant path>) first")
    // Between reliable checkpoints lineage is NOT truncated, and each
    // round references its predecessor ~4x (labels feeds both the
    // neighbor-min join and the pointer-jump self-join), so the
    // analyzed plan grows ~4^k between truncations. k ≤ 5 keeps that
    // at ~1k leaf references — past it, per-round analysis time
    // explodes long before any fault-tolerance benefit accrues.
    require(reliableEvery <= 5,
      s"reliableEvery = $reliableEvery: untruncated lineage quadruples " +
        "per round, so the analyzed plan grows ~4^k between reliable " +
        "checkpoints — use k in [1, 5]")
    // Frees whichever storage a round used: CacheManager entry for
    // persisted frames, block-manager RDD blocks for checkpointed ones.
    def unpersist(df: DataFrame): Unit = {
      df.unpersist(blocking = false)
      org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpoint(df)
    }
    def ckpt(df: DataFrame, reliable: Boolean): DataFrame =
      if (reliableEvery <= 0) df.localCheckpoint()
      else if (reliable) df.checkpoint()
      else {
        // between reliable rounds: materialize via cache + count so the
        // lineage back to the last reliable checkpoint stays intact
        val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        p.count()
        p
      }
    // Materialize the pair list FIRST: the union below references it on
    // both branches, which would otherwise evaluate the (potentially
    // expensive) upstream pair-detection pipeline twice. (Reliable mode
    // checkpoints it too: a localCheckpoint lost before `edges`
    // materializes is unrecoverable — lineage is already truncated.)
    val e0 = ckpt(pairs.select(
      col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v")),
      reliable = true)
    val width = (df: DataFrame) =>
      numPartitions.map(df.repartition(_)).getOrElse(df)
    // Symmetrized, deduped edge list, checkpointed once — RELIABLY in
    // reliable mode: every round re-reads it, so its loss at any point
    // of the convergence loop would kill the job.
    val edges = ckpt(width(
      e0.unionByName(e0.select(col("v").as("u"), col("u").as("v")))
        .where(col("u") =!= col("v")).distinct()), reliable = true)
    unpersist(e0) // consumed exactly once, by the edge build above
    // The min-label + pointer-jump convergence loop over a symmetric,
    // deduped edge frame — runs on the raw edges (localContract =
    // false, the default) or on the contracted root graph (opt-in;
    // measured slower on the supercritical soak, see prepass notes).
    def ccIterate(loopEdges: DataFrame): DataFrame = {
      // `labelsCp` is the CHECKPOINTED handle (what unpersist must
      // see); `labels` may be a projection over it.
      var labelsCp = ckpt(width(loopEdges.select(col("u").as("id")).distinct()
        .withColumn("comp", col("id"))), reliable = true)
      var labels = labelsCp
      lastCcJumpStrategies.set(Nil)
      // Convergence accumulator: bumped row-by-row DURING the round's
      // one materialization job, read on the driver after it.
      val changed = spark.sparkContext.longAccumulator("graft.cc.changed")
      val bump = udf { (ch: Boolean) => if (ch) changed.add(1L); ch }.asNondeterministic()
      var it = 0
      var converged = false
      // live-label census from the previous round (-1 = unknown, round
      // 1 never broadcasts); approx_count_distinct — the broadcast
      // threshold is a soft bound, a few % error is immaterial. The
      // census LATCHES: labels only ever drop to existing smaller ids,
      // so the live-label count is non-increasing — once measured at or
      // under broadcastLabels the broadcast decision is final and the
      // per-round census job stops (it also never runs on the converged
      // round, which has no next round to steer).
      var liveLabels = -1L
      var censusLatched = false
      lastCcRoundMillis.set(Nil)
      while (!converged && it < maxIter) {
        val roundT0 = System.nanoTime()
        // (1) neighbor-min
        val nbrMin = loopEdges
          .join(labels.select(col("id").as("v"), col("comp").as("_nc")), Seq("v"))
          .groupBy(col("u")).agg(min(col("_nc")).as("_nmin"))
          .select(col("u").as("id"), col("_nmin"))
        val stepped = labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"), col("comp").as("_old"),
            least(col("comp"), coalesce(col("_nmin"), col("comp"))).as("comp"))
        // (2) pointer jump: comp ← comp(comp). Every label is a node id
        // (mins over ids), so the lookup always resolves; coalesce
        // guards the root nodes whose label row is themselves.
        //
        // Skew hardening (the r9 watch-item): the lookup side is
        // FILTERED to the labels actually referenced (distinct comps;
        // partial-agg'd, so the giant component's hot key reduces
        // map-side), and once the previous round MEASURED the live
        // label set at ≤ broadcastLabels rows the lookup is BROADCAST —
        // the comp-keyed left shuffle, which near convergence on a
        // giant-component graph degenerates into a single straggler
        // partition, disappears entirely for exactly the rounds where
        // the skew exists. The switch is deterministic and
        // runtime-measured (AQE cannot adapt this join itself: the
        // semi-filter fuses with the jump join into one stage over
        // reused label exchanges, so no stage boundary ever exposes
        // the lookup's true size to it). Early rounds, when the label
        // set is still node-scale and comp distribution near-uniform,
        // stay sort-merge.
        changed.reset()
        val refs = stepped.select(col("comp").as("_ji")).distinct()
        val lookupRaw = stepped.select(col("comp").as("_jk"), col("id").as("_ji"))
          .join(refs, Seq("_ji"), "left_semi")
        val lookup =
          if (broadcastLabels > 0 && liveLabels >= 0 && liveLabels <= broadcastLabels)
            broadcast(lookupRaw)
          else lookupRaw
        val jumped = width(stepped
          .join(lookup, col("comp") === col("_ji"), "left")
          .select(col("id"), col("_old"), coalesce(col("_jk"), col("comp")).as("comp"))
          .withColumn("_ch", bump(col("comp") =!= col("_old")))
          .select(col("id"), col("comp"), col("_ch")))
        val next = ckpt(jumped,
          reliable = (it + 1) % math.max(reliableEvery, 1) == 0)
          // ^ the round's main action; also counts changes
        converged = changed.value == 0L
        if (broadcastLabels > 0 && !censusLatched && !converged) {
          // one agg over the just-checkpointed frame: the live-label
          // census steering next round's broadcast switch — skipped
          // once latched (non-increasing ⇒ decision final) and on the
          // converged round (no next round)
          liveLabels = next.select(approx_count_distinct(col("comp"))).head().getLong(0)
          if (liveLabels <= broadcastLabels) censusLatched = true
        }
        // per-round join-strategy marker for the skew spec/scale tool
        // (the executed adaptive plan is final once the action above ran)
        if (reliableEvery <= 0)
          lastCcJumpStrategies.updateAndGet(s => s :+ jumpJoinMarker(
            jumped.queryExecution.executedPlan))
        unpersist(labelsCp) // superseded the moment `next` materialized
        labelsCp = next
        labels = next.select(col("id"), col("comp"))
        lastCcRoundMillis.updateAndGet(s =>
          s :+ (System.nanoTime() - roundT0) / 1000000L)
        it += 1
        if (sys.env.contains("GRAFT_CC_DEBUG"))
          System.err.println(s"[cc] round $it changed=${changed.value} t=${System.nanoTime() / 1000000}")
      }
      require(converged,
        s"connectedComponents did not converge in $maxIter rounds (pathological graph?)")
      lastCcRounds.set(it)
      labels.select(col("id"), col("comp"))
    }
    if (!localContract)
      return ccIterate(edges).select(col("id"), col("comp").as("component"))
    // Local-contraction prepass (the two-level CC of Kiveris et al.,
    // "Connected Components in MapReduce and Beyond"): each partition
    // union-finds its own edges IN MEMORY and emits (node → local
    // root); the distributed loop then runs on the star edges linking
    // the local roots that share a node. Labels stay EXACTLY min-id:
    // a local root is its cluster's min, so the min over a component's
    // roots is the min over its nodes. MEASURED NON-DEFAULT: on the
    // dedup fixtures (small families) the prepass is a wash — the LSH
    // pair generation dominates, and the extra mapping/star shuffles
    // cancel the loop savings (q69/q8D/q8M within noise) — while on
    // the adversarial supercritical soak (one giant component spanning
    // every partition) the star graph stays node-scale and the warm
    // 10M-edge run REGRESSED 68 → 144 s. Opt in only when components
    // are known to be small and partition-local (then the contracted
    // loop is orders of magnitude smaller than the input).
    import spark.implicits._
    val mapping = ckpt(width(edges.select(col("u"), col("v"))
      .as[(Long, Long)].mapPartitions(localUnionFind).toDF("n", "r")),
      reliable = true)
    // nodeRoots feeds the star edges AND the final resolve join
    val nodeRoots = ckpt(width(mapping.groupBy(col("n"))
      .agg(min(col("r")).as("r0"), collect_set(col("r")).as("_rs"))),
      reliable = true)
    unpersist(mapping)
    unpersist(edges) // consumed by the mapping build alone
    val star = nodeRoots
      .select(col("r0").as("u"), explode(col("_rs")).as("v"))
      .where(col("u") =!= col("v"))
    val cEdges = ckpt(width(star
      .unionByName(star.select(col("v").as("u"), col("u").as("v")))
      .distinct()), reliable = true)
    val comp = ccIterate(cEdges)
    // roots with no cross-partition link never enter the loop; they ARE
    // their component (coalesce). width() honors an explicit
    // numPartitions on the OUTPUT too (the contracted frame is often
    // tiny and AQE would coalesce it below the caller's ask).
    width(nodeRoots.select(col("n").as("id"), col("r0"))
      .join(comp.select(col("id").as("_rid"), col("comp").as("_c")),
        col("r0") === col("_rid"), "left")
      .select(col("id"), coalesce(col("_c"), col("r0")).as("component")))
  }

  /** Rounds taken by the most recent [[connectedComponents]] call on
    * this JVM — instrumentation for specs/ops dashboards (pointer
    * jumping should stay O(log diameter)).
    */
  val lastCcRounds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Per-round pointer-jump join strategy of the most recent
    * [[connectedComponents]] call ("broadcast" / "smj" / "smj-skew") —
    * instrumentation for the supercritical-skew gate: near convergence
    * on a giant-component graph the semi-filtered lookup must go
    * broadcast (no comp-keyed shuffle left to skew). Recorded in
    * localCheckpoint mode only (the default; cache-mode rounds execute
    * through a separate count and would mis-attribute the plan).
    */
  val lastCcJumpStrategies =
    new java.util.concurrent.atomic.AtomicReference[Seq[String]](Nil)

  /** The strategy marker of a round's pointer-jump join — the plan's
    * one LeftOuter join (the lookup's semi-filter is LeftSemi and may
    * broadcast independently) — read off the executed SparkPlan TREE,
    * descending through AQE wrappers and materialized query stages:
    * matching physical node types instead of the rendered plan string
    * keeps the scale gates honest across Spark rendering changes.
    */
  private def jumpJoinMarker(plan: org.apache.spark.sql.execution.SparkPlan): String = {
    import org.apache.spark.sql.catalyst.plans.LeftOuter
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val through = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: through.flatMap(flatten)
    }
    flatten(plan).collectFirst {
      case j: BroadcastHashJoinExec if j.joinType == LeftOuter => "broadcast"
      case j: SortMergeJoinExec if j.joinType == LeftOuter =>
        if (j.isSkewJoin) "smj-skew" else "smj"
      case j: ShuffledHashJoinExec if j.joinType == LeftOuter =>
        if (j.isSkewJoin) "shj-skew" else "shj"
    }.getOrElse("unknown")
  }

  /** Per-round wall (ms) of the most recent [[connectedComponents]]
    * call — the supercritical scale gate asserts round walls stay flat
    * as the giant component concentrates onto one label (a comp-keyed
    * shuffle straggler would show as a late-round blowup).
    */
  val lastCcRoundMillis =
    new java.util.concurrent.atomic.AtomicReference[Seq[Long]](Nil)

  /** Near-duplicate dedup END TO END: detect pairs (MinHash+LSH), resolve
    * clusters ([[connectedComponents]]), keep the lowest-id document of
    * every cluster. Documents in no near-dup pair are kept as-is.
    */
  def dedupNearDup(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, k: Int = 32, bands: Int = 8,
                   threshold: Double = 0.5): DataFrame = {
    val pairs = minhashNearDupPairs(df, idCol, textCol, shingleN, k, bands, threshold)
    val drop = connectedComponents(pairs, "id_a", "id_b")
      .where(col("id") =!= col("component"))
      .select(col("id").cast("long").as("_drop_id"))
    dropIds(df, idCol, drop)
  }

  /** Anti-join tail shared by the near-dup dedup policies: drop every
    * row of `df` whose id appears in `drop` (one long `_drop_id` col).
    */
  private def dropIds(df: DataFrame, idCol: String, drop: DataFrame): DataFrame =
    df.join(drop, df(idCol).cast("long") === col("_drop_id"), "left_anti")

  /** [[dedupNearDup]] keeping the BEST member of every near-dup cluster
    * instead of the lowest-id one — the standard curation policy:
    * near-dup copies usually differ by truncation/boilerplate, so
    * retaining the highest-`qualityCol` member (e.g. length, a quality
    * score) keeps the most complete copy. Ties resolve to the lowest
    * id, making the keep choice total and engine-portable.
    *
    * Scale posture: identical to [[dedupNearDup]] (banded candidates,
    * exact verify, O(log d) cluster resolution) plus ONE
    * cluster-count-sized argmax aggregation (map-side combined) and one
    * id anti-join — nothing new is corpus-quadratic and text never
    * rides the added shuffles.
    */
  def dedupNearDupKeepBest(df: DataFrame, idCol: String, textCol: String,
                           qualityCol: String, shingleN: Int = 3,
                           k: Int = 32, bands: Int = 8,
                           threshold: Double = 0.5): DataFrame = {
    val pairs = minhashNearDupPairs(df, idCol, textCol, shingleN, k, bands, threshold)
    val comp = connectedComponents(pairs, "id_a", "id_b")
    val quality = df.select(col(idCol).cast("long").as("id"),
      col(qualityCol).as("_q"))
    // winner per cluster: max quality, ties → lowest id (the negated id
    // makes one lexicographic struct comparison express both)
    val winners = comp.join(quality, Seq("id"))
      .groupBy(col("component"))
      .agg(max_by(col("id"), struct(col("_q"), (-col("id")).as("_nid"))).as("_keep"))
      .select(col("_keep").as("id"))
    val drop = comp.select(col("id"))
      .join(winners, Seq("id"), "left_anti")
      .select(col("id").as("_drop_id"))
    dropIds(df, idCol, drop)
  }

  /** Exact n-gram Jaccard over all pairs of a (bounded) document set.
    * This is the quadratic ground-truth used to validate the LSH path;
    * callers MUST bound the input (it cross-joins). For production scale
    * use `minhashNearDupPairs`.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, threshold: Double = 0.1): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"),
      array_distinct(shinglesUdf(shingleN)(tokens(col(textCol)))).as("sh"))
      .where(size(col("sh")) > 0)
    val a = base.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val b = base.select(col("id").as("id_b"), col("sh").as("sh_b"))
    a.crossJoin(b)
      .where(col("id_a") < col("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), Portable.round(col("jaccard"), 4).as("jaccard"))
  }
}
