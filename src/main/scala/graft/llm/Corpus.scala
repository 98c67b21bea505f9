package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Portable

/** Corpus-level source diagnostics for curation monitoring: the
  * "did this crawl snapshot drift?" and "which sources overlap?"
  * reports a training-data pipeline runs per ingest batch
  * (SURVEY.md §2.4 extensions).
  *
  * Both operators reduce the corpus to bounded sketches before any
  * join: drift works on a (source × bucket) histogram (sources ×
  * nBuckets rows, thousands at most), similarity on distinct
  * (source, 60-bit gram hash) pairs — document text never shuffles.
  * All hashes are the engine-portable md5-derived
  * [[TextStats.portableHash]], so the DuckDB oracle mirrors every
  * intermediate exactly.
  */
object Corpus {

  /** The dedup-family checkpoint contract (see `Dedup.ngramNovelty`):
    * default `localCheckpoint` (executor-local blocks — fast, but an
    * executor loss between the materialization and its last reader
    * fails the job); `reliable = true` checkpoints to the configured
    * fault-tolerant checkpoint dir instead — pay the extra write on a
    * real cluster, skip it in local mode.
    */
  private def materialize(df: DataFrame, reliable: Boolean): DataFrame = {
    require(!reliable ||
      df.sparkSession.sparkContext.getCheckpointDir.nonEmpty,
      "reliableCheckpoint = true needs a reliable checkpoint dir: call " +
        "spark.sparkContext.setCheckpointDir(<fault-tolerant path>) first")
    if (reliable) df.checkpoint() else df.localCheckpoint()
  }

  /** Per-stratum length/value profile — the corpus-dashboard report
    * (count, mean, interpolated percentiles per source/lang/domain) in
    * ONE aggregation pass. Output: (strataCol, n_docs, mean_val, and
    * one `p<pct>` column per requested percentile), all rounded to 4
    * decimals (the q8L/q8Q cross-engine percentile parity).
    *
    * `exact = true` (default) uses exact interpolated `percentile` —
    * right for bounded-cardinality metrics, oracle-gated. For
    * unbounded-cardinality values at 100 TB strata pass
    * `exact = false`: `percentile_approx` with the
    * [[Sampling.quantileFilter]] error contract (an actual stratum
    * element whose rank is within n/approxAccuracy of the target;
    * memory O(accuracy · log n) per stratum, independent of value
    * cardinality).
    */
  def lengthProfile(df: DataFrame, strataCol: String, valueCol: String,
                    percentiles: Seq[Double] = Seq(0.1, 0.5, 0.9),
                    exact: Boolean = true,
                    approxAccuracy: Int = 10000): DataFrame = {
    require(percentiles.nonEmpty && percentiles.forall(p => p > 0 && p < 1),
      "percentiles must be in (0, 1)")
    require(approxAccuracy > 0, "approxAccuracy must be positive")
    val pctCols = percentiles.map { p =>
      val q =
        if (exact) percentile(col(valueCol), lit(p))
        else percentile_approx(col(valueCol), lit(p), lit(approxAccuracy))
      Portable.round(q, 4)
        .as("p" + math.round(p * 100).toString)
    }
    df.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"),
        (Portable.round(avg(col(valueCol)), 4).as("mean_val") +: pctCols): _*)
  }

  /** Per-source distribution drift vs the whole corpus:
    * Jensen-Shannon divergence between each source's hashed-unigram
    * distribution P and the corpus-wide distribution Q over `nBuckets`
    * hash buckets. JS(P, Q) = (Σ p·ln(2p/(p+q)) + Σ q·ln(2q/(p+q)))/2
    * ∈ [0, ln 2]; a source matching the corpus mix scores ≈ 0, a
    * divergent one approaches ln 2 ≈ 0.693.
    *
    * Scale shape: ONE corpus-wide tokenize pass feeds a partial-agg
    * shuffle on (source, bucket); everything after operates on the
    * sources × nBuckets histogram, materialized once (the three
    * downstream branches — per-source totals, per-bucket totals, the
    * term sums — would each re-run the corpus scan otherwise; the
    * planner does not dedupe twin aggregate subtrees). Buckets a
    * source never hits contribute exactly q·ln 2 each, folded in as
    * (1 − Σ_present q)·ln 2 — no zero-row generation.
    */
  def sourceDrift(df: DataFrame, textCol: String, sourceCol: String,
                  nBuckets: Long = 1024L,
                  reliableCheckpoint: Boolean = false): DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    val cntPlan = df
      .select(col(sourceCol).as("source"),
        explode(TextStats.tokens(col(textCol))).as("_w"))
      .groupBy(col("source"),
        pmod(TextStats.portableHash(col("_w")), lit(nBuckets)).as("_b"))
      .agg(count(lit(1)).as("_c"))
    val cnt = materialize(cntPlan, reliableCheckpoint)
    // coalesce: an empty corpus sums to NULL and must yield an empty
    // frame, not an NPE (downstream is empty once cnt is empty)
    val total = cnt.agg(coalesce(sum(col("_c")), lit(0L)))
      .first().getLong(0).toDouble
    val srcTot = cnt.groupBy(col("source")).agg(sum(col("_c")).as("_ns"))
    val bTot = cnt.groupBy(col("_b")).agg(sum(col("_c")).as("_cb"))
    val p = col("_c").cast("double") / col("_ns").cast("double")
    val q = col("_cb").cast("double") / lit(total)
    cnt.join(bTot, "_b").join(srcTot, "source")
      .select(col("source"), col("_ns"), p.as("_p"), q.as("_q"))
      .groupBy(col("source"), col("_ns"))
      .agg(
        sum(col("_p") * log(lit(2.0) * col("_p") / (col("_p") + col("_q"))))
          .as("_t1"),
        sum(col("_q") * log(lit(2.0) * col("_q") / (col("_p") + col("_q"))))
          .as("_t2"),
        sum(col("_q")).as("_qc"))
      .select(col("source"), col("_ns").as("n_grams"),
        Portable.round(
          lit(0.5) * (col("_t1") + col("_t2") +
            (lit(1.0) - col("_qc")) * log(lit(2.0))), 4).as("js_div"))
  }

  /** Per-label embedding-centroid alignment: the cosine of each
    * label's mean vector to the corpus-wide mean — the embedding-space
    * analog of [[sourceDrift]] ("is this tranche's semantic center
    * where the corpus is?"). Low cosine = the tranche occupies its own
    * region; uniform tranches read ≈ 1.
    *
    * Scale shape: one posexplode pass → partial-agg shuffle on
    * (label, dim) — everything downstream is a labels × dims frame,
    * materialized once (the per-label and global branches both read
    * it). Sums run in double; only the final cosine is rounded (the
    * dimension-order summation skew is ~1e-13, the q8I/q8C argument).
    */
  def labelCentroidDrift(df: DataFrame, vecCol: String, labelCol: String,
                         reliableCheckpoint: Boolean = false): DataFrame = {
    val lmPlan = df
      .select(col(labelCol).as("label"),
        posexplode(col(vecCol).cast("array<double>")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("col")).as("_s"))
    val lm = materialize(lmPlan, reliableCheckpoint)
    val ln = df.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_vecs"))
    val lmean = lm.join(ln, "label")
      .select(col("label"), col("pos"), (col("_s") / col("n_vecs")).as("_m"))
    // corpus size stays in the DAG (sum of the per-label census joined
    // in as a 1-row broadcast) — no extra count action over the source
    val gTot = ln.agg(sum(col("n_vecs")).cast("double").as("_gn"))
    val gmean = lm.groupBy(col("pos")).agg(sum(col("_s")).as("_gs"))
      .crossJoin(gTot)
      .select(col("pos"), (col("_gs") / col("_gn")).as("_g"))
    lmean.join(gmean, "pos")
      .groupBy(col("label"))
      .agg((sum(col("_m") * col("_g")) /
        (sqrt(sum(col("_m") * col("_m"))) * sqrt(sum(col("_g") * col("_g")))))
        .as("_c"))
      .join(ln, "label")
      .select(col("label"), col("n_vecs"),
        Portable.round(col("_c"), 4).as("centroid_cos"))
  }

  /** Pairwise source similarity: Jaccard over each source's DISTINCT
    * word-`shingleN`-gram hash set — the "are these two crawls the
    * same feed?" overlap matrix. Every unordered source pair gets a
    * row (zero-overlap pairs included, n_common = 0).
    *
    * Sources whose every document is shorter than `shingleN` tokens
    * have an empty gram set; they still appear in every pair row
    * (n = 0), and an empty-union pair reads Jaccard 0.
    *
    * Scale shape: the corpus reduces to distinct (source, hash) pairs
    * — only 16-byte rows shuffle, text stays at the scan. The
    * intersection self-join keys on the hash: a gram shared by m
    * sources expands to m(m−1)/2 pair rows, bounded by the source
    * count squared, never by corpus size. The pair frame itself is
    * sources², driver-trivial. The distinct pass is materialized once
    * (both self-join sides and the size census read it; the planner
    * does not dedupe the twin subtrees).
    */
  def sourceJaccard(df: DataFrame, textCol: String, sourceCol: String,
                    shingleN: Int = 3,
                    reliableCheckpoint: Boolean = false): DataFrame = {
    require(shingleN > 0, "shingleN must be positive")
    val setsPlan = df
      .select(col(sourceCol).as("_src"),
        explode(Dedup.shinglesUdf(shingleN)(TextStats.tokens(col(textCol))))
          .as("_g"))
      .select(col("_src"), TextStats.portableHash(col("_g")).as("_h"))
      .distinct()
    val sets = materialize(setsPlan, reliableCheckpoint)
    // census over ALL sources (not just those with >= shingleN-token
    // docs), so gramless sources still appear in every pair row
    val sz = df.select(col(sourceCol).as("_src")).distinct()
      .join(sets.groupBy(col("_src")).agg(count(lit(1)).as("_g_n")),
        Seq("_src"), "left")
      .select(col("_src"), coalesce(col("_g_n"), lit(0L)).as("_n"))
    // intersections via the hash self-join, which MEASURES faster than
    // the tempting one-shuffle alternative (groupBy(_h) +
    // collect_set(source) + pair explosion): on the 100k-doc soak the
    // collect_set form ran 20–22 s vs 15 s — an 8M-key object-hash
    // aggregation with array buffers falls back to sort-based
    // aggregation, costing more than the SMJ's sorts
    // the merge hint pins the join strategy: the checkpointed set's
    // size statistics can read small enough that the planner tries to
    // BROADCAST one side — at 500k docs that is 41M rows and kills the
    // driver ("not enough memory to build and broadcast", seen in a
    // 500k-doc curation soak, BASELINE.md); SMJ is also the measured-faster
    // shape (see above)
    val inter = sets.as("a").hint("merge")
      .join(sets.as("b").hint("merge"),
        col("a._h") === col("b._h") && col("a._src") < col("b._src"))
      .groupBy(col("a._src").as("_sa"), col("b._src").as("_sb"))
      .agg(count(lit(1)).as("_common"))
    val pairs = sz.as("x").join(sz.as("y"), col("x._src") < col("y._src"))
      .select(col("x._src").as("src_a"), col("y._src").as("src_b"),
        col("x._n").as("_na"), col("y._n").as("_nb"))
    val common = coalesce(col("_common"), lit(0L))
    pairs.join(inter,
        pairs("src_a") === inter("_sa") && pairs("src_b") === inter("_sb"),
        "left")
      .select(col("src_a"), col("src_b"),
        col("_na").as("n_a"), col("_nb").as("n_b"),
        common.as("n_common"),
        // two gramless sources have an empty union: define J = 0, not NaN
        when(col("_na") + col("_nb") - common === 0, lit(0.0))
          .otherwise(Portable.round(common.cast("double") /
            (col("_na") + col("_nb") - common).cast("double"), 4))
          .as("jaccard"))
  }

  /** Sketch-based source-pair Jaccard — the 100 TB shape of
    * [[sourceJaccard]]: each source is reduced to a bottom-k KMV
    * sketch of its distinct gram hashes (the k minimum values of a
    * uniform 60-bit hash), and every pair is estimated from the two
    * sketches alone. One gram pass, NO distinct-gram shuffle at all:
    * [[TopK.BottomKAggregator]] dedups inside the bounded partial
    * buffers, so the shuffle carries `partitions × sources × k` longs
    * where the exact operator shuffles every distinct (source, gram)
    * pair — at a billion grams per source that is the difference
    * between megabytes and the corpus itself. Downstream frames are
    * sources × k and sources² rows (bounded by construction).
    *
    * Estimator (Beyer et al.'s KMV / Broder's min-sketch): the
    * bottom-k of A∪B is computable from the two sketches
    * (`bottomK(skA ∪ skB)`), and each of its members lies in A∩B iff
    * it appears in BOTH sketches, so
    * `J ≈ |bottomK(skA ∪ skB) ∩ skA ∩ skB| / |bottomK(skA ∪ skB)|`
    * — an unbiased sample of k union elements with standard error
    * ≈ sqrt(J(1-J)/k). When a pair's true union holds ≤ k distinct
    * grams the "sketch" IS the union and the estimate is exact.
    * Deterministic (pure function of the portable hash), so the
    * DuckDB oracle replays it bit-for-bit — the estimate is
    * cross-engine gated even though it approximates [[sourceJaccard]].
    *
    * Returns one row per unordered source pair:
    * `(src_a, src_b, n_sample, n_common_sample, jaccard_est)`.
    */
  def sourceJaccardSketch(df: DataFrame, textCol: String, sourceCol: String,
                          shingleN: Int = 3, k: Int = 256): DataFrame = {
    require(shingleN > 0 && k > 0, "shingleN and k must be positive")
    val bottomK = udaf(new TopK.BottomKAggregator(k))
    val sk = df
      .select(col(sourceCol).as("_src"),
        explode(Dedup.shinglesUdf(shingleN)(TextStats.tokens(col(textCol))))
          .as("_g"))
      .select(col("_src"), TextStats.portableHash(col("_g")).as("_h"))
      .groupBy(col("_src")).agg(bottomK(col("_h")).as("_sk"))
    // census over ALL sources (the q8J gramless-source contract):
    // a source with no >=shingleN-token doc still pairs, with an
    // empty sketch and J pinned to 0
    val allSk = df.select(col(sourceCol).as("_src")).distinct()
      .join(sk, Seq("_src"), "left")
      .select(col("_src"),
        coalesce(col("_sk"), array().cast("array<bigint>")).as("_sk"))
    // sources² pair frame — bounded by construction
    val merged = slice(array_sort(array_union(col("_a"), col("_b"))), 1, k)
    val common = size(array_intersect(array_intersect(merged, col("_a")),
      col("_b")))
    allSk.as("x").join(allSk.as("y"), col("x._src") < col("y._src"))
      .select(col("x._src").as("src_a"), col("y._src").as("src_b"),
        col("x._sk").as("_a"), col("y._sk").as("_b"))
      .select(col("src_a"), col("src_b"),
        size(merged).cast("bigint").as("n_sample"),
        common.cast("bigint").as("n_common_sample"),
        when(size(merged) === 0, lit(0.0))
          .otherwise(Portable.round(common.cast("double") /
            size(merged).cast("double"), 4))
          .as("jaccard_est"))
  }
}
