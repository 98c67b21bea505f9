package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
import org.apache.spark.sql.functions._
import graft.Portable

/** Similarity search over embedding columns (`ARRAY<FLOAT>`) — SURVEY.md
  * §2.4. Brute-force cosine top-k as the exact baseline; random-
  * hyperplane LSH bucketing as the scale path (candidates shrink from
  * N×Q to bucket-local, and the only join is an equi-join on bucket key).
  *
  * All dot products are higher-order-function expressions in DOUBLE —
  * codegen'd, no UDFs. Queries are broadcast (they are the small side by
  * construction).
  */
object Similarity {

  /** Dot product of two numeric arrays, computed in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity (0 when either side has zero norm). */
  def cosine(a: Column, b: Column): Column = {
    val d = l2norm(a) * l2norm(b)
    when(d === 0.0, lit(0.0)).otherwise(dot(a, b) / d)
  }

  /** Compiled cosine over float vectors — bit-identical to [[cosine]]
    * (same sequential double accumulation per term, same zero-norm
    * guard), but one fused JVM loop instead of three interpreted
    * higher-order aggregates (~50µs → <1µs per pair). Used on all hot
    * scoring paths; the expression form remains for composition.
    */
  val cosineUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (as: Seq[Float], bs: Seq[Float]) =>
      val a = toFA(as); val b = toFA(bs)
      val n = math.min(a.length, b.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      // All corpus vectors share one dimension; mismatched lengths are a
      // caller error (the expression form nulls out via zip_with there).
      val d = math.sqrt(na) * math.sqrt(nb)
      if (d == 0.0) 0.0 else dot / d
    }

  /** Native Catalyst cosine (whole-stage codegen, no UDF serialization) —
    * see [[graft.expressions.CosineSimilarity]]. Bit-identical to
    * [[cosine]] and [[cosineUdf]]; this is the default hot-path kernel.
    */
  def cosineNative(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.CosineSimilarity(
        org.apache.spark.sql.graft.ColumnBridge.expression(a),
        org.apache.spark.sql.graft.ColumnBridge.expression(b)))

  /** Exact top-k nearest neighbors by cosine for each query vector.
    *
    * `queries` is broadcast; the corpus is scanned once; per-query top-k
    * is a window over (query, score). Ties on the (rounded) score break
    * by corpus id so results are deterministic and engine-portable.
    * Self-matches (same id) are excluded.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     roundScore: Int = 4): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("score", Portable.round(cosineNative(col("qv"), col("cv")), roundScore))
    // Bounded-heap aggregation instead of a row_number window: the
    // shuffle carries at most k rows per (map partition, query) thanks
    // to partial aggregation — a window would sort-shuffle every scored
    // pair. Ordering (score desc, id asc) matches the window/oracle.
    val topk = udaf(new TopK.TopKAggregator(k))
    scored
      .groupBy(col("query_id"))
      .agg(topk(col("neighbor_id"), col("score")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        col("col.score").as("score"), (col("pos") + 1).cast("int").as("rank"))
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the `k` most-cosine-similar corpus vectors with a
    * DIFFERENT label — the "closest wrong answers" an embedding model
    * trains against. Same exact bounded-input shape as
    * [[bruteForceTopK]] (broadcast queries, one corpus scan, bounded-
    * heap top-k — the q56/q58 ground-truth family; callers MUST bound
    * the query set). At corpus scale — where negatives are mined for
    * EVERY training doc, i.e. queries ≈ corpus — use
    * [[hardNegativesIvf]], the IVF-probe path with the label
    * post-filter and the per-label probe widening.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int,
                    roundScore: Int = 4): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), col(labelCol).as("_ql")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      col(labelCol).as("_cl"))
    val scored = q.join(c, col("_ql") =!= col("_cl"))
      .withColumn("score",
        Portable.round(cosineNative(col("qv"), col("cv")), roundScore))
    val topk = udaf(new TopK.TopKAggregator(k))
    scored.groupBy(col("query_id"))
      .agg(topk(col("neighbor_id"), col("score")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        col("col.score").as("score"), (col("pos") + 1).cast("int").as("rank"))
  }

  /** Bound on distinct labels: the per-label fraction table is a
    * driver-side collect, legitimate only because label cardinality is
    * tiny (class labels, not ids). The guard is loud, not truncating.
    */
  private val MaxHardNegativeLabels = 10000

  /** IVF-scale hard-negative mining — [[hardNegatives]] for the
    * queries ≈ corpus regime, where the broadcast brute-force path is
    * quadratic. Same index shape as [[ivfTopKKMeans]] (broadcast-
    * centroid assignment projection — zero shuffle — then an equi-join
    * on `cell_id`), with two changes:
    *
    *  - the label-disequality filter runs BEFORE the bounded-heap
    *    top-k, so the heap still carries exactly `k` rows per
    *    (map partition, query) through partial aggregation;
    *  - each query's probe count widens by the fraction of candidates
    *    the filter discards: a query with label `l` of corpus fraction
    *    `f(l)` keeps only `1 − f(l)` of each probed cell, so it probes
    *    `ceil(nProbe / (1 − f(l)))` cells (capped at `nCells`; a label
    *    covering ≥ 95% of the corpus probes every cell). The fraction
    *    table is one tiny count-by-label aggregate, loudly capped at
    *    [[MaxHardNegativeLabels]].
    *
    * Unlike the bounded ground-truth family, `queries` is NOT
    * broadcast: at mining scale both sides are corpus-sized and the
    * probe join is a shuffle equi-join on `cell_id`, whose key
    * cardinality tracks `nCells`. Scaled with the corpus
    * (`nCells ∝ N`), per-cell populations and join-key skew stay
    * constant as the corpus grows.
    *
    * Approximate by construction (cell routing can miss a true
    * neighbor); recall vs the exact path is asserted by CurationSpec's
    * "hardNegativesIvf: recall >= 0.9 vs exact" case on a clustered
    * fixture. Runs at 10× and 100× the oracle corpus measured
    * recall@10 0.995 / 1.000 (BASELINE.md, round 15).
    */
  def hardNegativesIvf(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, labelCol: String, k: Int,
                       nCells: Int = 16, nProbe: Int = 2, iters: Int = 5,
                       roundScore: Int = 4): DataFrame = {
    val cents = kmeansCentroids(corpus, idCol, vecCol, nCells, iters)
      .sortBy(_._1)
    // per-label corpus fractions (class-label cardinality; loud cap)
    val labelRows = corpus.groupBy(col(labelCol).cast("string").as("_l"))
      .agg(count(lit(1)).as("_n"))
      .limit(MaxHardNegativeLabels + 1).collect()
    require(labelRows.length <= MaxHardNegativeLabels,
      s"hardNegativesIvf saw > $MaxHardNegativeLabels distinct labels — " +
        "the per-label widening table is driver-side and sized for class " +
        "labels; pre-bucket high-cardinality labels first")
    val total = labelRows.map(_.getLong(1)).sum.toDouble
    val probeOf: Map[String, Int] = labelRows.map { r =>
      val f = r.getLong(1).toDouble / total
      val np = if (f >= 0.95) cents.length
               else math.min(cents.length, math.ceil(nProbe / (1.0 - f)).toInt)
      r.getString(0) -> np
    }.toMap
    val probeUdf = udf { (vs: Seq[Float], l: String) =>
      val v = toFA(vs)
      val np = probeOf.getOrElse(l, nProbe)
      cents.map { case (cid, cv) => (round6(cosFD(v, cv)), cid) }
        .sortBy { case (s, cid) => (-s, cid) }
        .take(np).map(_._2).toSeq
    }
    val assigned = corpus
      .select(col(idCol).cast("long").as("neighbor_id"), col(vecCol).as("cv"),
        col(labelCol).as("_cl"))
      .withColumn("cell_id", ivfAssignUdf(cents)(col("cv")))
    val probes = queries
      .select(col(idCol).cast("long").as("query_id"), col(vecCol).as("qv"),
        col(labelCol).as("_ql"))
      .withColumn("cell_id",
        explode(probeUdf(col("qv"), col("_ql").cast("string"))))
    val topk = udaf(new TopK.TopKAggregator(k))
    probes.join(assigned, Seq("cell_id"))
      .where(col("_ql") =!= col("_cl") && col("query_id") =!= col("neighbor_id"))
      .withColumn("score",
        Portable.round(cosineNative(col("qv"), col("cv")), roundScore))
      .groupBy(col("query_id"))
      .agg(topk(col("neighbor_id"), col("score")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        col("col.score").as("score"), (col("pos") + 1).cast("int").as("rank"))
  }

  /** Deterministic random hyperplanes: `nPlanes` unit-free direction
    * vectors of dimension `dim` (seeded; constants baked into the plan).
    */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit LSH bucket key of a vector under the given hyperplanes:
    * a string of 0/1 sign bits. Vectors in the same bucket are likely
    * cosine-close (random hyperplane LSH, Charikar 2002).
    */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column =
    concat_ws("", planes.toIndexedSeq.map { p =>
      val planeLit = array(p.toIndexedSeq.map(lit(_)): _*)
      when(dot(vec, planeLit) >= 0.0, lit("1")).otherwise(lit("0"))
    }: _*)

  /** Approximate top-k: bucket corpus and queries with `nPlanes` sign
    * bits, join on bucket (plus Hamming-1 neighbor buckets for recall),
    * then exact-cosine rerank within candidates.
    *
    * Scale: the corpus is scanned once to compute buckets (pure
    * expressions), the join is an equi-join on bucket key, and rerank
    * touches only candidates — no N×Q blow-up.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nPlanes: Int = 8,
              dim: Int = -1): DataFrame = {
    // dim must match the data: planes longer than the vectors make every
    // sign-bit null→"0" (zip_with pads with null), collapsing ALL
    // vectors into one bucket — the exact N×Q blow-up LSH exists to
    // avoid. Auto-detect from the corpus unless given explicitly.
    val planeDim =
      if (dim > 0) dim
      else corpus.select(size(col(vecCol))).head().getInt(0)
    val planes = hyperplanes(nPlanes, planeDim)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("bucket", lshBucket(col("cv"), planes))
    // Probe the query's own bucket plus all Hamming-1 buckets (flip each
    // bit once) — multi-probe LSH, recovers most near-misses cheaply.
    val probes = (0 until nPlanes).foldLeft(Seq[Column](col("bucket"))) {
      (acc, i) =>
        acc :+ concat(
          substring(col("bucket"), 1, i),
          when(substring(col("bucket"), i + 1, 1) === "1", lit("0")).otherwise(lit("1")),
          substring(col("bucket"), i + 2, nPlanes - i - 1))
    }
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
        .withColumn("bucket", lshBucket(col("qv"), planes))
        .withColumn("probe", explode(array(probes: _*)))
        .drop("bucket"))
    val cand = q.join(c, col("probe") === col("bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "qv", "neighbor_id", "cv").distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    cand
      .withColumn("score", Portable.round(cosineNative(col("qv"), col("cv")), 4))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "score", "rank")
  }

  /** Compiled sign-bit signature under `planes` — same arithmetic as
    * [[lshBucket]] (sequential double dot per plane, `>= 0` → '1') in
    * one fused JVM pass instead of nPlanes interpreted aggregates.
    */
  def signBitsUdf(planes: Array[Array[Double]]): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (vs: Seq[Float]) =>
      val v = toFA(vs)
      val sb = new java.lang.StringBuilder(planes.length)
      planes.foreach { p =>
        val n = math.min(v.length, p.length)
        var s = 0.0
        var i = 0
        while (i < n) { s += v(i).toDouble * p(i); i += 1 }
        sb.append(if (s >= 0.0) '1' else '0')
      }
      sb.toString
    }

  /** Embedding near-duplicate PAIRS at scale — the LSH path that
    * replaces [[q58]]'s bounded brute-force all-pairs at 100 TB.
    *
    * Pipeline (mirrors `Dedup.minhashNearDupPairs`): one compiled
    * sign-signature pass → band keys (nPlanes/nBands bits each) →
    * groupBy(band) + within-bucket pair expansion (id_a < id_b) →
    * distinct candidates → exact-cosine verify ≥ `minCosine` on
    * candidate vectors only (semi-join fetch). The only shuffles are the
    * (id, band) groupBy and the candidate joins — vectors never move
    * through the band exchange, and nothing is quadratic in corpus size.
    *
    * Approximate by construction: a true pair is missed iff its
    * signatures differ in EVERY band (probability → 0 as cosine → 1;
    * the planted-pair spec pins recall on a fixture). All emitted pairs
    * are exact-verified — precision is 1 by construction.
    */
  def lshNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                      minCosine: Double, nPlanes: Int = 64, nBands: Int = 8,
                      dim: Int = -1, maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(nPlanes % nBands == 0, "nBands must divide nPlanes")
    val bits = nPlanes / nBands
    // 64/8 defaults → 8 sign bits per band: a random (cosine≈0) pair
    // collides in a band w.p. 2^-8, so candidates stay ~linear in corpus
    // size; high-cosine pairs still agree on ≥1 whole band w.h.p.
    // (fewer bits per band would make nearly every pair a candidate and
    // the verify join quadratic).
    val planeDim =
      if (dim > 0) dim
      else corpus.select(size(col(vecCol))).head(1).headOption match {
        case Some(r) => r.getInt(0)
        case None => // empty corpus → empty pairs, not a head() crash
          val spark = corpus.sparkSession
          import spark.implicits._
          return spark.emptyDataset[(Long, Long, Double)]
            .toDF("id_a", "id_b", "cosine")
      }
    val planes = hyperplanes(nPlanes, planeDim)
    val sigUdf = signBitsUdf(planes)
    val ids = corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("cv"))
    val banded = ids
      .withColumn("sig", sigUdf(col("cv")))
      .select(col("id"), explode(array((0 until nBands).map(b =>
        concat(lit(s"$b|"), substring(col("sig"), b * bits + 1, bits))): _*)).as("band"))
    val cand = banded.groupBy(col("band"))
      .agg(collect_list(col("id")).as("ids"))
      // maxBucketSize: same degenerate-bucket guard as
      // Dedup.minhashNearDupPairs (e.g. the all-zero-vector bucket)
      .where(size(col("ids")) > 1 && size(col("ids")) <= maxBucketSize)
      .select(explode(flatten(transform(col("ids"), x =>
        transform(filter(col("ids"), y => y > x),
          y => struct(x.as("id_a"), y.as("id_b")))))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
      .localCheckpoint()
    val candIds = cand
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    val candVecs = ids.join(candIds, Seq("id"), "left_semi")
    cand
      .join(candVecs.select(col("id").as("id_a"), col("cv").as("cv_a")), Seq("id_a"))
      .join(candVecs.select(col("id").as("id_b"), col("cv").as("cv_b")), Seq("id_b"))
      .withColumn("cosine", Portable.round(cosineNative(col("cv_a"), col("cv_b")), 4))
      .where(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** JVM cosine of a float row vector against a double centroid —
    * bit-identical to [[cosineNative]] when the centroid is an exactly
    * float-to-double-cast vector (same sequential accumulation order,
    * same zero-norm guard).
    */
  /** One-shot unbox of a deserialized vector. UDF inputs arrive as an
    * ArraySeq over a primitive array (zero-copy here); Dataset-encoder
    * rows arrive as List — whose apply(i) is O(i), turning every
    * indexed kernel loop QUADRATIC in dim (a 10-30x slowdown measured
    * on the PQ trainer). Every kernel below takes Array[Float]; entry
    * points convert exactly once per row.
    */
  private def toFA(v: Seq[Float]): Array[Float] = v match {
    case w: scala.collection.immutable.ArraySeq.ofFloat => w.unsafeArray
    case other => other.toArray
  }

  private def cosFD(a: Array[Float], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) 0.0 else dot / d
  }

  /** [[graft.Portable.round]] at n=6 as the identical JVM op sequence. */
  private def round6(x: Double): Double =
    if (x >= 0) math.floor(x * 1e6 + 0.5) / 1e6 else -(math.floor(-x * 1e6 + 0.5) / 1e6)

  /** IVF-style ANN top-k: the scale path for billion-row corpora.
    *
    * Cells come from a deterministic sample of corpus vectors (first
    * `nCells` by id — training-free; [[ivfTopKKMeans]] swaps in Lloyd's
    * centroids without changing the plan shape). Every corpus vector is
    * assigned to its best cell as a pure PROJECTION over the broadcast
    * centroid array — zero shuffle (a window-over-crossJoin argmax would
    * shuffle N×nCells scored rows); a query probes its `nProbe` nearest
    * cells and reranks only those cells' members with exact cosine
    * through the bounded-heap [[TopK.TopKAggregator]] (shuffle carries
    * ≤ k rows per map-partition per query, never every scored pair). At
    * scale the assignment is a write-once materialization and the probe
    * join is an equi-join on `cell_id` — corpus scan cost per query
    * drops to nProbe/nCells.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nCells: Int = 16,
              nProbe: Int = 2, targetCorpusSize: Long = 0): DataFrame = {
    val (c, p) = resolveIvfParams(targetCorpusSize, nCells, nProbe)
    ivfWithCentroids(corpus, queries, idCol, vecCol, k, p,
      sampleCentroids(corpus, idCol, vecCol, c))
  }

  /** √N IVF parameterization, the sublinear family: `nCells ≈ √N / 2`
    * (per-cell occupancy 2√N grows with the corpus root, not the
    * corpus) and `nProbe ≈ 2·√nCells` (probe SHARE shrinks as the
    * corpus grows), so the rows a probe scans grow as ~N^(3/4) instead
    * of Θ(N). A fixed nlist — or a constant nProbe/nlist ratio — scans
    * Θ(N) per probe and measures LINEAR at a 100× decade. This family
    * held the q83 recall floor of 0.7 at 10× and 100× the oracle
    * fixture when last measured (recall@10 0.976 / 0.888 at 20k / 200k
    * vectors, BASELINE.md, round 15); IvfPqStreamSpec and StreamingSpec
    * assert the derived `nCells` at spec scale.
    *
    * Pass the (approximate) corpus size you are building for — the
    * hint OVERRIDES literal nCells/nProbe at the call sites that take
    * it. An order-of-magnitude estimate is enough: both derived values
    * move as the fourth root of the error.
    */
  def sqrtIvfParams(targetCorpusSize: Long): (Int, Int) = {
    require(targetCorpusSize > 0,
      s"targetCorpusSize must be positive, got $targetCorpusSize")
    val nCells = math.max(1,
      math.ceil(math.sqrt(targetCorpusSize.toDouble) / 2).toInt)
    (nCells, sqrtProbeFor(nCells))
  }

  /** The √-family probe width for a cell count: `2·√nCells`, the
    * serving-side half of [[sqrtIvfParams]] — used when the cell count
    * is already fixed by a built index.
    */
  private[graft] def sqrtProbeFor(nCells: Int): Int =
    math.max(1, 2 * math.ceil(math.sqrt(nCells.toDouble)).toInt)

  /** `targetCorpusSize > 0` swaps literal (nCells, nProbe) for the
    * [[sqrtIvfParams]] derivation.
    */
  private def resolveIvfParams(targetCorpusSize: Long, nCells: Int,
                               nProbe: Int): (Int, Int) =
    if (targetCorpusSize > 0) sqrtIvfParams(targetCorpusSize)
    else (nCells, nProbe)

  /** Deterministic training-free centroids: the first `nCells` corpus
    * vectors by id (metadata-scale collect, like [[lshTopK]]'s dim probe).
    */
  def sampleCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      nCells: Int): Array[(Long, Array[Double])] =
    corpus.orderBy(col(idCol).asc).limit(nCells)
      .select(col(idCol).cast("long"), col(vecCol))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))

  /** Lloyd's k-means centroid training, Spark-shaped: per iteration the
    * assignment is a broadcast-centroid projection (no shuffle) and the
    * centroid update is ONE partial-agg shuffle of (cell, dim) sums —
    * nCells×dim rows to the driver, never vectors. Deterministic init
    * (first `nCells` by id). `sampleMod` trains on an id-sampled subset
    * (at 100 TB you train on a sample and assign the full corpus).
    * Convergence to bit-identical centroids across runs is NOT
    * guaranteed (double sums are order-dependent); consumers must treat
    * centroids as approximate, which IVF recall properties do.
    */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      nCells: Int, iters: Int = 5,
                      sampleMod: Int = 1): Array[(Long, Array[Double])] = {
    import corpus.sparkSession.implicits._
    // The training set is re-scanned once per Lloyd iteration; persist
    // it for the loop (and unpersist after) so iterations 2..k read
    // deserialized rows instead of re-running the scan + vector decode
    // each pass (guide §5: reuse-justified caching, released when done).
    // At 100 TB the training input is the id-sampled subset — caching
    // the SAMPLE across iterations is the standard k-means shape.
    val base = (if (sampleMod <= 1) corpus
                else corpus.where(col(idCol) % sampleMod === 0))
      .select(col(vecCol)).as[Array[Float]]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try kmeansLoop(base, corpus, idCol, vecCol, nCells, iters)
    finally { base.unpersist(false); () }
  }

  private def kmeansLoop(base: org.apache.spark.sql.Dataset[Array[Float]],
                         corpus: DataFrame, idCol: String, vecCol: String,
                         nCells: Int, iters: Int): Array[(Long, Array[Double])] = {
    import corpus.sparkSession.implicits._
    var cents: Array[Array[Double]] =
      sampleCentroids(corpus, idCol, vecCol, nCells).map(_._2)
    val k = cents.length
    val dim = cents.headOption.map(_.length).getOrElse(0)
    var it = 0
    while (it < iters) {
      val cur = cents
      // One pass per iteration: each partition accumulates (sum, count)
      // per cell in flat arrays and emits ONE row — no explode (a
      // posexplode+groupBy update re-evaluates the assignment per
      // exploded element once Catalyst hoists the projection above the
      // Generate), no shuffle; the driver reduces nPartitions × k × dim
      // doubles (the classic scalable k-means update shape).
      val stats = base.mapPartitions { rows =>
        val sums = Array.ofDim[Double](k, dim)
        val counts = new Array[Long](k)
        rows.foreach { v =>
          var bi = 0; var bs = Double.NegativeInfinity
          var i = 0
          while (i < k) {
            val s = cosFD(v, cur(i))
            if (s > bs) { bs = s; bi = i }
            i += 1
          }
          counts(bi) += 1
          val lim = math.min(v.length, dim)
          var j = 0
          while (j < lim) { sums(bi)(j) += v(j).toDouble; j += 1 }
        }
        Iterator.single((sums.flatten, counts))
      }.collect()
      val totSums = Array.ofDim[Double](k, dim)
      val totCounts = new Array[Long](k)
      stats.foreach { case (flat, cnts) =>
        var c = 0
        while (c < k) {
          totCounts(c) += cnts(c)
          var j = 0
          while (j < dim) { totSums(c)(j) += flat(c * dim + j); j += 1 }
          c += 1
        }
      }
      val next = cur.map(_.clone()) // empty cells keep their old centroid
      var c = 0
      while (c < k) {
        if (totCounts(c) > 0) {
          var j = 0
          while (j < dim) { next(c)(j) = totSums(c)(j) / totCounts(c); j += 1 }
        }
        c += 1
      }
      cents = next
      it += 1
    }
    cents.zipWithIndex.map { case (c, i) => (i.toLong, c) }
  }

  /** IVF top-k over k-means-trained cells — same plan shape as
    * [[ivfTopK]], better-balanced cells on clustered data.
    */
  def ivfTopKKMeans(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, nCells: Int = 16,
                    nProbe: Int = 2, iters: Int = 5,
                    targetCorpusSize: Long = 0): DataFrame = {
    val (c, p) = resolveIvfParams(targetCorpusSize, nCells, nProbe)
    ivfWithCentroids(corpus, queries, idCol, vecCol, k, p,
      kmeansCentroids(corpus, idCol, vecCol, c, iters))
  }

  private[graft] def ivfWithCentroids(corpus: DataFrame, queries: DataFrame,
                                    idCol: String, vecCol: String, k: Int,
                                    nProbe: Int,
                                    centroids: Array[(Long, Array[Double])]): DataFrame = {
    // cell_id-ascending order + strictly-greater replacement = lowest
    // cell_id wins csim ties (the row_number (csim DESC, cell_id ASC)
    // contract the DuckDB oracle mirrors).
    val cents = centroids.sortBy(_._1)
    val assigned = corpus
      .select(col(idCol).cast("long").as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("cell_id", ivfAssignUdf(cents)(col("cv")))
    probeAssignedCells(assigned, queries, idCol, vecCol, k, nProbe, cents)
  }

  /** Probe + exact-cosine rerank over an ALREADY-ASSIGNED
    * (cell_id, neighbor_id, cv) frame — the shared back half of
    * [[ivfWithCentroids]], also serving indexes whose assignment was
    * materialized elsewhere (the stream-built IVF state).
    */
  private[graft] def probeAssignedCells(assigned: DataFrame,
                                        queries: DataFrame, idCol: String,
                                        vecCol: String, k: Int, nProbe: Int,
                                        centroids: Array[(Long, Array[Double])]): DataFrame = {
    val cents = centroids.sortBy(_._1)
    val probes = queries
      .select(col(idCol).cast("long").as("query_id"), col(vecCol).as("qv"))
      .withColumn("cell_id", explode(ivfProbeUdf(cents, nProbe)(col("qv"))))
    val topk = udaf(new TopK.TopKAggregator(k))
    broadcast(probes).join(assigned, Seq("cell_id"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", Portable.round(cosineNative(col("qv"), col("cv")), 4))
      .groupBy(col("query_id"))
      .agg(topk(col("neighbor_id"), col("score")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        col("col.score").as("score"), (col("pos") + 1).cast("int").as("rank"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * near-duplicate pairs via k-means clustering + intra-cluster exact
    * cosine. The quadratic all-pairs cost is confined to each cluster:
    * at 100 TB, nClusters scales with corpus size so cluster populations
    * stay bounded, and the only corpus-wide operations are the
    * (broadcast-centroid) assignment projection and one shuffle on
    * `cluster_id` for the self-join.
    *
    * Approximate by construction: a pair straddling a cluster boundary
    * is missed (the paper accepts this; recall is property-gated by
    * q78's planted-pair fixture). All emitted pairs are exact-verified.
    */
  def semanticNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                           minCosine: Double, nClusters: Int = 16,
                           iters: Int = 4,
                           maxClusterSize: Int = Int.MaxValue): DataFrame = {
    val cents = kmeansCentroids(corpus, idCol, vecCol, nClusters, iters)
      .sortBy(_._1)
    val assignUdf = udf { (vs: Seq[Float]) =>
      val v = toFA(vs)
      var bestCell = Long.MinValue; var bestSim = Double.NegativeInfinity
      var i = 0
      while (i < cents.length) {
        val s = round6(cosFD(v, cents(i)._2))
        if (s > bestSim) { bestSim = s; bestCell = cents(i)._1 }
        i += 1
      }
      bestCell
    }
    val assigned = corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("cv"))
      .withColumn("cluster_id", assignUdf(col("cv")))
      .localCheckpoint() // k-means already scanned the corpus; assign once
    // Degenerate-cluster guard (mirrors lshNearDupPairs.maxBucketSize).
    val sized =
      if (maxClusterSize == Int.MaxValue) assigned
      else assigned.join(
        assigned.groupBy("cluster_id").agg(count(lit(1)).as("_n"))
          .where(col("_n") <= maxClusterSize).select("cluster_id"),
        Seq("cluster_id"), "left_semi")
    val a = sized.select(col("cluster_id"), col("id").as("id_a"), col("cv").as("cv_a"))
    val b = sized.select(col("cluster_id"), col("id").as("id_b"), col("cv").as("cv_b"))
    a.join(b, Seq("cluster_id"))
      .where(col("id_a") < col("id_b"))
      .withColumn("cosine", Portable.round(cosineNative(col("cv_a"), col("cv_b")), 4))
      .where(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  // -------------------------------------------------------------- //
  // Product quantization (Jégou et al. 2011): codebooks + ADC top-k //
  // -------------------------------------------------------------- //

  /** L2-normalized copy of a float vector as doubles (zero vectors map
    * to all-zero) — the shared "cosine space" prep of every PQ path.
    */
  private def normalized(raw: Array[Float]): Array[Double] = {
    var nn = 0.0
    raw.foreach(x => nn += x.toDouble * x.toDouble)
    val inv = if (nn == 0.0) 0.0 else 1.0 / math.sqrt(nn)
    val out = new Array[Double](raw.length)
    var i = 0
    while (i < raw.length) { out(i) = raw(i).toDouble * inv; i += 1 }
    out
  }

  /** Index of the nearest centroid by (round6) cosine — the single
    * assignment rule shared by IVF assignment, residual training, and
    * residual encoding, so a vector's serving-time cell always equals
    * its encoding-time cell (cents sorted by cell id; lowest id wins
    * ties, the row_number (csim DESC, cell_id ASC) oracle contract).
    */
  private def assignIndex(v: Array[Float], cents: Array[(Long, Array[Double])]): Int = {
    var bi = 0; var bs = Double.NegativeInfinity
    var i = 0
    while (i < cents.length) {
      val s = round6(cosFD(v, cents(i)._2))
      if (s > bs) { bs = s; bi = i }
      i += 1
    }
    bi
  }

  /** Per-cell residual of the normalized vector (Jégou et al. 2011
    * §IV.A: r(x) = x − q_c(x)): what IVFADC's product quantizer codes.
    */
  private def residualOf(raw: Array[Float],
                         cents: Array[(Long, Array[Double])]): Array[Double] = {
    val x = normalized(raw)
    val c = cents(assignIndex(raw, cents))._2
    val n = math.min(x.length, c.length)
    var i = 0
    while (i < n) { x(i) -= c(i); i += 1 }
    x
  }

  /** Per-subspace L2 k-means codebooks over L2-NORMALIZED vectors:
    * `m` subspaces of dim/m dims, `ks` centroids each. Same Spark shape
    * as [[kmeansCentroids]] (broadcast-centroid assignment, one
    * mapPartitions stats pass per iteration, driver reduces m×ks×subdim
    * doubles) but L2 distance on subvectors — the PQ objective. Init is
    * deterministic (subvectors of the first `ks` vectors by id).
    */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                  m: Int, ks: Int, iters: Int = 4): Array[Array[Array[Double]]] =
    trainPqBooks(corpus, idCol, vecCol, m, ks, iters, normalized)

  /** Residual codebooks for IVFADC: trained on per-cell residuals of
    * the normalized corpus, so `ks` entries per subspace spend their
    * resolution on the (much smaller) residual cloud instead of the
    * whole sphere — the recall gap between raw-vector and residual
    * coding in Jégou et al. 2011 §IV.A.
    */
  private def residualPqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                                  m: Int, ks: Int, iters: Int,
                                  cents: Array[(Long, Array[Double])]): Array[Array[Array[Double]]] =
    trainPqBooks(corpus, idCol, vecCol, m, ks, iters, residualOf(_, cents))

  /** Shared PQ trainer over `prep`-transformed vectors (normalized raw
    * vectors, or per-cell residuals).
    */
  private def trainPqBooks(corpus: DataFrame, idCol: String, vecCol: String,
                           m: Int, ks: Int, iters: Int,
                           prep: Array[Float] => Array[Double]): Array[Array[Array[Double]]] = {
    import corpus.sparkSession.implicits._
    // Same reuse shape as [[kmeansCentroids]]: `iters` passes over the
    // training vectors — persist for the loop, release after.
    val base = corpus.select(col(vecCol)).as[Array[Float]]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try trainPqBooksLoop(base, corpus, idCol, vecCol, m, ks, iters, prep)
    finally { base.unpersist(false); () }
  }

  private def trainPqBooksLoop(base: org.apache.spark.sql.Dataset[Array[Float]],
                               corpus: DataFrame, idCol: String, vecCol: String,
                               m: Int, ks: Int, iters: Int,
                               prep: Array[Float] => Array[Double]): Array[Array[Array[Double]]] = {
    import corpus.sparkSession.implicits._
    // books(s)(c)(j): init from the first ks corpus vectors by id
    // (prep-transformed); deterministic like sampleCentroids.
    val init = corpus.orderBy(col(idCol).asc).limit(ks).select(col(vecCol))
      .collect().map(r => prep(r.getSeq[Float](0).toArray))
    if (init.isEmpty) return Array.fill(m)(Array.empty[Array[Double]])
    val dim = init.head.length
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val sub = dim / m
    val books = Array.tabulate(m, ks)((s, c) =>
      init(c % init.length).slice(s * sub, (s + 1) * sub))
    var it = 0
    while (it < iters) {
      val cur = books.map(_.map(_.clone()))
      val stats = base.mapPartitions { rows =>
        val sums = Array.ofDim[Double](m * ks, sub)
        val counts = new Array[Long](m * ks)
        rows.foreach { raw =>
          val x = prep(raw)
          var s = 0
          while (s < m) {
            var bi = 0; var bd = Double.MaxValue
            var c = 0
            while (c < ks) {
              var d2 = 0.0
              var j = 0
              while (j < sub) {
                val t = x(s * sub + j) - cur(s)(c)(j)
                d2 += t * t
                j += 1
              }
              if (d2 < bd) { bd = d2; bi = c }
              c += 1
            }
            counts(s * ks + bi) += 1
            var j = 0
            while (j < sub) {
              sums(s * ks + bi)(j) += x(s * sub + j)
              j += 1
            }
            s += 1
          }
        }
        Iterator.single((sums.flatten, counts))
      }.collect()
      val totSums = Array.ofDim[Double](m * ks, sub)
      val totCounts = new Array[Long](m * ks)
      stats.foreach { case (flat, cnts) =>
        var c = 0
        while (c < m * ks) {
          totCounts(c) += cnts(c)
          var j = 0
          while (j < sub) { totSums(c)(j) += flat(c * sub + j); j += 1 }
          c += 1
        }
      }
      var s = 0
      while (s < m) {
        var c = 0
        while (c < ks) {
          if (totCounts(s * ks + c) > 0) {
            var j = 0
            while (j < sub) {
              books(s)(c)(j) = totSums(s * ks + c)(j) / totCounts(s * ks + c)
              j += 1
            }
          } // empty cells keep their previous centroid
          c += 1
        }
        s += 1
      }
      it += 1
    }
    books
  }

  /** PQ-ADC approximate top-k by cosine: encode the (normalized) corpus
    * as `m` one-byte codes, score query→vector as the sum of per-
    * subspace dot products looked up in the query's precomputed table
    * (asymmetric distance computation), take the ADC top `rerank`
    * candidates through the bounded heap, then exact-cosine rerank to
    * the final k — the standard IVF-PQ serving shape.
    *
    * Scale posture: codes are a write-once materialization 4 bytes wide
    * (dim×4 → m bytes, a 64× IO cut at m=4/dim=64); the scoring pass is
    * a broadcast-queries × codes narrow scan whose shuffle carries ≤
    * rerank rows per (map partition, query); the rerank join fetches
    * only candidate vectors.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, m: Int = 8, ks: Int = 256,
             iters: Int = 4, rerank: Int = -1): DataFrame = {
    // rerank ≤ 0 → derive from the corpus: the candidate set must GROW
    // with what the ADC pass scans (here: everything) or recall decays
    // as the corpus outgrows a fixed width — the round-5 finding.
    val effRerank = derivedRerank(rerank, k, corpus.count() * RerankFraction)
    val books = pqCodebooks(corpus, idCol, vecCol, m, ks, iters)
    // Queries are broadcast-small by construction (as in bruteForceTopK):
    // collect them once, precompute every query's LUT, and ship the LUT
    // table to executors in the scoring UDF's closure. The candidate
    // frame then carries only (query_id, neighbor_id, m bytes of code) —
    // NOT a per-row m×ks-double LUT (an earlier revision joined the LUT
    // through the candidate expansion and deserialized 64 boxed doubles
    // per scored row: ~10× slower at identical results).
    val luts = pqQueryLuts(queries, idCol, vecCol, books, m, ks)
    val qIdsLit = array(luts.keys.toSeq.sorted.map(lit(_)): _*)
    val codes = corpus
      .select(col(idCol).cast("long").as("neighbor_id"),
        pqEncodeUdf(books, m, ks)(col(vecCol)).as("code"))
    val heap = udaf(new TopK.TopKAggregator(effRerank))
    val cand = codes
      .withColumn("query_id", explode(qIdsLit))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", pqAdcUdf(luts, m, ks)(col("query_id"), col("code")))
      .groupBy(col("query_id"))
      .agg(heap(col("neighbor_id"), col("adc")).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("c"))
      .select(col("query_id"), col("c.id").as("neighbor_id"))
    exactRerank(cand, corpus, queries, idCol, vecCol, k)
  }

  /** IVFADC (Jégou, Douze, Schmid, PAMI 2011 — "Product Quantization
    * for Nearest Neighbor Search" §IV): the IVF coarse quantizer IN
    * FRONT of PQ-ADC scoring, so each query's ADC pass scans only its
    * `nProbe` probed cells (~nProbe/nCells of the corpus) instead of
    * every code row — the composition [[ivfWithCentroids]] and
    * [[pqTopK]] provide separately, and the 100 TB serving shape: the
    * exhaustive-ADC cost of plain [[pqTopK]] is the scale wall round 4
    * flagged.
    *
    * Codes quantize PER-CELL RESIDUALS (§IV.A: r(x) = x̂ − c), so the
    * `ks` entries per subspace resolve the residual cloud instead of
    * the whole sphere. In dot form the decomposition keeps the LUT
    * centroid-independent anyway: q̂·x̂ = q̂·c + q̂·r, so each probe
    * carries one scalar `qc = q̂·c` and ONE m×ks residual LUT per query
    * serves every probed cell. (`residual = false` falls back to
    * raw-vector coding for comparison.)
    *
    * `rerank ≤ 0` derives the candidate width from the corpus —
    * `max(4k, RerankFraction × nProbe × |corpus| / nCells)` — so recall
    * holds as the corpus grows instead of silently decaying past a
    * fixed width (the round-5 finding: a fixed rerank is a recall cliff
    * at 100× scale).
    *
    * Plan shape: one write-once (cell_id, code) materialization pass
    * over the corpus (broadcast centroids + codebooks, no shuffle);
    * per query a broadcast probe join on `cell_id`, the in-cell ADC
    * bounded heap (shuffle ≤ rerank rows per map partition per query),
    * then exact rerank fetching only candidate vectors.
    *
    * Recall ceiling note: exact rerank makes recall equal the ROUTING
    * recall — the fraction of true neighbors living in probed cells —
    * times the ADC heap's hit rate. On weakly clustered corpora route
    * quality, not code quality, binds; size `nProbe` accordingly (q83
    * gates the composition at nProbe/nCells = 1/2 on the near-random
    * fixture).
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, nCells: Int = 16, nProbe: Int = 4,
                m: Int = 8, ks: Int = 256, iters: Int = 4,
                rerank: Int = -1, sampleMod: Int = 1,
                residual: Boolean = true,
                targetCorpusSize: Long = 0): DataFrame = {
    val (cellsLit, probeLit) = resolveIvfParams(targetCorpusSize, nCells, nProbe)
    ivfPqTopKResolved(corpus, queries, idCol, vecCol, k, cellsLit, probeLit,
      m, ks, iters, rerank, sampleMod, residual)
  }

  private def ivfPqTopKResolved(corpus: DataFrame, queries: DataFrame,
                                idCol: String, vecCol: String, k: Int,
                                nCells: Int, nProbe: Int, m: Int, ks: Int,
                                iters: Int, rerank: Int, sampleMod: Int,
                                residual: Boolean): DataFrame = {
    val effRerank = derivedRerank(rerank, k,
      nProbe.toDouble * corpus.count() / nCells * RerankFraction)
    // sampleMod trains the coarse quantizer on an id-sampled subset —
    // at 100 TB you always train on a sample and assign the full corpus
    val cents = kmeansCentroids(corpus, idCol, vecCol, nCells, iters,
      sampleMod).sortBy(_._1)
    val books =
      if (residual) residualPqCodebooks(corpus, idCol, vecCol, m, ks, iters, cents)
      else pqCodebooks(corpus, idCol, vecCol, m, ks, iters)
    val luts = pqQueryLuts(queries, idCol, vecCol, books, m, ks)
    val heap = udaf(new TopK.TopKAggregator(effRerank))
    val cand =
      if (residual) {
        val codes = corpus.select(
          col(idCol).cast("long").as("neighbor_id"),
          ivfPqEncodeUdf(cents, books, m, ks)(col(vecCol)).as("cc"))
          .select(col("neighbor_id"), col("cc._1").as("cell_id"),
            col("cc._2").as("code"))
        val probes = queries
          .select(col(idCol).cast("long").as("query_id"), col(vecCol).as("qv"))
          .withColumn("p", explode(ivfProbeQcUdf(cents, nProbe)(col("qv"))))
          .select(col("query_id"), col("p._1").as("cell_id"), col("p._2").as("qc"))
        broadcast(probes).join(codes, Seq("cell_id"))
          .where(col("query_id") =!= col("neighbor_id"))
          .withColumn("adc",
            pqAdcQcUdf(luts, m, ks)(col("query_id"), col("code"), col("qc")))
      } else {
        val codes = corpus.select(
          col(idCol).cast("long").as("neighbor_id"),
          ivfAssignUdf(cents)(col(vecCol)).as("cell_id"),
          pqEncodeUdf(books, m, ks)(col(vecCol)).as("code"))
        val probes = queries
          .select(col(idCol).cast("long").as("query_id"), col(vecCol).as("qv"))
          .withColumn("cell_id", explode(ivfProbeUdf(cents, nProbe)(col("qv"))))
          .select("query_id", "cell_id")
        broadcast(probes).join(codes, Seq("cell_id"))
          .where(col("query_id") =!= col("neighbor_id"))
          .withColumn("adc", pqAdcUdf(luts, m, ks)(col("query_id"), col("code")))
      }
    val picked = cand
      .groupBy(col("query_id"))
      .agg(heap(col("neighbor_id"), col("adc")).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("c"))
      .select(col("query_id"), col("c.id").as("neighbor_id"))
    exactRerank(picked, corpus, queries, idCol, vecCol, k)
  }

  /** Residual codebooks for a FROZEN quantizer — the stream-built
    * IVFADC index trains these once on its first batch (alongside the
    * coarse centroids) and encodes every later batch under them, the
    * centroid-freezing convention extended to the fine quantizer.
    */
  private[graft] def residualBooks(corpus: DataFrame, idCol: String,
                                   vecCol: String, m: Int, ks: Int,
                                   iters: Int,
                                   cents: Array[(Long, Array[Double])]): Array[Array[Array[Double]]] =
    residualPqCodebooks(corpus, idCol, vecCol, m, ks, iters, cents)

  /** m codebook indexes packed as m BYTES (requires ks ≤ 256) — the
    * on-disk form of streamed IVFADC state, so state bytes/vector is
    * m + 8 (code + id) instead of dim × 4 raw floats.
    */
  private def codeToBytesUdf: UserDefinedFunction =
    udf { (xs: Seq[Int]) => xs.map(_.toByte).toArray }

  /** Residual ADC over the byte-packed code form ([[codeToBytesUdf]]). */
  private def pqAdcQcBytesUdf(luts: Map[Long, Array[Double]],
                              m: Int, ks: Int): UserDefinedFunction =
    udf { (qid: Long, code: Array[Byte], qc: Double) =>
      val lut = luts(qid)
      var t = qc
      var s = 0
      while (s < m) { t += lut(s * ks + (code(s) & 0xFF)); s += 1 }
      round6(t)
    }

  /** Encode (id, vec) rows as IVFADC state rows `(cell_id, id, code)`
    * with the code byte-packed — one broadcast-quantizer projection, no
    * shuffle; the write-side half of the streamed PQ index.
    */
  private[graft] def encodeIvfPq(df: DataFrame, idCol: String, vecCol: String,
                                 cents: Array[(Long, Array[Double])],
                                 books: Array[Array[Array[Double]]],
                                 m: Int, ks: Int): DataFrame = {
    require(ks <= 256, s"byte-packed codes require ks <= 256, got $ks")
    df.select(col(idCol).cast("long").as("id"),
        ivfPqEncodeUdf(cents.sortBy(_._1), books, m, ks)(col(vecCol)).as("cc"))
      .select(col("cc._1").as("cell_id"), col("id"),
        codeToBytesUdf(col("cc._2")).as("code"))
  }

  /** Probe + residual-ADC + exact rerank over an ALREADY-ENCODED
    * `(cell_id, id, code)` frame — the [[ivfPqTopK]] serving shape with
    * the encode pass materialized elsewhere (the stream-built PQ
    * state). `corpus` supplies the raw vectors the exact rerank
    * re-reads by candidate id — the state itself never stores them.
    * `rerank ≤ 0` derives the width from the rows the ADC pass
    * actually scans (the probed cells), so recall holds as the state
    * accumulates instead of decaying past a fixed literal.
    */
  private[graft] def probeEncodedCells(codes: DataFrame, queries: DataFrame,
                                       corpus: DataFrame, idCol: String,
                                       vecCol: String, k: Int, nProbe: Int,
                                       cents: Array[(Long, Array[Double])],
                                       books: Array[Array[Array[Double]]],
                                       m: Int, ks: Int,
                                       rerank: Int = -1): DataFrame = {
    val sorted = cents.sortBy(_._1)
    // the derived width scales with the rows ONE query's probes scan —
    // nProbe cells of the average population — not with the pruned
    // state's total: `codes` is pruned to the UNION of all queries'
    // probes, which approaches the whole corpus as the query batch
    // grows, and a width ∝ total state made the per-query exact rerank
    // Θ(N) regardless of how finely the cells were sharded
    val effRerank = derivedRerank(rerank, k, {
      val stats = codes.agg(count(lit(1)), countDistinct(col("cell_id"))).head()
      val (rows, cells) = (stats.getLong(0), math.max(1L, stats.getLong(1)))
      nProbe.toDouble * rows / cells * RerankFraction
    })
    val luts = pqQueryLuts(queries, idCol, vecCol, books, m, ks)
    val heap = udaf(new TopK.TopKAggregator(effRerank))
    val probes = queries
      .select(col(idCol).cast("long").as("query_id"), col(vecCol).as("qv"))
      .withColumn("p", explode(ivfProbeQcUdf(sorted, nProbe)(col("qv"))))
      .select(col("query_id"), col("p._1").as("cell_id"), col("p._2").as("qc"))
    val cand = broadcast(probes)
      .join(codes.select(col("cell_id"), col("id").as("neighbor_id"),
        col("code")), Seq("cell_id"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc",
        pqAdcQcBytesUdf(luts, m, ks)(col("query_id"), col("code"), col("qc")))
      .groupBy(col("query_id"))
      .agg(heap(col("neighbor_id"), col("adc")).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("c"))
      .select(col("query_id"), col("c.id").as("neighbor_id"))
    exactRerank(cand, corpus, queries, idCol, vecCol, k)
  }

  /** Fraction of the ADC-scanned candidate set kept for exact rerank
    * when `rerank` is derived (≤ 0): width grows with the corpus so the
    * recall the gates measure holds under scale-up instead of decaying
    * past a fixed literal.
    */
  private val RerankFraction = 0.1

  /** The derived width is CLAMPED at 2^20 candidates per query — past
    * that the per-query heap itself becomes the memory problem (a
    * naive `.toInt` would silently saturate at Int.MaxValue around a
    * 21-billion-row scan and unbound the heap entirely). Hitting the
    * clamp means the scanned-per-query set is ≥10M rows: the right
    * lever is more cells / fewer probes, not a wider rerank, so the
    * clamp is the signal, not a silent recall cliff.
    */
  private val MaxDerivedRerank = 1 << 20

  private lazy val logger = org.slf4j.LoggerFactory.getLogger("graft.llm.Similarity")

  // `scaled` is by-name: when an explicit rerank is passed, the derived
  // width (whose computation costs a corpus.count() Spark job at the
  // call sites) must never be evaluated — and when it IS needed, it is
  // bound exactly once below (each reference would re-run the count).
  private def derivedRerank(rerank: Int, k: Int, scaled: => Double): Int = {
    if (rerank > 0) return rerank
    val width = math.ceil(scaled).toLong
    if (width > MaxDerivedRerank)
      logger.warn(
        s"derived ANN rerank width $width clamped to " +
          s"$MaxDerivedRerank candidates/query — recall may degrade; raise " +
          "nCells (or lower nProbe) so each probe scans fewer rows")
    math.max(4L * k, math.min(width, MaxDerivedRerank.toLong)).toInt
  }

  /** Nearest-centroid assignment (sorted cents; lowest cell_id wins
    * ties — the row_number (csim DESC, cell_id ASC) oracle contract).
    */
  private[graft] def ivfAssignUdf(cents: Array[(Long, Array[Double])]): UserDefinedFunction =
    udf { (vs: Seq[Float]) =>
      val v = toFA(vs)
      var bestCell = Long.MinValue; var bestSim = Double.NegativeInfinity
      var i = 0
      while (i < cents.length) {
        val s = round6(cosFD(v, cents(i)._2))
        if (s > bestSim) { bestSim = s; bestCell = cents(i)._1 }
        i += 1
      }
      bestCell
    }

  /** The best (max) cosine to any centroid — the per-vector
    * quantization-quality signal the streamed index's drift trigger
    * folds into a batch mean (a vector the quantizer fits routes at
    * cos ≈ 1; a drifted one is far from every centroid).
    */
  private[graft] def ivfBestCosUdf(cents: Array[(Long, Array[Double])]): UserDefinedFunction =
    udf { (vs: Seq[Float]) =>
      val v = toFA(vs)
      var bestSim = Double.NegativeInfinity
      var i = 0
      while (i < cents.length) {
        val s = round6(cosFD(v, cents(i)._2))
        if (s > bestSim) bestSim = s
        i += 1
      }
      bestSim
    }

  /** The nProbe closest cells for a query vector. */
  private[graft] def ivfProbeUdf(cents: Array[(Long, Array[Double])],
                          nProbe: Int): UserDefinedFunction =
    udf { (vs: Seq[Float]) =>
      val v = toFA(vs)
      cents.map { case (cid, cv) => (round6(cosFD(v, cv)), cid) }
        .sortBy { case (s, cid) => (-s, cid) }
        .take(nProbe).map(_._2).toSeq
    }

  /** The nProbe closest cells PLUS the query-to-centroid dot term
    * `qc = q̂·c` each probe contributes to the residual decomposition
    * q̂·x̂ = q̂·c + q̂·r — the per-(query, cell) scalar that makes ONE
    * residual LUT serve every probed cell.
    */
  private def ivfProbeQcUdf(cents: Array[(Long, Array[Double])],
                            nProbe: Int): UserDefinedFunction =
    udf { (vs: Seq[Float]) =>
      val v = toFA(vs)
      val q = normalized(v)
      cents.map { case (cid, cv) =>
        var d = 0.0
        val n = math.min(q.length, cv.length)
        var i = 0
        while (i < n) { d += q(i) * cv(i); i += 1 }
        (round6(cosFD(v, cv)), cid, d)
      }.sortBy { case (s, cid, _) => (-s, cid) }
        .take(nProbe).map(t => (t._2, t._3)).toSeq
    }

  private def pqSubDim(books: Array[Array[Array[Double]]]): Int =
    books.headOption.flatMap(_.headOption).map(_.length).getOrElse(0)

  /** Nearest codebook entry per subspace of an (already prepped)
    * vector — m small integers.
    */
  private def encodeVec(x: Array[Double], books: Array[Array[Array[Double]]],
                        m: Int, ks: Int, sub: Int): Array[Int] =
    Array.tabulate(m) { s =>
      var bi = 0; var bd = Double.MaxValue
      var c = 0
      while (c < ks) {
        var d2 = 0.0
        var j = 0
        while (j < sub) {
          val t = x(s * sub + j) - books(s)(c)(j)
          d2 += t * t
          j += 1
        }
        if (d2 < bd) { bd = d2; bi = c }
        c += 1
      }
      bi
    }

  /** PQ encoder: nearest codebook entry per subspace of the normalized
    * vector — m small integers per row.
    */
  private def pqEncodeUdf(books: Array[Array[Array[Double]]],
                          m: Int, ks: Int): UserDefinedFunction = {
    val sub = pqSubDim(books)
    udf { (raw: Seq[Float]) => encodeVec(normalized(toFA(raw)), books, m, ks, sub) }
  }

  /** IVFADC encoder: one pass assigning the vector's coarse cell AND
    * product-quantizing its per-cell residual — the same `assignIndex`
    * the probe side uses, so encode-time and serve-time cells agree.
    */
  private def ivfPqEncodeUdf(cents: Array[(Long, Array[Double])],
                             books: Array[Array[Array[Double]]],
                             m: Int, ks: Int): UserDefinedFunction = {
    val sub = pqSubDim(books)
    udf { (raws: Seq[Float]) =>
      val raw = toFA(raws)
      val ci = assignIndex(raw, cents)
      val x = normalized(raw)
      val c = cents(ci)._2
      val n = math.min(x.length, c.length)
      var i = 0
      while (i < n) { x(i) -= c(i); i += 1 }
      (cents(ci)._1, encodeVec(x, books, m, ks, sub))
    }
  }

  /** Query LUTs, one per collected query:
    * lut(s*ks + c) = dot(normalized q's subspace s, books(s)(c)).
    */
  private def pqQueryLuts(queries: DataFrame, idCol: String, vecCol: String,
                          books: Array[Array[Array[Double]]],
                          m: Int, ks: Int): Map[Long, Array[Double]] = {
    val sub = pqSubDim(books)
    def lutOf(raw: Array[Float]): Array[Double] = {
      var nn = 0.0
      raw.foreach(x => nn += x.toDouble * x.toDouble)
      val inv = if (nn == 0.0) 0.0 else 1.0 / math.sqrt(nn)
      val lut = new Array[Double](m * ks)
      var s = 0
      while (s < m) {
        var c = 0
        while (c < ks) {
          var d = 0.0
          var j = 0
          while (j < sub) { d += raw(s * sub + j).toDouble * inv * books(s)(c)(j); j += 1 }
          lut(s * ks + c) = d
          c += 1
        }
        s += 1
      }
      lut
    }
    queries.select(col(idCol).cast("long"), col(vecCol)).collect()
      .map(r => r.getLong(0) -> lutOf(r.getSeq[Float](1).toArray)).toMap
  }

  /** ADC score: m LUT lookups per (query, code) row. */
  private def pqAdcUdf(luts: Map[Long, Array[Double]],
                       m: Int, ks: Int): UserDefinedFunction =
    udf { (qid: Long, code: Seq[Int]) =>
      val lut = luts(qid)
      var t = 0.0
      var s = 0
      while (s < m) { t += lut(s * ks + code(s)); s += 1 }
      round6(t)
    }

  /** Residual ADC score: the probed cell's `qc` term plus m residual-LUT
    * lookups — q̂·x̂ ≈ q̂·c + Σ lut[code] (Jégou 2011 §IV.A in dot form).
    */
  private def pqAdcQcUdf(luts: Map[Long, Array[Double]],
                         m: Int, ks: Int): UserDefinedFunction =
    udf { (qid: Long, code: Seq[Int], qc: Double) =>
      val lut = luts(qid)
      var t = qc
      var s = 0
      while (s < m) { t += lut(s * ks + code(s)); s += 1 }
      round6(t)
    }

  /** Exact-cosine rerank of an ANN candidate set down to the final k —
    * joins fetch only candidate vectors; queries stay broadcast.
    */
  private def exactRerank(cand: DataFrame, corpus: DataFrame,
                          queries: DataFrame, idCol: String, vecCol: String,
                          k: Int): DataFrame = {
    val qv = broadcast(queries.select(col(idCol).cast("long").as("query_id"), col(vecCol).as("qv")))
    val cv = corpus.select(col(idCol).cast("long").as("neighbor_id"), col(vecCol).as("cv"))
    val topk = udaf(new TopK.TopKAggregator(k))
    // cand is ≤ queries × rerank rows by construction — broadcast it into
    // the corpus-side vector fetch instead of sort-merge-shuffling the
    // corpus (the aggregation upstream hides its size from static
    // planning, so the hint is load-bearing at scale).
    broadcast(cand.join(qv, Seq("query_id"))).join(cv, Seq("neighbor_id"))
      .withColumn("score", Portable.round(cosineNative(col("qv"), col("cv")), 4))
      .groupBy(col("query_id"))
      .agg(topk(col("neighbor_id"), col("score")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        col("col.score").as("score"), (col("pos") + 1).cast("int").as("rank"))
  }

  /** Symmetric int8 quantization of an embedding column — the standard
    * 4× memory/IO cut for ANN serving (scale = max|x|/127 per vector;
    * q_i = round-half-away(x_i/scale) ∈ [−127,127]).
    *
    * Emitted as per-vector scale + reconstruction-error stats so the
    * lossy step is *measured*, not assumed. Every expression is a
    * sequential in-array-order fold (`transform`/`aggregate`), so the
    * doubles accumulate in one deterministic order — the whole frame is
    * engine-portable and oracle-checkable bit-for-bit. Zero vectors
    * quantize to all-zero with scale 0. One narrow pass, no shuffle.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = transform(col(vecCol), x => x.cast("double"))
    df.select(col(idCol), v.as("_v"))
      .withColumn("_scale",
        array_max(transform(col("_v"), x => abs(x))) / 127.0)
      .withColumn("_q", transform(col("_v"), x =>
        when(col("_scale") === 0.0, lit(0.0)).otherwise(
          signum(x) * floor(abs(x) / col("_scale") + 0.5))))
      .withColumn("_err",
        zip_with(col("_q"), col("_v"), (q, x) => abs(q * col("_scale") - x)))
      .select(
        col(idCol),
        size(col("_v")).as("dim"),
        Portable.round(col("_scale"), 6).as("scale"),
        Portable.round(array_max(col("_err")), 6).as("max_abs_err"),
        Portable.round(
          aggregate(col("_err"), lit(0.0), (a, e) => a + e) /
            size(col("_v")).cast("double"), 6).as("mean_abs_err"))
  }

  /** Per-vector norm/statistics frame (sanity + quality gates). */
  def embeddingStats(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(
      col(idCol),
      size(col(vecCol)).as("dim"),
      Portable.round(l2norm(col(vecCol)), 4).as("l2_norm"),
      Portable.round(aggregate(col(vecCol), lit(0.0), (a, x) => a + x.cast("double")) /
        size(col(vecCol)).cast("double"), 6).as("mean_component"))

  /** Greedy k-center diversity sampling (Gonzalez's farthest-first
    * traversal, the classic 2-approximation): select `k` vectors
    * covering the embedding space — each round picks the vector
    * FARTHEST (squared euclidean) from every center chosen so far.
    * The diversity-subset primitive of embedding-space curation:
    * exemplar selection, coreset seeding, "don't train on 10k copies
    * of the same cluster".
    *
    * Distributed shape — k rounds, each one map + one all-reduce over
    * the corpus: the running min-distance column folds in ONE
    * broadcast center (O(corpus · dim) map work, no shuffle), and the
    * next center is a single `max(struct(min_d, -id, vec))` aggregate
    * — no sort, no top-N, no candidate collect; the driver ever holds
    * k rows. State is the corpus-sized (id, vec, min_d) frame,
    * checkpointed every `checkpointEvery` rounds to bound lineage.
    * At 100 TB, cost = k corpus scans of a 3-column frame — the
    * textbook distributed farthest-first, and k is small by intent.
    *
    * Deterministic cross-engine: seed = lowest id, argmax ties break
    * to the lowest id, distances accumulate in double in index order —
    * the DuckDB recursive-CTE oracle (q9K) replays the whole greedy
    * trajectory bit-for-bit.
    *
    * Returns `(sel_rank, vec_id, min_dist)` — rank 1..k in selection
    * order, `min_dist` the (rounded) squared distance to the prior
    * centers at selection time (0 for the seed; monotonically
    * non-increasing — the k-center radius curve).
    */
  def kCenterSample(df: DataFrame, idCol: String, vecCol: String, k: Int,
                    checkpointEvery: Int = 4): DataFrame = {
    require(k >= 1, "k must be positive")
    require(checkpointEvery >= 1, "checkpointEvery must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("vec"))
    val seed = base.orderBy(col("id")).limit(1)
      .as[(Long, Array[Float])].collect()
    require(seed.nonEmpty, "kCenterSample needs a non-empty input")
    var lastVec: Array[Float] = seed(0)._2
    var selectedIds = List(seed(0)._1)
    val out = scala.collection.mutable.ListBuffer((1L, seed(0)._1, 0.0))
    var cur = base.withColumn("min_d", lit(Double.MaxValue))
    var r = 2
    var exhausted = false
    while (r <= k && !exhausted) {
      val cv = lastVec
      val distToCenter = udf { (v: Seq[Float]) =>
        var s = 0.0; var i = 0
        while (i < cv.length) {
          val d = v(i).toDouble - cv(i).toDouble; s += d * d; i += 1
        }
        s
      }
      cur = cur.withColumn("min_d", least(col("min_d"), distToCenter(col("vec"))))
      if ((r - 2) % checkpointEvery == checkpointEvery - 1)
        cur = cur.localCheckpoint()
      val next = cur.where(!col("id").isin(selectedIds: _*))
        .select(max(struct(col("min_d"), (-col("id")).as("nid"), col("vec"))).as("m"))
        .where(col("m").isNotNull)
        .select(col("m.min_d"), col("m.nid"), col("m.vec"))
        .as[(Double, Long, Array[Float])].collect()
      if (next.isEmpty) exhausted = true // k exceeds the corpus
      else {
        val (d, nid, v) = next(0)
        out += ((r.toLong, -nid, d))
        selectedIds = -nid :: selectedIds
        lastVec = v
        r += 1
      }
    }
    out.toSeq.toDF("sel_rank", "vec_id", "_d")
      .select(col("sel_rank"), col("vec_id"),
        Portable.round(col("_d"), 4).as("min_dist"))
  }
}
