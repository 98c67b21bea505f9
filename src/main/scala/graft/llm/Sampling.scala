package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic dataset curation: train/val/test splitting, stratified
  * sampling, and greedy sequence packing (SURVEY.md §2.4 extensions).
  *
  * Splits and samples are HASH-derived, not RNG-derived: membership is a
  * pure function of (id, salt), so results are reproducible across
  * runs, partitionings, and engines (the md5-based [[TextStats
  * .portableHash]] has an exact DuckDB mirror — q67 oracle-checks the
  * split). Changing the salt re-draws every assignment; appending new
  * rows never reassigns existing ones — the properties a curation
  * pipeline needs when the corpus grows between snapshots.
  */
object Sampling {

  /** The 60-bit engine-portable hash of (id, salt) every sampling op
    * derives its draws from: md5 of `"<id>|<salt>"`.
    */
  private def saltedHash(id: Column, salt: String): Column =
    TextStats.portableHash(concat(id.cast("string"), lit("|" + salt)))

  /** Hash of (id, salt) mapped to [0, 10000) — 4 decimal digits of
    * assignment resolution, engine-portable.
    */
  def unitHash(id: Column, salt: String): Column =
    saltedHash(id, salt) % 10000L

  /** Deterministic split assignment: adds a `split` column, e.g.
    * `hashSplit(df, "doc_id", Seq("train" -> 0.8, "val" -> 0.1,
    * "test" -> 0.1))`. Weights are normalized; boundaries resolve at
    * 1/10000 granularity. Pure projection — no shuffle, no RNG.
    */
  def hashSplit(df: DataFrame, idCol: String,
                weights: Seq[(String, Double)],
                salt: String = "split"): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      "weights must be positive")
    val total = weights.map(_._2).sum
    val bounds = weights.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }
      .tail.map(b => math.round(b * 10000).toInt)
    val h = unitHash(col(idCol), salt)
    val expr = weights.init.zip(bounds.init)
      .foldRight(lit(weights.last._1): Column) { case (((name, _), b), els) =>
        when(h < b, name).otherwise(els)
      }
    df.withColumn("split", expr)
  }

  /** Leakage-free train/val/test split: near-duplicate documents must
    * land on the SAME side of a split, or the held-out set leaks
    * training text and eval scores inflate. Resolves MinHash-LSH
    * near-dup clusters ([[Dedup.minhashNearDupPairs]] →
    * [[Dedup.connectedComponents]]), keys every document by its
    * cluster representative (the component's min id; unclustered docs
    * key by their own id, exposed as `split_key`), and assigns the
    * split by [[hashSplit]] on that key — one draw per CLUSTER, so
    * membership stays a pure function of (corpus, salt).
    *
    * Scale shape: everything corpus-sized is the dedup family's
    * banded-LSH + O(log d) component resolution (never all-pairs);
    * the split itself adds one left join against the component table
    * (clustered ids only — AQE broadcasts it when near-dups are rare)
    * and a hash projection.
    *
    * Banding operating point: the defaults (k=32, bands=8) miss a
    * J = 0.8 near-dup pair ~1% of the time (the LSH s-curve —
    * [[Dedup.minhashNearDupPairs]]'s tuning note), which HERE means
    * quiet eval-into-train leakage at the margin. Corpora with short
    * documents or mid-document edits should pass `bands = 16`
    * (rows = 2, miss ≈ 1e-7 at J = 0.8). At that operating point a
    * round-8 soak measured 0 of 5,000 planted mid-edit short-doc
    * families straddling a split on a 500k-doc corpus (BASELINE.md);
    * LlmOpsSpec's "banding operating point" case asserts the pairs it
    * depends on at spec scale.
    */
  def leakageFreeSplit(df: DataFrame, idCol: String, textCol: String,
                       weights: Seq[(String, Double)],
                       salt: String = "split", shingleN: Int = 3,
                       k: Int = 32, bands: Int = 8,
                       threshold: Double = 0.5): DataFrame = {
    val pairs = Dedup.minhashNearDupPairs(df, idCol, textCol, shingleN,
      k, bands, threshold)
    val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("id", "_cid")
    // a null / non-castable id would silently hash to the LAST split
    // (null unit hash fails every boundary test) — fail loudly instead
    val idKey = when(col(idCol).cast("long").isNotNull, col(idCol).cast("long"))
      .otherwise(raise_error(concat(
        lit(s"leakageFreeSplit: $idCol value '"),
        coalesce(col(idCol).cast("string"), lit("null")),
        lit("' is null or not castable to long"))).cast("long"))
    // merge hint: both sides can be checkpoint-backed (the CC labels
    // always are; callers may checkpoint the corpus), and checkpoint
    // stats can misread as broadcastable — a static broadcast of the
    // text-laden corpus is the q8J soak failure class. AQE still
    // upgrades to a broadcast at runtime from REAL sizes when the
    // component table is genuinely small.
    val keyed = df
      .join(comp.hint("merge"), col(idCol).cast("long") === col("_cid"), "left")
      .withColumn("split_key", coalesce(col("component"), idKey))
      .drop("_cid", "component")
    hashSplit(keyed, "split_key", weights, salt)
  }

  /** Deterministic stratified sampling: keep a row iff its unit hash
    * falls under its stratum's rate (strata with no configured rate use
    * `defaultRate`). One broadcast-map lookup + projection — the 100 TB
    * shape for "keep 10% of English, 100% of everything rare".
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       rates: Map[String, Double], defaultRate: Double = 1.0,
                       salt: String = "sample"): DataFrame = {
    require((rates.values.toSeq :+ defaultRate).forall(r => r >= 0 && r <= 1),
      "rates must be in [0, 1]")
    val h = unitHash(col(idCol), salt)
    val rateExpr = rates.foldLeft(lit(defaultRate)) { case (els, (k, r)) =>
      when(col(strataCol) === k, r).otherwise(els)
    }
    df.where(h < rateExpr * 10000.0)
  }

  /** Temperature-based mixture rebalancing (the multilingual-corpus
    * `p^α` rule of mT5/XLM-R): source `k` with corpus share `p_k` is
    * downsampled at rate `(p_min / p_k)^(1-α)`, so the sampled corpus
    * follows the flattened distribution `∝ p_k^α` — `α = 1` keeps
    * everything, `α = 0` equalizes source sizes, values between trade
    * head-source dominance against tail-source starvation. Downsample-
    * only by construction (the smallest source keeps rate 1), and the
    * draw is the [[unitHash]] of (id, salt) — a pure function of the
    * row, reproducible across runs, partitionings, and engines.
    *
    * The rate is rounded to 4 decimals BEFORE the keep test (the q8L
    * convention): `pow` is transcendental, and an unrounded rate would
    * put a possible 1-ulp cross-engine difference in the selection
    * boundary.
    *
    * Scale shape: one count aggregation (sources rows) + a broadcast
    * join of the rate table — no shuffle of the corpus itself. Adds
    * `keep_rate`. NULL-keyed rows have no stratum share and are
    * DROPPED by the rate join — coalesce the key to a sentinel first
    * if they should participate.
    */
  def temperatureSample(df: DataFrame, idCol: String, keyCol: String,
                        alpha: Double, salt: String = "temp"): DataFrame = {
    require(alpha >= 0 && alpha <= 1, "alpha must be in [0, 1]")
    val counts = df.groupBy(col(keyCol))
      .agg(count(lit(1)).cast("double").as("_nk"))
    val minN = counts.agg(min(col("_nk")).as("_nmin"))
    val rates = counts.crossJoin(broadcast(minN))
      .select(col(keyCol),
        graft.Portable.round(
          pow(col("_nmin") / col("_nk"), lit(1.0 - alpha)), 4).as("keep_rate"))
    df.join(broadcast(rates), Seq(keyCol))
      .where(unitHash(col(idCol), salt) < col("keep_rate") * 10000.0)
  }

  /** Deterministic weighted sampling without replacement: keep the `k`
    * rows with the smallest race priority
    * `hash(id|salt) % 1e9 / weight` (ties broken by id). Higher weight
    * → stochastically smaller priority → more likely kept, and the
    * priorities are independent across rows, so this is a weighted
    * order-statistic sample that is a pure function of (id, salt) —
    * reproducible across runs, partitionings, and engines.
    *
    * The race key is deliberately NOT the classic Gumbel /
    * Efraimidis–Spirakis `u^(1/w)`: that puts a transcendental (`ln`)
    * in the SELECTION boundary, where a 1-ulp libm difference between
    * engines can flip a near-tie at rank k. Here the key is one
    * IEEE-754 double division of a 9-digit integer hash by the weight
    * — correctly rounded identically everywhere, so the selected SET
    * is exact cross-engine, not just probable. Rows with
    * non-positive weight are excluded.
    *
    * Scale shape: `orderBy(priority).limit(k)` plans as
    * TakeOrderedAndProject — a bounded heap per partition plus a
    * driver merge of k rows; no global sort, no corpus shuffle.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String, k: Int,
                     salt: String = "wsample"): DataFrame = {
    require(k > 0, "k must be positive")
    val h = saltedHash(col(idCol), salt) % 1000000000L
    df.where(col(weightCol) > 0)
      .withColumn("priority", h.cast("double") / col(weightCol).cast("double"))
      .orderBy(col("priority"), col(idCol))
      .limit(k)
  }

  /** Per-stratum quantile gate: keep rows whose `valueCol` reaches
    * their stratum's exact interpolated `p`-quantile — "keep each
    * language's longest decile" and friends. Two passes, no window:
    * one exact-percentile aggregation (strata-count rows) broadcast
    * back over the corpus as a hash join + filter.
    *
    * The gate compares against the quantile ROUNDED to 4 decimals
    * (emitted as `q_threshold`): the raw interpolation `lower + frac ×
    * (upper − lower)` is engine-order-sensitive in its last ulp, and a
    * keep/drop boundary must not hinge on an ulp — rounding pins the
    * cut identically everywhere (the [[graft.Portable.round]]
    * contract).
    *
    * Scale note: exact `percentile` builds a value→count map per
    * stratum — right for bounded-cardinality metrics (lengths, token
    * counts, scores at fixed precision), but a wall when a 100 TB
    * stratum carries unbounded-cardinality values (raw scores, unique
    * lengths): the per-group map grows with DISTINCT values. For that
    * regime pass `exact = false`: the threshold comes from
    * `percentile_approx` (Greenwald–Khanna sketch, memory
    * O(accuracy · log n) per stratum regardless of cardinality), whose
    * returned value is an ACTUAL element of the stratum with rank
    * within `n / approxAccuracy` of `⌈p·n⌉` — i.e. the kept fraction
    * deviates from `1 − p` by at most `1/approxAccuracy` (plus ties).
    * The exact form stays the default because its output is
    * oracle-gated; both paths round the threshold to 4 decimals so a
    * keep/drop never hinges on an ulp.
    */
  def quantileFilter(df: DataFrame, strataCol: String, valueCol: String,
                     p: Double, exact: Boolean = true,
                     approxAccuracy: Int = 10000): DataFrame = {
    require(p > 0 && p < 1, "p must be in (0, 1)")
    require(approxAccuracy > 0, "approxAccuracy must be positive")
    val q =
      if (exact) percentile(col(valueCol), lit(p))
      else percentile_approx(col(valueCol), lit(p), lit(approxAccuracy))
    val thr = df.groupBy(col(strataCol))
      .agg(graft.Portable.round(q, 4).as("q_threshold"))
    df.join(broadcast(thr), Seq(strataCol))
      .where(col(valueCol) >= col("q_threshold"))
  }

  /** Exact per-key running totals WITHOUT `Window.partitionBy(key)` —
    * which funnels every row of a key through ONE task and is the skew
    * wall when one source holds most of a 100 TB corpus. The classic
    * distributed prefix-sum instead: range-partition + sort by
    * (key, order…) so a key spans CONSECUTIVE partitions, collect
    * per-(partition, key) partial sums (tiny: partitions × keys rows),
    * turn them into exclusive prefix offsets on the driver, and add a
    * local running sum in one `mapPartitions` pass. Bit-identical to
    * the window formulation for any partitioning (spec-gated), with
    * parallelism = shuffle partitions instead of = distinct keys.
    * The arranged frame is materialized once: range boundaries are
    * sample-derived, and the partials pass and the value pass must see
    * the SAME layout. Default is `localCheckpoint` (executor-local
    * blocks — fast, but lost with an executor AND lineage-truncated,
    * so an executor loss between the two passes fails the job);
    * `reliable = true` (requires `sparkContext.setCheckpointDir`)
    * checkpoints to fault-tolerant storage instead — pay the extra
    * write on a real cluster, skip it in local mode.
    *
    * Driver-side cardinality contract: the offsets pass collects
    * nPartitions × nKeys partial sums and ships them in a task
    * closure. That is the DESIGN (keys here are sources/domains/
    * strata — dozens, not millions); the guard below fails loudly if a
    * caller feeds a high-cardinality key instead of silently melting
    * the driver.
    *
    * `valueCol` must be non-null (token counts / literals here).
    */
  private[graft] val MaxPrefixSumPartials: Long = 1000000L

  private[graft] def keyedPrefixSum(df: DataFrame, keyCol: String,
                                  orderCols: Seq[String], valueCol: String,
                                  outCol: String,
                                  reliable: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    require(!reliable || df.sparkSession.sparkContext.getCheckpointDir.nonEmpty,
      "reliable = true needs a reliable checkpoint dir: call " +
        "spark.sparkContext.setCheckpointDir(<fault-tolerant path>) first")
    val sortCols = (keyCol +: orderCols).map(col)
    val arrangedPlan = df
      .repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("_pid", spark_partition_id())
    val arranged =
      if (reliable) arrangedPlan.checkpoint() else arrangedPlan.localCheckpoint()
    // guard BEFORE the collect it protects: persist the (legitimately
    // tiny) aggregate so the distributed count and the collect pay the
    // aggregation pass once, and a high-cardinality key fails loudly
    // here instead of OOMing the driver mid-collect
    val partialsDf = arranged
      .groupBy(col("_pid"), col(keyCol))
      .agg(sum(col(valueCol).cast("long")).as("_s"))
      .persist()
    val partials =
      try {
        val nPartials = partialsDf.count()
        require(nPartials <= MaxPrefixSumPartials,
          s"keyedPrefixSum would collect $nPartials (partition, key) " +
            s"partials (> $MaxPrefixSumPartials): '$keyCol' is too high-" +
            "cardinality for the driver-side offset table — this path is " +
            "designed for source/domain-scale keys; use a window or reduce " +
            "the key space")
        partialsDf.collect().map(r => ((r.getInt(0), r.get(1)), r.getLong(2)))
      } finally { partialsDf.unpersist(blocking = false); () }
    val offsets: Map[(Int, Any), Long] = partials
      .groupBy(_._1._2)
      .iterator.flatMap { case (k, seq) =>
        var acc = 0L
        seq.sortBy(_._1._1).map { case ((pid, _), s) =>
          val e = ((pid, k), acc); acc += s; e
        }
      }.toMap
    val pidIdx = arranged.schema.fieldIndex("_pid")
    val keyIdx = arranged.schema.fieldIndex(keyCol)
    val valIdx = arranged.schema.fieldIndex(valueCol)
    val keep = arranged.schema.fields.zipWithIndex
      .filterNot(_._1.name == "_pid").map(_._2).toSeq
    val outSchema = StructType(
      arranged.schema.fields.filterNot(_.name == "_pid").toSeq :+
        StructField(outCol, LongType, nullable = false))
    arranged.mapPartitions { it =>
      val running = scala.collection.mutable.HashMap[Any, Long]()
      it.map { r =>
        val k = r.get(keyIdx)
        val cur = running.getOrElse(k,
          offsets.getOrElse((r.getInt(pidIdx), k), 0L))
        val nv = cur + r.getAs[Number](valIdx).longValue()
        running(k) = nv
        org.apache.spark.sql.Row.fromSeq(keep.map(r.get) :+ nv)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Deterministic per-stratum cap: keep at most `maxPerKey` rows per
    * value of `keyCol`, chosen by hash order (then id as tiebreak) —
    * "at most N documents per domain/source", the over-represented-
    * source guard of web-corpus curation. Hash order makes the kept set
    * a pure function of (id, salt): reproducible across runs, engines
    * (oracle-mirrored), and input partitionings, and changing the cap
    * only grows/shrinks the kept set monotonically.
    *
    * `distributed = true` computes the rank as the [[keyedPrefixSum]]
    * of ones — no per-key single-reducer window, so one stratum holding
    * most of a 100 TB corpus spreads across the full shuffle width.
    * Identical results either way (spec-gated differential); the switch
    * is explicit because size estimation on derived frames is
    * unreliable (an auto-probe via `.rdd` materializes AQE stages, and
    * checkpointed inputs report unknown stats). Default = window: 3
    * fewer jobs, right for node-scale strata.
    */
  def capPerKey(df: DataFrame, idCol: String, keyCol: String, maxPerKey: Int,
                salt: String = "cap", distributed: Boolean = false,
                reliableCheckpoint: Boolean = false): DataFrame = {
    require(maxPerKey > 0, "maxPerKey must be positive")
    if (!distributed) {
      val w = Window.partitionBy(col(keyCol))
        .orderBy(unitHash(col(idCol), salt), col(idCol))
      df.withColumn("_rn", row_number().over(w))
        .where(col("_rn") <= maxPerKey)
        .drop("_rn")
    } else
      keyedPrefixSum(
        df.withColumn("_h", unitHash(col(idCol), salt)).withColumn("_one", lit(1L)),
        keyCol, Seq("_h", idCol), "_one", "_rn", reliable = reliableCheckpoint)
        .where(col("_rn") <= maxPerKey)
        .drop("_h", "_one", "_rn")
  }

  /** Deterministic training-mixture construction: each key (source /
    * domain) gets a sampling weight `w >= 0`; `w <= 1` downsamples (keep
    * the hash-chosen `w` share), `w > 1` upsamples by repetition —
    * `floor(w)` full copies of every row plus one more copy for the
    * hash-chosen `frac(w)` share. Emits an `epoch` column (0-based copy
    * ordinal), so downstream shuffling/packing can treat repeats as
    * distinct examples. Keys without a configured weight use
    * `defaultWeight`.
    *
    * Deterministic (pure function of id + salt) and shuffle-free: a
    * weight-lookup CASE chain plus a `sequence`/`explode` projection —
    * the 100 TB shape for "2.5 epochs of books, 0.4 of web".
    */
  def mixture(df: DataFrame, idCol: String, keyCol: String,
              weights: Map[String, Double], defaultWeight: Double = 1.0,
              salt: String = "mix"): DataFrame = {
    require((weights.values.toSeq :+ defaultWeight).forall(_ >= 0),
      "weights must be >= 0")
    val w = weights.foldLeft(lit(defaultWeight)) { case (els, (k, v)) =>
      when(col(keyCol) === k, v).otherwise(els)
    }
    val h = unitHash(col(idCol), salt)
    // frac(w)*10000 evaluates identically in any IEEE-double engine, so
    // the fractional-copy draw is oracle-mirrorable bit-for-bit.
    val copies = floor(w).cast("int") +
      when(h < (w - floor(w)) * 10000.0, 1).otherwise(0)
    df.withColumn("_copies", copies)
      .where(col("_copies") > 0)
      .withColumn("epoch", explode(sequence(lit(0), col("_copies") - 1)))
      .drop("_copies")
  }

  /** Deterministic per-key token budget: keep documents in hash order
    * (then id) within each key while the running token total stays
    * within the key's budget — a document is kept iff it fits entirely.
    * "Take ~1M tokens per domain", the mixture-target enforcement step
    * of corpus assembly. Adds a `cum_tokens` running total.
    *
    * `distributed = true` computes the running total as the
    * [[keyedPrefixSum]] — not a per-key window, so a dominant source
    * never serializes through one task. Identical results either way
    * (spec-gated); see [[capPerKey]] for why the switch is explicit.
    */
  def tokenBudget(df: DataFrame, idCol: String, keyCol: String,
                  nTokensCol: String, budgets: Map[String, Long],
                  defaultBudget: Long, salt: String = "budget",
                  distributed: Boolean = false,
                  reliableCheckpoint: Boolean = false): DataFrame = {
    require((budgets.values.toSeq :+ defaultBudget).forall(_ >= 0),
      "budgets must be >= 0")
    val b = budgets.foldLeft(lit(defaultBudget)) { case (els, (k, v)) =>
      when(col(keyCol) === k, v).otherwise(els)
    }
    val cum =
      if (!distributed) {
        val w = Window.partitionBy(col(keyCol))
          .orderBy(unitHash(col(idCol), salt), col(idCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        df.withColumn("cum_tokens", sum(col(nTokensCol).cast("long")).over(w))
      } else
        keyedPrefixSum(
          df.withColumn("_h", unitHash(col(idCol), salt)),
          keyCol, Seq("_h", idCol), nTokensCol, "cum_tokens",
          reliable = reliableCheckpoint)
          .drop("_h")
    cum.where(col("cum_tokens") <= b)
  }

  /** Deterministic token-balanced sharding — the OUTPUT stage of a
    * curation pipeline ("write the corpus as equal-token shards,
    * stably"): documents order by the (id, salt) unit hash (then id),
    * the running token total is the distributed [[keyedPrefixSum]]
    * under one global key — the 100%-hot-key shape `trainOrder`
    * already exercises, so the corpus-wide cumulative sum spreads
    * across the full shuffle width instead of one reducer — and
    * `shard = (cum − n_tokens) / targetTokens` (the shard the document
    * STARTS in). Every full shard's token sum lands within one
    * max-document of the target on either side (a straddling document
    * both extends its own shard and eats into the next's range);
    * assignment
    * is a pure function of (corpus, salt) — deterministic across runs
    * and layouts, though NOT append-stable (new documents reseat the
    * hash order; re-shard per corpus snapshot).
    *
    * Adds `cum_tokens` and `shard`.
    */
  def shardByTokens(df: DataFrame, idCol: String, nTokensCol: String,
                    targetTokens: Long, salt: String = "shard",
                    reliableCheckpoint: Boolean = false): DataFrame = {
    require(targetTokens > 0, "targetTokens must be positive")
    keyedPrefixSum(
      df.withColumn("_h", unitHash(col(idCol), salt))
        .withColumn("_k", lit(1)),
      "_k", Seq("_h", idCol), nTokensCol, "cum_tokens",
      reliable = reliableCheckpoint)
      .withColumn("shard",
        floor((col("cum_tokens") - col(nTokensCol).cast("long")) /
          lit(targetTokens.toDouble)).cast("long"))
      .drop("_h", "_k")
  }

  /** Greedy sequence packing: assign documents to fixed-token-budget
    * bins (pretraining batch construction). Deterministic and
    * partition-independent: docs are bucketed by `id % nBuckets`, each
    * bucket's docs are packed in id order, so the same input always
    * yields the same (bucket, bin_id) — no matter how the input was
    * partitioned. Oversized docs (> maxTokens) get a bin of their own
    * (the downstream truncates). Parallelism = nBuckets: each bucket
    * packs sequentially (packing is order-sensitive by nature), so at
    * scale you raise nBuckets, not bucket size.
    */
  def packGreedy(df: DataFrame, idCol: String, nTokensCol: String,
                 maxTokens: Int, nBuckets: Int = 64): DataFrame = {
    require(maxTokens > 0 && nBuckets > 0, "maxTokens and nBuckets must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(nTokensCol).cast("int").as("n_tokens"))
      .as[(Long, Int)]
      .groupByKey { case (id, _) => math.floorMod(id, nBuckets.toLong).toInt }
      .flatMapGroups { (bucket, it) =>
        val sorted = it.toSeq.sortBy(_._1)
        var bin = 0
        var used = 0
        sorted.iterator.map { case (id, n) =>
          val need = math.min(n, maxTokens)
          if (used > 0 && used + need > maxTokens) { bin += 1; used = 0 }
          used += need
          (id, n, bucket, bin)
        }
      }
      .toDF(idCol, nTokensCol, "bucket", "bin_id")
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw
    * document by how much more likely its hashed n-gram bag is under a
    * TARGET corpus' distribution than under the raw corpus' own.
    *
    *   weight(d) = Σ_b c_{d,b} · (ln p_b − ln q_b)
    *
    * where c_{d,b} counts the document's unigrams+bigrams hashed into
    * bucket b, and p/q are add-λ-smoothed bucket distributions fit on
    * the target/raw corpora. Selecting the top-weight documents is
    * importance resampling toward the target distribution — the
    * standard "make web data look like the curated corpus" step.
    *
    * Engine-portable and differentially testable: grams use the md5
    * [[TextStats.portableHash]], so the DuckDB oracle rebuilds identical
    * buckets, distributions, and weights (q8C).
    *
    * Scale posture: one explode/shuffle over grams per corpus for the
    * two B-bucket fits (map-side combined to ≤ B rows each, B default
    * 4096), one explode/shuffle over raw grams for the per-doc bags,
    * and a BROADCAST join of the B-row log-ratio table — no all-pairs,
    * no driver data-plane collect (the two grand totals are single-row
    * aggregates folded to literals, the q7F pattern). At 100 TB the
    * cost is the same one-pass gram shuffle every text op here pays.
    *
    * Plan note (measured r8, sf0.01): the STATIC plan shows 10
    * exchanges because the totals duplicate the fit subtrees, but the
    * FINAL adaptive plan has 7 real exchanges + 2 ReusedExchange —
    * AQE's stage cache reuses the (id, bucket) gram exchange and the
    * add-λ fit exchange for tTot/rTot at runtime, so the one-gram-pass
    * design holds as executed. Verified via `Explain q8C_dsir_weights
    * <sf> plan` (which runs the query to plan finality).
    *
    * @return (idCol, n_grams, weight) — weight rounded to 4 decimals
    *         for cross-engine float parity.
    */
  def dsirWeights(raw: DataFrame, target: DataFrame, idCol: String,
                  textCol: String, nBuckets: Int = 4096,
                  lambda: Double = 0.5): DataFrame = {
    require(nBuckets > 0 && lambda > 0, "nBuckets and lambda must be positive")
    val B = nBuckets.toLong
    def buckets(df: DataFrame): DataFrame = gramBuckets(df, idCol, textCol, B)
    // ONE gram pass over the raw corpus: the per-doc bags; the raw fit
    // is their bucket-wise sum (identical counts, and the (id, bucket)
    // exchange below it is reused by both consumers), and the two grand
    // totals stay IN the DAG as broadcast 1-row aggregates — no extra
    // actions, no re-explode per total.
    val bag = buckets(raw)
      .groupBy(col("_id"), col("_b")).agg(count(lit(1)).as("_c"))
    val rCnt = bag.groupBy(col("_b")).agg(sum(col("_c")).as("_rc"))
    val tCnt = buckets(target).groupBy(col("_b")).agg(count(lit(1)).as("_tc"))
    val tTot = tCnt.agg(sum(col("_tc")).cast("double").as("_tt"))
    val rTot = rCnt.agg(sum(col("_rc")).cast("double").as("_rt"))
    // B-row log-likelihood-ratio table: full outer so buckets seen in
    // only one corpus still contribute their smoothed mass
    val llr = tCnt.join(rCnt, Seq("_b"), "full_outer")
      .crossJoin(broadcast(tTot)).crossJoin(broadcast(rTot))
      .select(col("_b"),
        (log((coalesce(col("_tc"), lit(0L)) + lambda) / (col("_tt") + lambda * B)) -
          log((coalesce(col("_rc"), lit(0L)) + lambda) / (col("_rt") + lambda * B))).as("_llr"))
    bag
      .join(broadcast(llr), Seq("_b"))
      .groupBy(col("_id"))
      .agg(sum(col("_c")).as("n_grams"),
        graft.Portable.round(sum(col("_c") * col("_llr")), 4).as("weight"))
      .select(col("_id").as(idCol), col("n_grams"), col("weight"))
  }

  /** Hashed-ngram feature projection shared by [[dsirWeights]] and
    * [[Classifier.qualityClassifier]]: one (_id, _b) row per unigram
    * and bigram occurrence of the lowercased whitespace tokens, hashed
    * to [0, B) via the md5 [[TextStats.portableHash]] (so DuckDB
    * oracles rebuild identical buckets). Bigram text joins with a
    * space: words contain no whitespace post-split, so the encoding is
    * unambiguous.
    */
  private[llm] def gramBuckets(df: DataFrame, idCol: String,
                               textCol: String, nBuckets: Long): DataFrame = {
    val ws = TextStats.tokens(col(textCol))
    val grams = concat(
      ws,
      when(size(ws) >= 2,
        zip_with(slice(ws, lit(1), size(ws) - 1), slice(ws, lit(2), size(ws) - 1),
          (a, b) => concat(a, lit(" "), b)))
        .otherwise(array().cast("array<string>")))
    df.select(col(idCol).cast("long").as("_id"), explode(grams).as("_g"))
      .select(col("_id"),
        pmod(TextStats.portableHash(col("_g")), lit(nBuckets)).as("_b"))
  }

  /** DSIR selection: the `n` raw documents most target-like by
    * [[dsirWeights]], ties broken by id (deterministic).
    */
  def dsirSelect(raw: DataFrame, target: DataFrame, idCol: String,
                 textCol: String, n: Int, nBuckets: Int = 4096): DataFrame =
    dsirWeights(raw, target, idCol, textCol, nBuckets)
      .orderBy(col("weight").desc, col(idCol))
      .limit(n)

  /** Deterministic training-order stream: emit every (epoch, doc) pair
    * with a global 1-based position within its epoch, ordered by
    * md5(salt|epoch|id) — the "shuffle the corpus every epoch" step of
    * pretraining batch assembly, as a pure function of ids + salt. Each
    * epoch is an independent pseudo-random permutation (the epoch
    * ordinal is inside the hash), the whole stream is reproducible
    * across runs, partitionings, and engines, and appending documents
    * perturbs only where the new ids land, not the relative order of
    * existing ones.
    *
    * Positions come from [[keyedPrefixSum]] with the epoch as the key:
    * an epoch IS a 100%-hot key, so the obvious
    * `row_number over Window.partitionBy(epoch)` would funnel the
    * entire corpus through ONE task per epoch — the distributed prefix
    * sum keeps the rank computation at full shuffle width (the same
    * skew argument as [[capPerKey]]'s `distributed` path, except here
    * the skew is total, so there is no window variant at all).
    *
    * Columns other than `idCol` are dropped: the order stream is a
    * (position → id) mapping consumers join back to the corpus, so
    * document payloads never ride the rank shuffle.
    */
  def trainOrder(df: DataFrame, idCol: String, epochs: Int = 1,
                 salt: String = "order",
                 reliableCheckpoint: Boolean = false): DataFrame = {
    require(epochs >= 1, "epochs must be >= 1")
    val keyed = df.select(col(idCol))
      .withColumn("epoch", explode(sequence(lit(0), lit(epochs - 1))))
      .withColumn("_h", TextStats.portableHash(concat(
        lit(salt + "|"), col("epoch").cast("string"), lit("|"),
        col(idCol).cast("string"))))
      .withColumn("_one", lit(1L))
    keyedPrefixSum(keyed, "epoch", Seq("_h", idCol), "_one", "pos",
      reliable = reliableCheckpoint)
      .select(col(idCol), col("epoch"), col("pos"))
  }
}
