package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // child processes over the whole run, for the artifact only
    val starts = scala.util.Try(new ProcessStarts)
    val spark = GraftSession.builder(appName = "graft-bench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Deterministic name order: per-query timings stay comparable
    // round-over-round (Map order is hash-dependent), and JVM warmup is
    // absorbed by the cheap q01 instead of whichever query hashes first.
    // Optional comma-separated name filter for local iteration
    // (e.g. SPARK_GRAFT_ONLY=q40_store_upsert,q61_streaming_ingest).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    // Untimed warmup: one cheap end-to-end query so the first TIMED
    // entry measures the query, not JIT + codegen + session init.
    try SparkEntry.queries.get("q02_filter_case")
      .foreach { fn => fn(spark, sfDir).count(); () }
    catch { case _: Throwable => () }
    // Optional noise control: SPARK_GRAFT_BENCH_REPS=N times each query
    // N times and reports the MEDIAN — one GC pause or page-cache miss
    // stops reading as a 3-6x "regression" on a sub-second query.
    // Default 1 keeps the run inside the driver's time budget.
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(1)
    // STATEFUL BUILD queries: the timed body's operator IS an ingest /
    // upsert / index build into persistent state. A bare re-run would
    // measure the exactly-once replay no-op (q61 medians of 0.13 s vs a
    // 7.4 s first), so reps ≥ 2 run inside Queries.withFreshFixtures —
    // a throwaway fixture world whose state dirs are new, making the
    // MEDIAN measure the work. Read-only queries keep amortized
    // fixtures (their op is the read; rebuilding per rep would be the
    // opposite dishonesty).
    val statefulBuilds = Set(
      "q40_store_upsert", "q61_streaming_ingest", "q85_stream_asof",
      "q9B_stream_decontaminate", "q9C_stream_neardup", "q9E_stream_drift",
      "q9H_stream_quota", "q9M_stream_ivf_index", "q9O_stream_exact_dedup",
      "q9P_stream_hll_distinct", "q9W_neardup_reconcile",
      "q9X_drift_refresh", "q9Y_embed_dedup", "q9Z_pq_stream_index",
      "qA0_cross_store_tx", "qA1_vstore_merge_sql", "qA2_candle_merge_sql",
      "qAJ_sql_cross_store", "qAK_view_stream", "qAL_view_ddl_modes")
    // Opt-in SPARK_GRAFT_BENCH_GC=1: force a driver GC between queries
    // so the ContextCleaner reclaims earlier queries' dead checkpoint
    // blocks at a uniform point instead of whenever the heap fills.
    // MEASURED NON-DEFAULT: on this corpus the full GCs also flush
    // reusable broadcast/codegen state and cost +18% total (89→105 s),
    // so it stays off unless memory-pressure effects are under study.
    val gcBetween = sys.env.get("SPARK_GRAFT_BENCH_GC").contains("1")
    val results = selected.toSeq.sortBy(_._1).zipWithIndex.map { case ((name, fn), qi) =>
      // not before the FIRST query: that would flush the JIT/codegen
      // state the untimed warmup just built
      if (gcBetween && qi > 0) System.gc()
      // A failed query reports -1, never a plausible elapsed time — a
      // regression must look like one, not like a speedup.
      val times = (1 to reps).map { r =>
        val t0 = System.nanoTime()
        def once(): Double = { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
        try {
          if (r > 1 && statefulBuilds(name)) Queries.withFreshFixtures(once())
          else once()
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); -1.0
        }
      }
      // ANY failed rep poisons both protocols: a fixture that succeeds
      // cold but fails on re-run is a failure, and "first" must not
      // report it as a healthy elapsed time.
      val failed = times.contains(-1.0)
      val sec = if (failed) -1.0 else times.sorted.apply(reps / 2)
      // spread = max - min across reps: a single-shot spike (cold page
      // cache, GC pause) is self-refuting when its own spread row shows
      // the query's reps disagreeing by the same magnitude.
      val spread = if (failed) -1.0 else times.max - times.min
      (name, sec, if (failed) -1.0 else times.head, spread)
    }
    def short(v: Double): String = {
      // 3 decimals, trailing zeros trimmed ("0.180"->"0.18", "7.000"->"7.0")
      val t = f"$v%.3f".reverse.dropWhile(_ == '0').reverse
      if (t.endsWith(".")) t + "0" else t
    }
    def jmap(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // Persist the COMPLETE per-query map, at full precision, on full
    // runs: the stdout line carries no names. Default path is
    // NON-COLLIDING ("last", not a round number): a driver-invoked run
    // must never clobber a committed reps=3 artifact (that happened in
    // r18 AND r19). SPARK_GRAFT_BENCH_OUT overrides the path; committed
    // artifacts are copied there by hand.
    // Subset runs (SPARK_GRAFT_ONLY) write the artifact only when the
    // caller names a path: the locked-subset protocol needs the full-
    // precision first/spread series, while ad-hoc name-filtered runs
    // must not touch the default artifact.
    val outPath =
      if (only.isEmpty || sys.env.contains("SPARK_GRAFT_BENCH_OUT"))
        Some(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL_last.json"))
      else None
    val processStarts = starts.flatMap(r => scala.util.Try(r.stop().size)).toOption
    outPath.foreach { path =>
      // reps > 1: medians measure STEADY-STATE query cost (one-time
      // fixture builds — stores, streams, bucketed tables — amortize
      // into rep 1); "first" preserves the cold numbers a single-shot
      // run (the driver's) would report, so the two stay comparable.
      val firstField =
        if (reps > 1)
          s""","first":${jmap(results.map(r => (r._1, r._3)))}""" +
            s""","spread":${jmap(results.map(r => (r._1, r._4)))}"""
        else ""
      val full = s"""{"metric":"total","value":$total,"unit":"sec",""" +
        s""""queries":${jmap(results.map(r => (r._1, r._2)))},"sf":"$sfDir","reps":$reps$firstField""" +
        processStarts.fold("")(n => s""","process_starts":$n""") + "}"
      try {
        java.nio.file.Files.writeString(java.nio.file.Paths.get(path), full + "\n")
        System.err.println(s"[bench] full per-query artifact -> $path")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] artifact write failed: ${e.getMessage}")
      }
    }
    // The stdout line must fit the driver's finite tail capture: at 176
    // queries the names alone weigh 2,948 bytes, so it carries the
    // total, the query count, the times alone in sorted-name order
    // (3-decimal seconds, about 1.3 KB in all) and the path of the
    // artifact that names them. It goes LAST on stdout (after the
    // artifact-path stderr note) so the tail capture keeps all of it.
    val values = results.map(r => short(r._2)).mkString("[", ",", "]")
    val artifact = outPath.fold("null")(p => s"\"$p\"")
    println(s"""{"metric":"total","value":${short(total)},"unit":"sec",""" +
      s""""n_queries":${results.size},"values":$values,"artifact":$artifact,""" +
      s""""sf":"$sfDir","reps":$reps}""")
    spark.stop()
  }
}
